#!/usr/bin/env python3
"""Generate docs/HTTP_OPTIONS.md — the HTTP connector option reference.

The reference ships exactly this table in its connector docs
(docs/content/docs/connectors/table/http.md); graft derives it from the
source of truth instead of hand-maintaining it:

  - option keys + doc comments from src/main/scala/graft/http/HttpOptions.scala
  - defaults from the option's consumption sites (o.str/int/bool/durationMs
    second argument) across src/main
  - the driver gates that exercise each option from the gate bodies in
    src/main/scala/graft/queries/HttpQueries.scala
  - the ScalaTest specs that mention each option across src/test

Re-run after adding options:

    python3 tools/http_options_doc.py > docs/HTTP_OPTIONS.md
"""
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
OPTIONS = REPO / "src/main/scala/graft/http/HttpOptions.scala"
MAIN = REPO / "src/main/scala"
TESTS = REPO / "src/test/scala"
GATES = REPO / "src/main/scala/graft/queries/HttpQueries.scala"


def parse_options():
    """(constName, key, docFirstSentence) in declaration order."""
    text = OPTIONS.read_text()
    out = []
    # \s+ tolerates the value wrapping to the next line (long option keys)
    for m in re.finditer(r"val ([A-Z]\w*) =\s+\"([^\"]+)\"", text):
        if "^" in m.group(2):  # regex constants (DurationRe), not options
            continue
        # scaladoc attaches only when it ends IMMEDIATELY above the val
        # (lookback, not a greedy cross-val span)
        doc = ""
        before = text[:m.start()].rstrip()
        if before.endswith("*/"):
            start = before.rfind("/**")
            if start != -1:
                doc = before[start + 3:-2]
                doc = re.sub(r"\n\s*\*", " ", doc)
                doc = re.sub(r"\[\[([^\]]+)\]\]", r"`\1`", doc)
                doc = re.sub(r"\s+", " ", doc).strip()
                # first sentence only (the table cell must stay one line)
                doc = re.split(r"(?<=[.!?]) (?=[A-Z`(])", doc, 1)[0].strip()
        out.append((m.group(1), m.group(2), doc))
    return out


def find_defaults(const, key):
    """Defaults passed at consumption sites of HttpOptions.<const> or the
    literal key; strOpt/required/withPrefix mean 'none/required/map'."""
    refs = [f"HttpOptions.{const}", f'"{key}"']
    defaults, kinds = [], set()
    for path in MAIN.rglob("*.scala"):
        text = path.read_text()
        for ref in refs:
            esc = re.escape(ref)
            for m in re.finditer(
                    r"\.(str|int|long|double|bool|durationMs)\(\s*" + esc +
                    r"\s*,\s*(?:default\s*=\s*)?([^()]*?)\)", text, re.S):
                d = re.sub(r"\s+", " ", m.group(2)).strip()
                # literals only — a computed default is a call-site detail,
                # not a documentable constant
                if not re.fullmatch(r'-?\d+L?|true|false|"[^"]*"', d):
                    continue
                d = d.rstrip("L").strip('"')
                if d and d not in defaults:
                    defaults.append(d)
            if re.search(r"\.strOpt\(\s*" + esc, text):
                kinds.add("(none)")
            if re.search(r"\.required\(\s*" + esc, text):
                kinds.add("required")
            if re.search(r"\.withPrefix\(\s*" + esc, text):
                kinds.add("prefix map")
    if defaults:
        return " / ".join(defaults)
    if "required" in kinds:
        return "*required*"
    if "prefix map" in kinds:
        return "*prefix map*"
    if "(none)" in kinds:
        return "(none)"
    return "—"


KEY_LITERAL = r'"((?:http\.|lookup|sink\.|url|format|insert-|asyncPolling)[^"]*)"'


def gate_map():
    """option key -> sorted gate names that set it in HttpQueries.scala,
    directly or through an object-level option helper the gate names
    (`lookupBase`, `cachedLookup`, ...), followed transitively."""
    text = GATES.read_text()
    blocks, helpers = {}, {}
    current = None
    for line in text.splitlines():
        m = re.match(r'\s*"([a-z0-9_]+)" -> \{', line)
        h = re.match(r'  (?:private(?:\[\w+\])? )?(?:lazy )?(?:val|def) (\w+)', line)
        if m:
            current = blocks.setdefault(m.group(1), [])
        elif h:
            current = helpers.setdefault(h.group(1), [])
        if current is not None:
            current.append(line)
    helpers = {name: "\n".join(lines) for name, lines in helpers.items()}

    def keys(body, seen):
        found = set(re.findall(KEY_LITERAL, body))
        for name, hbody in helpers.items():
            if name not in seen and re.search(r"\b" + name + r"\b", body):
                found |= keys(hbody, seen | {name})
        return found

    bykey = {}
    for gate, lines in blocks.items():
        for key in keys("\n".join(lines), frozenset()):
            bykey.setdefault(key, set()).add(gate)
    return bykey


def spec_map():
    """option key or const -> sorted spec class files that mention it."""
    out = {}
    for path in TESTS.rglob("*.scala"):
        text = path.read_text()
        out[path.stem] = text
    return out


def specs_for(specs, const, key):
    # generic short keys ("url", "format") would hit unrelated string
    # literals — only distinctive keys match by any literal, generic ones
    # only as an option pair's key (`"url" -> ...`)
    distinctive = "." in key or len(key) > 12
    option_pair = re.compile(re.escape(f'"{key}"') + r"\s*->")
    # prefix-map keys end with "." and appear in specs with a concrete
    # header name appended ("http.sink.header.Content-Type")
    literal = f'"{key}' if key.endswith(".") else f'"{key}"'
    # specs may exercise the option through the mechanism's named
    # parameter rather than the key (FoundationSpec's
    # `useRawAuthHeader = true`): match the const in lowerCamelCase, but
    # only as a named argument, so prose and calls such as
    # `.format("noop")` pin nothing
    camel = const[0].lower() + const[1:]
    named_arg = re.compile(r"\b" + re.escape(camel) + r"\s*=(?![=>])")
    hits = [
        name for name, text in specs.items()
        if (distinctive and literal in text)
        or option_pair.search(text)
        or (f"HttpOptions.{const}" in text)
        or named_arg.search(text)
    ]
    return sorted(hits)


def main():
    opts = parse_options()
    gates = gate_map()
    specs = spec_map()
    print("# graft HTTP connector options")
    print()
    print("<!-- GENERATED by tools/http_options_doc.py — do not edit by")
    print("     hand; re-run after adding options. -->")
    print()
    print("Every `Map[String, String]` option the HTTP lookup source, the")
    print("HTTP sink and the DSv2 tables accept — the graft analog of the")
    print("reference's connector option table (`docs/content/docs/")
    print("connectors/table/http.md`). **Default** comes from the option's")
    print("consumption site; **pinned by** lists the driver gates (hash-")
    print("checked against DuckDB every round) and ScalaTest specs that")
    print("exercise the option.")
    print()
    print("| Option | Default | Pinned by | Notes |")
    print("|---|---|---|---|")
    n_gated = 0
    for const, key, doc in opts:
        d = find_defaults(const, key)
        gset = set(gates.get(key, []))
        if key.endswith("."):  # prefix-map keys: any concrete header counts
            for k, v in gates.items():
                if k.startswith(key):
                    gset |= v
        gs = sorted(gset)
        ss = specs_for(specs, const, key)
        pinned = ", ".join([f"`{g}`" for g in gs] + ss) or "—"
        if gs:
            n_gated += 1
        note = doc if doc else ""
        print(f"| `{key}` | {d} | {pinned} | {note} |")
    print()
    print(f"{len(opts)} options; {n_gated} exercised directly by at least "
          "one driver gate (the rest are spec-verified or internal).")


if __name__ == "__main__":
    main()
