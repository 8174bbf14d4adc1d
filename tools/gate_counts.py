#!/usr/bin/env python3
"""Regenerate gate-count claims from a correctness artifact, so README/
SURVEY numbers are derived, never hand-maintained (the r9 README drift —
"136 hash-matching" vs an artifact that said 135 + 1 err — is the bug this
tool exists to prevent).

Usage:
  python3 tools/gate_counts.py CORRECTNESS_r09.json       # driver artifact
  python3 tools/gate_counts.py --local /tmp/verify_out sf_dir
    # run the local compare (tools/compare_oracle.py output format) and
    # count from its stdout

Prints one summary line plus the non-green gate list.
"""
import json
import subprocess
import sys


def from_artifact(path):
    d = json.load(open(path))
    total = len(d)
    green = sum(1 for v in d.values() if v.get("hash_match"))
    rows_only = sorted(
        k for k, v in d.items()
        if v.get("rows_match") and v.get("schema_match")
        and not v.get("hash_match"))
    errored = sorted(k for k, v in d.items() if v.get("err"))
    failed = sorted(
        k for k, v in d.items()
        if not v.get("err") and not v.get("hash_match")
        and not (v.get("rows_match") and v.get("schema_match")))
    print(f"{total} driver-gated queries — {green} hash-matching, "
          f"{len(rows_only)} rows+schema-only, {len(errored)} errored, "
          f"{len(failed)} failed")
    if rows_only:
        print(f"  rows+schema-only: {', '.join(rows_only)}")
    if errored:
        print(f"  ERRORED: {', '.join(errored)}")
    if failed:
        print(f"  FAILED: {', '.join(failed)}")


def from_local(out_dir, sf_dir):
    res = subprocess.run(
        [sys.executable, "tools/compare_oracle.py", out_dir, sf_dir],
        capture_output=True, text=True)
    lines = res.stdout.splitlines()
    full = [l for l in lines if l.startswith("PASS")]
    rows_only = [l.split()[1] for l in lines if l.startswith("ROWS-ONLY")]
    fails = [l for l in lines if l.startswith("FAIL")]
    skips = [l for l in lines if l.startswith("SKIP")]
    total = len(full) + len(rows_only) + len(fails) + len(skips)
    print(f"{total} gates locally compared — {len(full)} hash-matching, "
          f"{len(rows_only)} rows+schema-only, {len(fails)} failed, "
          f"{len(skips)} no-oracle")
    if rows_only:
        print(f"  rows+schema-only: {', '.join(sorted(rows_only))}")
    for l in fails + skips:
        print(f"  {l}")


if __name__ == "__main__":
    if sys.argv[1] == "--local":
        from_local(sys.argv[2], sys.argv[3])
    else:
        from_artifact(sys.argv[1])
