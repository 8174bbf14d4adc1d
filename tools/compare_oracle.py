#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/compare_oracle.py <verify_out_dir> <sf_dir>

For each query dir under <verify_out_dir>: read the Spark parquet result,
run the oracle SQL (oracle_sql.json) in DuckDB against views over the
sf parquet tables, sort columns by name, and compare row multisets.
"""
import json
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Rows+schema gates: float-sum reassociation (k-means training, PCA
# eigenvectors) keeps values out of hash gating BY DESIGN; their oracles
# replay the pipeline shape (row count + columns) with placeholder values.
# They print ROWS-ONLY, not PASS, and count apart from the hash-exact
# passes so the summary matches the driver's hash-exact count; a matching
# shape still does not fail the run.
ROWS_ONLY = {"s_ivf_topk", "s_pca_ann"}


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(v)
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return sorted(out)


def main():
    out_dir, sf_dir = Path(sys.argv[1]), sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    n_pass = n_rows_only = n_fail = 0
    for name in sorted(p.name for p in out_dir.iterdir() if p.is_dir()):
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_rows, got_cols = got.fetchall(), [d[0] for d in got.description]
        except Exception as e:
            print(f"FAIL {name}: cannot read spark result: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows={len(got_rows)})")
            continue
        try:
            exp = con.sql(oracle[name])
            exp_rows, exp_cols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            n_fail += 1
            continue
        if name in ROWS_ONLY:
            if len(got_rows) == len(exp_rows):
                print(f"ROWS-ONLY {name} ({len(got_rows)} rows)")
                n_rows_only += 1
            else:
                print(f"FAIL {name}: rows spark={len(got_rows)} "
                      f"oracle={len(exp_rows)}")
                n_fail += 1
            continue
        g, e = canon(got_rows, got_cols), canon(exp_rows, exp_cols)
        if g == e:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            only_g = [x for x in g if x not in set(e)][:3]
            only_e = [x for x in e if x not in set(g)][:3]
            print(f"FAIL {name}: rows spark={len(g)} oracle={len(e)}")
            for x in only_g:
                print(f"  spark-only: {x[:200]}")
            for x in only_e:
                print(f"  oracle-only: {x[:200]}")
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
