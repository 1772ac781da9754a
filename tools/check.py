#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--skip q_a,q_b]

Runs each oracle_sql.json query against DuckDB views over the sfDir
parquet tables and compares (column-name-sorted, row-sorted) values
against the parquet Verify dumped for that query. --skip names oracles
to SKIP (reported, not failed) — for large-SF runs where a quadratic
ground-truth oracle is prohibitive on the DuckDB side; each skip must
be justified wherever the run is recorded. A dumped <outdir>/<q>/
directory with no oracle_sql.json entry fails as "output without
oracle", so a missing learned oracle cannot pass unnoticed.
"""
import argparse
import duckdb
import glob
import json
import os
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    # argparse so --skip works at any position and an unrecognized flag is
    # an error, never a silently-ignored no-op
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sfdir")
    ap.add_argument("outdir")
    ap.add_argument("--skip", default="",
                    help="comma-separated oracle names to skip (reported, not failed)")
    args = ap.parse_args()
    sfdir, outdir = args.sfdir, args.outdir
    skip = set(n for n in args.skip.split(",") if n)
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    for tbl in TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{sfdir}/{tbl}.parquet'")
    fails = 0
    n_skipped = 0
    for name, sql in sorted(oracle.items()):
        if name in skip:
            print(f"SKIP {name}")
            n_skipped += 1
            continue
        t0 = time.time()
        try:
            exp = con.sql(sql).df()
            files = glob.glob(f"{outdir}/{name}/*.parquet")
            if not files:
                print(f"FAIL {name}: no spark output parquet")
                fails += 1
                continue
            got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
            exp = exp[sorted(exp.columns)]
            got = got[sorted(got.columns)]
            if list(exp.columns) != list(got.columns):
                print(f"FAIL {name}: cols {list(exp.columns)} vs {list(got.columns)}")
                fails += 1
                continue
            if exp.dtypes.tolist() != got.dtypes.tolist():
                print(f"WARN {name}: dtypes oracle={exp.dtypes.tolist()} spark={got.dtypes.tolist()}")
            e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
            g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
            if len(e) != len(g):
                print(f"FAIL {name}: rows oracle={len(e)} spark={len(g)}")
                fails += 1
                continue
            if not e.equals(g):
                neq = (e != g) & ~(e.isna() & g.isna())
                bad = neq.any(axis=1)
                print(f"FAIL {name}: {int(bad.sum())} mismatched rows of {len(e)}")
                print("  oracle:", e[bad].head(3).to_dict("records"))
                print("  spark :", g[bad].head(3).to_dict("records"))
                fails += 1
                continue
            print(f"OK   {name} ({len(e)} rows, {time.time() - t0:.1f}s)")
        except Exception as ex:
            print(f"ERR  {name}: {str(ex)[:300]}")
            fails += 1
    orphans = 0
    for d in sorted(glob.glob(f"{outdir}/*/")):
        name = os.path.basename(os.path.normpath(d))
        if name not in oracle:
            print(f"FAIL {name}: output without oracle")
            orphans += 1
    ran = len(oracle) - n_skipped
    skipnote = f", {n_skipped} skipped" if n_skipped else ""
    orphannote = f", {orphans} outputs without oracle" if orphans else ""
    print(f"== {ran - fails}/{ran} queries match{skipnote}{orphannote}")
    sys.exit(1 if fails or orphans else 0)


if __name__ == "__main__":
    main()
