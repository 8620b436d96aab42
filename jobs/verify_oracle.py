"""Run the driver-style Spark-vs-DuckDB oracle comparison at an
arbitrary scale dir (tests/test_entry_contract.py is pinned to
sf0.01). Used in round 6 to prove result-identity of optimized plans
at the bench scales too (sf0.1, sf1.0) before committing a rewrite.

Usage: python jobs/verify_oracle.py [--sf DIR] [name ...]
Exit 0 = every checked query matches rows+schema+values.
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(df) -> list[tuple]:
    df = df[sorted(df.columns)]

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=repr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from zensearch_spark.caching import release
    from zensearch_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    spark = get_spark(app="zensearch-verify-extra")
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    names = args.names or sorted(qs)
    failed = []
    for name in names:
        if name not in oracles:
            print(f"[verify] {name}: no oracle — skipped", flush=True)
            continue
        df = qs[name](spark, args.sf)
        got = df.toPandas()
        release(df)
        want = con.execute(oracles[name]).fetchdf()
        ok = True
        if sorted(got.columns) != sorted(want.columns):
            ok = False
            print(f"[verify] {name}: SCHEMA mismatch "
                  f"{sorted(got.columns)} vs {sorted(want.columns)}", flush=True)
        elif len(got) != len(want):
            ok = False
            print(f"[verify] {name}: ROWS {len(got)} vs {len(want)}", flush=True)
        else:
            cg, cw = _canon(got), _canon(want)
            bad = [(a, b) for a, b in zip(cg, cw) if a != b]
            if bad:
                ok = False
                print(f"[verify] {name}: VALUE mismatch e.g. {bad[:3]}",
                      flush=True)
        if ok:
            print(f"[verify] {name}: OK ({len(got)} rows)", flush=True)
        else:
            failed.append(name)
    spark.stop()
    if failed:
        print(f"[verify] FAILED: {failed}", flush=True)
        return 1
    print("[verify] all checked queries match", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
