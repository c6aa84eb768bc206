"""Mimic the driver's correctness gate: run every queries() entry on Spark and
its oracle_sql() on DuckDB at the given sf dir; compare row count, column
names, and order-insensitive value multiset.

Usage: python scripts/gate_check.py [--extra] sf_dir [query_name ...]

--extra additionally runs the EXTRA registry (the oracle-checked entries past
the driver's 50-entry window, normally pytest-gated at sf0.001) against the
same DuckDB views — useful for checking them at a larger sf.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(tuple(round(v, 6) if isinstance(v, float) else v for v in tup))
    return sorted(rows, key=repr)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--extra", action="store_true", help="also run the EXTRA registry")
    p.add_argument("sf_dir", help="directory holding the <table>.parquet files")
    p.add_argument("query_name", nargs="*", help="run only these entries")
    args = p.parse_intermixed_args(argv)
    if not os.path.isdir(args.sf_dir):
        p.error(f"sf_dir {args.sf_dir!r} is not a directory")
    return args


def main() -> int:
    args = parse_args()
    sf_dir, with_extra, only = args.sf_dir, args.extra, set(args.query_name)

    import __spark_entry__ as entrymod
    from intuition_spark.session import get_spark

    spark = get_spark("gate-check")

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    if with_extra:
        from intuition_spark.driver_gate import EXTRA_ORACLE_SQL, EXTRA_QUERIES

        qs = {**qs, **EXTRA_QUERIES}
        oq = {**oq, **EXTRA_ORACLE_SQL}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        spark_s = time.time() - t0
        if name not in oq:
            print(f"OK?   {name}: rows={len(got)} (no oracle, rows-only) [{spark_s:.2f}s]")
            continue
        try:
            exp = con.execute(oq[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        ok_rows = len(got) == len(exp)
        ok_cols = sorted(got.columns) == sorted(exp.columns)
        ok_vals = ok_rows and ok_cols and normalize(got) == normalize(exp)
        if ok_vals:
            print(f"PASS  {name}: rows={len(got)} cols={sorted(got.columns)} [{spark_s:.2f}s]")
        else:
            failures += 1
            print(
                f"FAIL  {name}: rows {len(got)}/{len(exp)} cols {sorted(got.columns)}/{sorted(exp.columns)}"
            )
            if ok_rows and ok_cols:
                g, e = normalize(got), normalize(exp)
                diffs = [(a, b) for a, b in zip(g, e) if a != b][:5]
                for a, b in diffs:
                    print(f"      spark={a}\n      duck ={b}")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
