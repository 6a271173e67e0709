"""Local replica of the driver's DuckDB oracle gate.

Runs every ``queries()`` entry at sf0.01 and compares against
``oracle_sql()`` with DuckDB: row count, column names, and
order-insensitive value comparison (rows sorted by all columns as strings).
DuckDB runs capped at 6500MB and 2 threads (as tests/test_pagerank_oracle.py
does), so an oracle query that outgrows the cap fails that row instead of
pressuring the host; a DuckDB error on one row is reported as its FAIL and
the run goes on.  Exit code 1 on any failure.

Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from linkgraph.io import TESTDATA_TABLES  # noqa: E402
from linkgraph.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, rows sorted
    by the stringified tuple (mirrors the driver's sort-then-hash)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: "NULL" if pd.isna(v) else repr(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    con.execute("SET memory_limit='6500MB'")
    con.execute("SET threads=2")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        got = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(got)} rows")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except duckdb.Error as exc:
            n_fail += 1
            print(f"{name:24s} FAIL  DUCKDB {type(exc).__name__}: {exc}")
            continue
        status = []
        if len(got) != len(want):
            status.append(f"ROWS {len(got)} != {len(want)}")
        if sorted(got.columns) != sorted(want.columns):
            status.append(f"COLS {sorted(got.columns)} != {sorted(want.columns)}")
        if not status:
            a, b = canon(got), canon(want)
            if not a.equals(b):
                diff = (a != b).any(axis=1)
                status.append(f"VALUES differ in {int(diff.sum())}/{len(a)} rows")
                ex = diff.idxmax()
                status.append(f"  first diff row {ex}: spark={a.iloc[ex].to_dict()} duck={b.iloc[ex].to_dict()}")
        if status:
            n_fail += 1
            print(f"{name:24s} FAIL  " + " | ".join(status))
        else:
            print(f"{name:24s} OK    ({len(got)} rows)")
    spark.stop()
    print(f"\n{n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
