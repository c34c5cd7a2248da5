"""Replica of the external driver's correctness gate at sf0.01.

The driver samples the FIRST 50 entries of queries() and compares each
against its oracle_sql() in DuckDB at sf0.01 (row count, sorted column
names, order-insensitive values). tests/test_oracle_parity.py replays
the same contract at sf0.001; this script replays it at the driver's
actual scale for the sampled prefix, so a scale-dependent oracle bound
(unrolled rounds, crowd caps) surfaces HERE and not in
CORRECTNESS_r{N}.json.

Usage: python tools/driver_gate_replica.py [n_rows] [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


_NAN = object()


def _nan_key(v):
    """Compare values exactly, except that NaN equals NaN."""
    return _NAN if isinstance(v, float) and math.isnan(v) else v


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from ophois_spark.queries import ORACLES, QUERIES
    from ophois_spark.session import get_spark

    spark = get_spark("gate-replica", master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for i, name in enumerate(list(QUERIES)[:n], 1):
        try:
            got = normalize(QUERIES[name](spark, sf_dir).toPandas())
            want = normalize(con.sql(ORACLES[name]).df())
            assert list(got.columns) == list(want.columns), (
                f"columns {list(got.columns)} != {list(want.columns)}"
            )
            assert len(got) == len(want), f"rows {len(got)} != {len(want)}"
            for c in got.columns:
                a, b = got[c].tolist(), want[c].tolist()
                assert list(map(_nan_key, a)) == list(map(_nan_key, b)), (
                    f"column {c} differs: {a[:3]} vs {b[:3]}"
                )
            print(f"[{i:2d}/{n}] PASS {name} ({len(got)} rows)", flush=True)
        except Exception as exc:  # noqa: BLE001 - report-and-continue sweep
            failures.append((name, exc))
            print(f"[{i:2d}/{n}] FAIL {name}: {exc}", flush=True)
    spark.stop()
    print(f"\n{n - len(failures)}/{n} pass at {sf_dir}")
    for name, exc in failures:
        print(f"  FAIL {name}: {str(exc)[:200]}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
