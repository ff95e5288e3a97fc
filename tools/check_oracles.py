"""Local replica of the driver's correctness harness: run every
`queries()` entry on Spark and its `oracle_sql()` on DuckDB over the
same parquet, compare row count, column names, and order-insensitive
values. Usage: python tools/check_oracles.py [sf_dir] [query ...]

Every CTE is made MATERIALIZED before DuckDB runs the oracle: inlined,
the unrolled-round oracles grow exponentially with the round count
(`pagerank_warm_start` spent ~9 min in single-threaded planning on a
4-vCPU host). Results are the same; the `oracle_sql()` text is not
touched."""

from __future__ import annotations

import re
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from wedge_parallel_triangle_counting_spark.session import get_spark  # noqa: E402

# A CTE definition: `name AS (` or `name(cols) AS (`, right after
# WITH [RECURSIVE] or after the `),` that closes the previous CTE (so a
# named WINDOW clause is left alone).
_CTE = re.compile(
    r"(\bWITH(?:\s+RECURSIVE)?\s+|\)\s*,\s*)(\w+(?:\s*\([^()]*\))?)\s+AS\s*\(",
    re.IGNORECASE,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def materialize_ctes(sql: str) -> str:
    """`sql` with every CTE marked `AS MATERIALIZED (`."""
    return _CTE.sub(r"\1\2 AS MATERIALIZED (", sql)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        finally:
            # hygiene: operators release their own scratch caches
            # (finish_with_caches), but a leak — especially from a
            # FAILING query — would otherwise accumulate across the
            # rest of the run
            spark.catalog.clearCache()
        if name not in osql:
            print(f"SKIP  {name}: no oracle (rows={len(got)})")
            continue
        try:
            want = con.execute(materialize_ctes(osql[name])).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        if len(got) != len(want):
            failures.append((name, f"rows {len(got)} != {len(want)}"))
            print(f"FAIL  {name}: rows {len(got)} != {len(want)}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            failures.append((name, f"cols {sorted(got.columns)} != {sorted(want.columns)}"))
            print(f"FAIL  {name}: cols {sorted(got.columns)} != {sorted(want.columns)}")
            continue
        g, w = normalize(got), normalize(want)
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-12)
            print(f"OK    {name}: rows={len(got)}")
        except AssertionError as e:
            failures.append((name, "value mismatch"))
            print(f"FAIL  {name}: value mismatch\n{str(e)[:500]}")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {[f[0] for f in failures]}")
        return 1
    print("\nall oracles match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
