"""Local replica of the driver's correctness harness: run every
`queries()` entry on Spark and its `oracle_sql()` on DuckDB over the
same parquet, compare row count, column names, and order-insensitive
values. Usage: python tools/check_oracles.py [sf_dir] [query ...]

Determinism probe: python tools/check_oracles.py --probe [sf_dir] [query ...]
runs each named query (all when none is named) in a fresh `local[2]`
and a fresh `local[32]` session, one child process each, and compares
the two row sets exactly, with no tolerance. It exits non-zero on any
difference. The oracles are not run.

Every CTE is made MATERIALIZED before DuckDB runs the oracle: inlined,
the unrolled-round oracles grow exponentially with the round count
(`pagerank_warm_start` spent ~9 min in single-threaded planning on a
4-vCPU host). Results are the same; the `oracle_sql()` text is not
touched."""

from __future__ import annotations

import os
import pickle
import re
import subprocess
import sys
import tempfile

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


def _collect_rows(master: str, out: str, sf_dir: str, names: list[str]) -> None:
    """Child side of --probe: run `names` in a fresh `master` session
    and pickle {name: normalized rows, or the error text}."""
    spark = get_spark(app_name="determinism-probe", master=master)
    qs = entrymod.queries()
    rows = {}
    for name in names or list(qs):
        try:
            rows[name] = normalize(qs[name](spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            rows[name] = f"spark error: {e}"
        finally:
            spark.catalog.clearCache()
    spark.stop()
    with open(out, "wb") as f:
        pickle.dump(rows, f)


def probe(sf_dir: str, names: list[str]) -> int:
    """Compare `names` between fresh local[2] and local[32] sessions,
    exactly."""
    masters = ("local[2]", "local[32]")
    runs = []
    with tempfile.TemporaryDirectory() as tmp:
        for master in masters:
            out = os.path.join(tmp, "rows.pkl")
            cmd = [sys.executable, __file__, "--rows", master, out, sf_dir, *names]
            subprocess.run(cmd, check=True)
            with open(out, "rb") as f:
                runs.append(pickle.load(f))
    failures = []
    for name, lo in runs[0].items():
        hi = runs[1][name]
        if isinstance(lo, str) or isinstance(hi, str):
            why = lo if isinstance(lo, str) else hi
        else:
            try:
                pd.testing.assert_frame_equal(lo, hi, check_exact=True)
                print(f"OK    {name}: rows={len(lo)} identical at {' and '.join(masters)}")
                continue
            except AssertionError as e:
                why = f"{' vs '.join(masters)} differ\n{str(e)[:500]}"
        failures.append(name)
        print(f"FAIL  {name}: {why}")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print(f"\nall {len(runs[0])} queries identical")
    return 0


def main() -> int:
    args = sys.argv[1:]
    if args[:1] == ["--rows"]:
        _collect_rows(args[1], args[2], args[3], args[4:])
        return 0
    probing = args[:1] == ["--probe"]
    if probing:
        args = args[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and (os.path.isdir(args[0]) or not probing):
        sf_dir, args = args[0], args[1:]
    if probing:
        return probe(sf_dir, args)
    only = set(args)
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
