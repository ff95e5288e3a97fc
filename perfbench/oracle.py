"""Expected answers for the benchmark's queries, computed with DuckDB.

Each workload's inputs are replayed on the DuckDB side from the same
seed (`rmat_sql`) or read from the same parquet (the crawl pages), and
the engine's answers are compared against the SQL formulations in
`plans/oracles.py`. Nothing here runs inside a timed region.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

from wedge_parallel_triangle_counting_spark.plans import oracles

PR_ATOL = 1e-6


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    return con


def _materialized(sql: str, prefix: str) -> str:
    # The unrolled iteration CTEs reference their predecessor more than
    # once; without MATERIALIZED DuckDB inlines them and the plan grows
    # as 2^iterations.
    return re.sub(rf"\b({prefix}\d+) AS \(", r"\1 AS MATERIALIZED (", sql)


def load_rmat(con, scale: int, seed: int) -> str:
    """Replays `synth_rmat(scale, seed=seed)` into a DuckDB table and
    returns a SELECT over it."""
    con.execute(f"CREATE OR REPLACE TABLE rmat_edges AS {oracles.rmat_sql(scale, seed=seed)}")
    return "SELECT src, dst FROM rmat_edges"


def load_crawl(con, pages_glob: str) -> tuple[str, dict]:
    """Ingests the pages parquet with the oracle's own link extraction
    and url dictionary; returns (edges SELECT, {links, vertices})."""
    pages = f"SELECT url, decode(html) AS html FROM read_parquet('{pages_glob}')"
    cte = oracles._INGEST_CTE.format(pages=pages)
    con.execute(f"CREATE OR REPLACE TABLE crawl_dict AS {cte} SELECT url, id FROM dict")
    con.execute(
        f"""CREATE OR REPLACE TABLE crawl_edges AS {cte}
SELECT ds.id AS src, dd.id AS dst
FROM links
JOIN crawl_dict ds ON ds.url = links.src_url
JOIN crawl_dict dd ON dd.url = links.dst_url"""
    )
    counts = {
        "links": con.execute("SELECT count(*) FROM crawl_edges").fetchone()[0],
        "vertices": con.execute("SELECT count(*) FROM crawl_dict").fetchone()[0],
    }
    return "SELECT src, dst FROM crawl_edges", counts


def triangles(con, raw: str) -> int:
    return int(con.execute(oracles.triangles_sql(raw)).fetchone()[0])


def wedges(con, raw: str) -> int:
    """Total wedges of the degree-oriented graph (`wedge_stats`)."""
    return int(con.execute(oracles.wedge_stats_sql(raw)).df()["total_wedges"][0])


def pagerank(con, raw: str, num_iters: int) -> pd.DataFrame:
    sql = _materialized(oracles.pagerank_sql(raw, num_iters), "r")
    return con.execute(sql).df().sort_values("v", ignore_index=True)


def labelprop(con, raw: str, num_iters: int) -> pd.DataFrame:
    return con.execute(oracles.labelprop_sql(raw, num_iters)).df().sort_values(
        "v", ignore_index=True
    )


def components_sql(con, raw: str) -> pd.DataFrame:
    """The recursive-closure formulation; its cost grows with
    component size squared, so it only runs on small inputs."""
    return con.execute(oracles.components_sql(raw)).df().sort_values(
        "v", ignore_index=True
    )


def components(con, raw: str) -> pd.DataFrame:
    """(v, component = min vertex id reachable from v), by min-label
    propagation over the cleaned undirected edges in numpy. Same answer
    as `oracles.components_sql` (the smoke test checks that on a small
    graph), at a cost linear in edges times diameter."""
    e = con.execute(
        f"SELECT DISTINCT src, dst FROM ({raw}) WHERE src <> dst"
    ).df()
    src = np.concatenate([e["src"].to_numpy(), e["dst"].to_numpy()])
    dst = np.concatenate([e["dst"].to_numpy(), e["src"].to_numpy()])
    verts, inv = np.unique(src, return_inverse=True)
    d_idx = np.searchsorted(verts, dst)
    label = verts.copy()
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, inv, label[d_idx])
        if np.array_equal(nxt, label):
            break
        label = nxt
    return pd.DataFrame({"v": verts, "component": label})


def same_frame(got: pd.DataFrame, want: pd.DataFrame, col: str, atol: float = 0.0) -> bool:
    """Vertex-keyed comparison: identical vertex sets, and `col` equal
    (within `atol` for floats)."""
    got = got.sort_values("v", ignore_index=True)
    if len(got) != len(want) or not np.array_equal(
        got["v"].to_numpy(np.int64), want["v"].to_numpy(np.int64)
    ):
        return False
    a, b = got[col].to_numpy(), want[col].to_numpy()
    if atol:
        return bool(np.allclose(a, b, rtol=0.0, atol=atol))
    return bool(np.array_equal(a.astype(np.int64), b.astype(np.int64)))
