"""Densest-subgraph extraction via the greedy degree peel of Bahmani,
Kumar & Vassilvitskii ("Densest Subgraph in Streaming and MapReduce",
PVLDB 2012) — THE MapReduce-native density mining primitive: each
round removes every vertex whose degree is at most 2(1+eps) times the
current average density, and the best intermediate subgraph is a
2(1+eps)-approximation of the densest subgraph. Rounds are
O(log n / log(1+eps)).

This implementation fixes eps = 1 (threshold 4·m/n, a 4-approx,
~log2 n rounds), which keeps the unrolled DuckDB oracle short, and
does EVERY comparison in exact integer arithmetic so the engine and
the oracle agree bit-for-bit:

- peel keeps v  iff  deg(v) · n > 4 · m          (no floats)
- best round maximizes the integer surrogate m·10^12 // n
  (ties to the earlier round); Python ints don't overflow and the
  oracle mirrors it with HUGEINT division
- reported density is integer ppm: m·10^6 // n

Scale shape: the loop state is the symmetric edge table clustered
once on src (degree agg and src-side semi-join reuse the exchange —
the k-core loop shape); per-round driver traffic is two scalar counts
(n, m). The per-round stats list on the driver is O(log n) scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, loop_partitions
from .graph import build_sym_clustered

DENSEST_SCHEMA = (
    "best_round long, n_vertices long, n_edges long, density_ppm long"
)


def densest_subgraph(
    edges: DataFrame,
    max_iters: int = 40,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns ONE row (best_round, n_vertices, n_edges, density_ppm)
    describing the densest intermediate subgraph of the greedy peel
    (round 0 = the full cleaned graph). Empty frame on an empty graph.

    The peel always progresses: the minimum-degree vertex has
    deg ≤ 2·m/n ≤ 4·m/n, so at least one vertex is removed per round
    and the loop reaches the empty graph in ≤ log2(n)·2 rounds —
    `max_iters` raises if exhausted first (a truncated peel could
    miss the best round)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    cur = sym
    sym_cnt = cur.count()
    if sym_cnt == 0:
        sym.unpersist()
        return spark.createDataFrame([], DENSEST_SCHEMA)

    loop = CheckpointedLoop(
        spark,
        "densest",
        checkpoint_dir,
        checkpoint_every,
        fingerprint={"sym_edges": sym_cnt} if checkpoint_dir else None,
    )

    stats: list[tuple[int, int, int]] = []  # (round, n, m)
    m = sym_cnt // 2
    for it in loop.rounds(max_iters, on_cap="raise", unit="edges"):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        n = deg.count()
        if n == 0:
            break
        stats.append((it, n, m))
        # keep v iff deg(v) * n > 4 * m  (exact integers; removal of
        # every v with deg*n <= 4m includes the min-degree vertex, so
        # progress is guaranteed)
        keep = deg.filter(F.col("d") * F.lit(n) > F.lit(4 * m)).select(
            F.col("src").alias("v")
        )
        new_cur = (
            cur.join(keep.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("v", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        cur = loop.step(new_cur, it, eager=False)
        new_cnt = cur.count()  # materializes the lazy checkpoint
        m = new_cnt // 2
        if loop.settled(new_cnt):
            break
    sym.unpersist()

    best_round, bn, bm = max(
        stats, key=lambda s: ((s[2] * 10**12) // s[1], -s[0])
    )
    return spark.createDataFrame(
        [(best_round, bn, bm, (bm * 1_000_000) // bn)], DENSEST_SCHEMA
    )
