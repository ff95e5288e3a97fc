"""k-core: the maximal subgraph in which every vertex has degree ≥ k.

Classic iterative peel, run as a checkpointed DataFrame loop (same
harness as PageRank/components): each round removes vertices whose
CURRENT degree is below k and the edges touching them; converges when
the edge count stops changing. On a web graph the peel converges in
few rounds for small k (most removals happen in round 1).

Per round: one degree aggregation + two semi-joins, all keyed by the
same hash(src) partitioning as the symmetric edge state, so Catalyst
re-uses the clustering for the aggregation and the src-side join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, loop_partitions
from .graph import build_sym_clustered


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_iters: int = 30,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Vertices of the k-core with their within-core degree:
    (v, core_degree), core_degree >= k. Empty result if no k-core.
    A peel still removing edges at `max_iters` warns (RuntimeWarning):
    the result is then a superset of the k-core."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    cur = sym
    prev_m = cur.count()
    fp = {"sym_edges": prev_m, "k": k} if checkpoint_dir else None
    loop = CheckpointedLoop(
        spark, f"kcore{k}", checkpoint_dir, checkpoint_every, fingerprint=fp
    )

    for it in loop.rounds(max_iters, on_cap="warn", unit="edges"):
        deg = cur.groupBy("src").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= k).select(F.col("src").alias("v"))
        new_cur = (
            cur.join(keep.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("v", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        cur = loop.step(new_cur, it, eager=False)
        m = cur.count()  # materializes the lazy checkpoint
        removed, prev_m = prev_m - m, m
        if loop.settled(removed, edges=m):
            break

    out = cur.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("core_degree")
    )
    sym.unpersist()
    return out
