"""Synchronous label propagation (community detection).

Deterministic semantics (mirrored by the unrolled SQL oracle):
- graph: clean symmetric simple graph (self loops dropped, dedup);
- label_0(v) = v;
- each iteration, every vertex adopts the most frequent label among
  its neighbors, ties broken by SMALLEST label (so the algorithm is a
  pure function of the graph — no randomness, per the determinism
  invariant of FIXTURES.md §5);
- runs a fixed number of iterations (LPA oscillates; fixed-k is the
  reproducible contract).

Per-iteration: join labels to edges on dst, count (v, label) pairs,
pick argmax via a (v)-partitioned row_number window — all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, loop_layout, loop_partitions
from .graph import build_sym_clustered


def label_propagation(
    edges: DataFrame,
    num_iters: int = 5,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    partition_stats: bool = False,
) -> DataFrame:
    """Returns DataFrame [v: long, label: long]."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    # regime-adaptive layout (checkpointing.loop_layout): small state →
    # cluster by src + broadcast the labels each round (zero edge
    # exchanges per round); big state → cluster by dst, the join key,
    # so the shuffle join co-partitions with the checkpointed labels
    key, bcast_state = loop_layout(edges)
    sym = build_sym_clustered(edges, npart, key=key).persist()
    verts = sym.select(F.col("src").alias("v")).distinct()

    loop = CheckpointedLoop(
        spark,
        "labelprop",
        checkpoint_dir,
        checkpoint_every,
        collect_partition_stats=partition_stats,
        fingerprint=({"sym_edges": sym.count()} if checkpoint_dir else None),
        resume=resume,
    )
    labels = loop.start(verts.select("v", F.col("v").alias("label")))

    w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("label"))
    for it in loop.rounds(num_iters):
        rhs = F.broadcast(labels) if bcast_state else labels
        votes = (
            sym.join(rhs, sym.dst == rhs.v)
            .select(F.col("src").alias("v"), "label")
            .groupBy("v", "label")
            .agg(F.count("*").alias("cnt"))
        )
        new_labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "label")
        )
        # lazy checkpoint: lineage truncated per round, materialization
        # rides the next round's join (or the terminal count below)
        labels = loop.step(new_labels, it, eager=False)
    # materialize the lazy checkpoint chain, then release the edge cache
    labels.count()
    sym.unpersist()
    return labels.select("v", "label")
