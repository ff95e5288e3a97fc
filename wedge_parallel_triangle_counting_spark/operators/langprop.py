"""Seeded label propagation: fill MISSING node labels from neighbor
majority vote, keeping known labels fixed.

The web-corpus instance: language id. Boilerplate-heavy or short
pages defeat content-based lang-id, but a page overwhelmingly links
to (and is linked from) pages in its own language — so propagate the
confident labels across the link graph. The same operator covers any
partially-labeled node attribute (topic, spam/ham seeds, site
category).

Unlike community label propagation (operators/labelprop.py), which
relabels EVERY vertex each round until convergence, this is the
semi-supervised variant: seeds are immutable, only unlabeled vertices
update, and a vertex once filled becomes a seed for the next round —
so each round strictly shrinks the unlabeled frontier and R rounds
reach everything within R hops of a seed.

Vote = argmax over labeled neighbors of the label count, ties broken
by the lexicographically smallest label (deterministic, partition-
independent). Per round: one edge-sized join against the current
label table + one (vertex, label)-keyed aggregation — the exact
shuffle shape of a PageRank iteration, so the 100-TB story is the
same: cluster the symmetric edge table once on the join key and
reuse it every round (checkpointing.loop_* conventions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .checkpointing import checkpoint, loop_partitions


def propagate_labels(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 2,
    v_col: str = "v",
    label_col: str = "label",
) -> DataFrame:
    """nodes = (v, label nullable), edges = (src, dst) directed (both
    directions vote). Returns (v, label, origin) for every input node:
    origin 'kept' (seed), 'propagated' (filled within `rounds` hops of
    a seed, majority-vote), or 'unlabeled' (no labeled vertex within
    reach — label stays NULL)."""
    spark = nodes.sparkSession
    npart = loop_partitions(spark)
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(npart, "dst")
        .persist()
    )
    state = nodes.select(
        F.col(v_col).alias("v"),
        F.col(label_col).cast("string").alias("label"),
        F.when(F.col(label_col).isNotNull(), F.lit("kept"))
        .otherwise(F.lit("unlabeled"))
        .alias("origin"),
    )
    for rnd in range(rounds):
        labeled = state.filter(F.col("label").isNotNull()).select(
            F.col("v").alias("dst"), F.col("label").alias("nbr_label")
        )
        votes = (
            sym.join(labeled, "dst")
            .groupBy(F.col("src").alias("v"), "nbr_label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w = Window.partitionBy("v").orderBy(F.desc("n"), F.asc("nbr_label"))
        winner = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("v", F.col("nbr_label").alias("vote"))
        )
        state = checkpoint(
            state.join(winner, "v", "left")
            .select(
                "v",
                F.coalesce("label", "vote").alias("label"),
                F.when(
                    F.col("label").isNull() & F.col("vote").isNotNull(),
                    F.lit("propagated"),
                )
                .otherwise(F.col("origin"))
                .alias("origin"),
            ),
            round=rnd,
        )
    n_unlabeled = state.filter(F.col("label").isNull()).count()  # materialize
    _ = n_unlabeled
    sym.unpersist()
    return state
