"""Sampled betweenness centrality (k-source Brandes).

Brandes' algorithm (Brandes 2001) restricted to a deterministic set
of source vertices — the standard estimator for betweenness on graphs
where all-sources is infeasible (exact all-pairs is O(nm); at web
scale nobody runs it). Contribution of each source s to v is the
classic pair dependency

    delta_s(v) = sum_{w : v on a shortest s->w path}
                 sigma_sv / sigma_sw * (1 + delta_s(w))

accumulated over the BFS DAG back-to-front, and the reported score is
sum_s delta_s(v) over the sampled sources (v != s). Semantics pinned
for the SQL oracle:

- undirected simple graph (symmetrized, self loops dropped);
- sources = the `num_sources` smallest vertex ids (deterministic);
- hop-truncated at `max_hops`: vertices further than max_hops from a
  source (and shortest paths through them) do not contribute — the
  forward expansion simply stops, identical on both engines.

Scale shape: both passes are level-synchronous DataFrame loops over
ALL sources at once — state rows are (s, v, ...) pairs, so the k
sources batch through the same per-round edge join instead of looping
k times (the same batching argument as pagerank_topics, but with the
source id as a state KEY column rather than k value columns, because
per-source frontiers are sparse and mostly disjoint — a wide-column
layout would materialize k columns for every reached vertex).
Per-round cost is one frontier-sized join against the hash(src)-
clustered edge cache plus one anti-join against the seen set; level
frames are lineage-truncated and persisted because the backward pass
re-reads them (Brandes' stack, as DataFrames). Reference analogue:
none — the reference counts triangles only; this extends the same
oriented-BFS toolbox (bfs.py) the way SURVEY §6 sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_partitions
from .graph import build_sym_clustered


def betweenness_sampled(
    edges: DataFrame,
    num_sources: int = 8,
    max_hops: int = 8,
) -> DataFrame:
    """Returns DataFrame [v: long, betweenness: double] for every
    vertex of the cleaned symmetric graph (zeros included, so the
    output shape is partitioning-independent)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    sources = sym.select(F.col("src").alias("v")).distinct().orderBy("v").limit(
        num_sources
    )
    # forward pass: levels[d] = (s, v, sigma) at BFS distance d
    level = (
        sources.select(F.col("v").alias("s"), "v", F.lit(1).cast("long").alias("sigma"))
        .repartition(npart, "v")
        .persist()
    )
    if level.count() == 0:
        sym.unpersist()
        level.unpersist()
        return spark.createDataFrame([], "v long, betweenness double")
    levels = [level]
    seen = level.select("s", "v")
    for d in range(max_hops):
        cand = (
            sym.join(levels[-1], sym.src == F.col("v"))
            .groupBy("s", F.col("dst").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = checkpoint(cand.join(seen, ["s", "v"], "left_anti"), round=d).persist()
        if nxt.count() == 0:
            nxt.unpersist()
            break
        levels.append(nxt)
        seen = checkpoint(nxt.select("s", "v").unionByName(seen), round=d)
    # backward pass: delta over the BFS DAG, deepest level first
    delta = levels[-1].select("s", "v", F.lit(0.0).alias("delta"))
    acc = [delta] if len(levels) > 1 else []
    for d in range(len(levels) - 2, -1, -1):
        nxt_info = levels[d + 1].join(delta, ["s", "v"]).select(
            "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w"), "delta"
        )
        contrib = (
            sym.join(nxt_info, sym.dst == F.col("w"))
            .select("s", F.col("src").alias("v"), "sigma_w", "delta")
            .join(levels[d], ["s", "v"])
            .groupBy("s", "v")
            .agg(
                F.sum(
                    F.col("sigma").cast("double")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("delta")
            )
        )
        delta = checkpoint(
            levels[d]
            .select("s", "v")
            .join(contrib, ["s", "v"], "left")
            .select("s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta")),
            round=d,
        )
        if d > 0:  # source rows (d=0) never contribute to their own score
            acc.append(delta)
    allv = sym.select(F.col("src").alias("v")).distinct()
    if acc:
        from functools import reduce

        summed = (
            reduce(lambda a, b: a.unionByName(b), acc)
            .groupBy("v")
            .agg(F.sum("delta").alias("b"))
        )
        out = allv.join(summed, "v", "left").select(
            "v", F.coalesce("b", F.lit(0.0)).alias("betweenness")
        )
    else:
        out = allv.select("v", F.lit(0.0).alias("betweenness"))
    out = checkpoint(out, eager=True)
    for fr in levels:
        fr.unpersist()
    sym.unpersist()
    return out
