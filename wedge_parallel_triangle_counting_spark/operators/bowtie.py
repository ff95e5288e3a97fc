"""Bow-tie decomposition of a directed link graph (Broder et al.,
"Graph structure in the web", WWW 2000) — the canonical macro-map of a
web crawl: the largest SCC is the CORE; IN reaches the core, OUT is
reached from it, TUBES bypass it from IN to OUT, TENDRILS hang off IN
or into OUT, and DISCONNECTED has no directed path touching any of
them.

Class definitions (deterministic, vertex set induced by the cleaned
edge table; `core` = the largest SCC from
scc.strongly_connected_components, ties broken by smaller scc id):

  core         : v ∈ largest SCC
  in           : v ∉ core and v reaches some core vertex
  out          : v ∉ core and some core vertex reaches v
  tube         : v in none of the above, reachable from IN and
                 reaching OUT
  tendril      : v in none of the above, reachable from IN or
                 reaching OUT (exactly one of the two)
  disconnected : everything else

Scale shape: one SCC run, then four multi-source reachability
fixpoints (forward/backward from core, forward from IN, backward from
OUT). Each fixpoint is the BFS frontier loop over the once-clustered
directed edge table — frontiers and settled sets are DataFrames, the
membership flags are anti-joins, and the final classification is one
pass of boolean column logic over five left-semi-joined flags. Nothing
driver-side; rounds are bounded by the directed diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_partitions
from .scc import _clean_directed, strongly_connected_components


def _reachable_from(
    seeds: DataFrame, edges_by_src: DataFrame, max_rounds: int
) -> DataFrame:
    """All vertices reachable from `seeds[v]` (seeds included) along
    `edges_by_src[src,dst]`; multi-source BFS, frontier-only joins."""
    settled = checkpoint(seeds.select("v").distinct(), eager=True)
    frontier = settled
    for rnd in range(max_rounds):
        grown = (
            edges_by_src.join(
                frontier.select(F.col("v").alias("src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        frontier = checkpoint(grown.join(settled, "v", "left_anti"), round=rnd)
        settled = checkpoint(settled.unionByName(frontier), round=rnd)
        if frontier.count() == 0:
            return settled
    raise RuntimeError(
        f"reachability did not converge in {max_rounds} rounds; raise max_rounds"
    )


def bowtie_decomposition(
    edges: DataFrame,
    max_rounds: int = 60,
    max_outer: int = 20,
) -> DataFrame:
    """Returns DataFrame [cls: string, n_vertices: long] — one row per
    non-empty bow-tie class of the directed graph."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    e = _clean_directed(edges, npart).persist()
    if e.count() == 0:
        e.unpersist()
        return spark.createDataFrame([], "cls string, n_vertices long")

    fwd = e.repartition(npart, "src").persist()  # forward BFS joins on src
    rev = (
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition(npart, "src")
        .persist()
    )
    fwd.count(), rev.count()

    labels = strongly_connected_components(
        e, max_outer=max_outer, max_inner=max_rounds
    ).persist()
    # largest SCC = core; deterministic tie-break on the smaller scc id
    core_id = (
        labels.groupBy("scc")
        .count()
        .orderBy(F.desc("count"), F.asc("scc"))
        .limit(1)
        .collect()[0][0]
    )
    core = labels.filter(F.col("scc") == core_id).select("v").persist()

    reach_from_core = _reachable_from(core, fwd, max_rounds).persist()
    reach_to_core = _reachable_from(core, rev, max_rounds).persist()
    in_set = reach_to_core.join(core, "v", "left_anti").persist()
    out_set = reach_from_core.join(core, "v", "left_anti").persist()
    from_in = _reachable_from(in_set, fwd, max_rounds)
    to_out = _reachable_from(out_set, rev, max_rounds)

    verts = labels.select("v")

    # five membership flags via left joins against 1-column flag frames
    def mark(df: DataFrame, members: DataFrame, name: str) -> DataFrame:
        return df.join(
            members.select("v").withColumn(name, F.lit(True)), "v", "left"
        ).withColumn(name, F.coalesce(F.col(name), F.lit(False)))

    flagged = verts
    for members, name in (
        (core, "f_core"),
        (in_set, "f_in"),
        (out_set, "f_out"),
        (from_in, "f_from_in"),
        (to_out, "f_to_out"),
    ):
        flagged = mark(flagged, members, name)

    cls = (
        F.when(F.col("f_core"), "core")
        .when(F.col("f_in"), "in")
        .when(F.col("f_out"), "out")
        .when(F.col("f_from_in") & F.col("f_to_out"), "tube")
        .when(F.col("f_from_in") | F.col("f_to_out"), "tendril")
        .otherwise("disconnected")
    )
    out = checkpoint(
        flagged.select(cls.alias("cls"))
        .groupBy("cls")
        .agg(F.count(F.lit(1)).alias("n_vertices")),
        eager=True,
    )
    for df in (labels, core, reach_from_core, reach_to_core, in_set, out_set, fwd, rev, e):
        df.unpersist()
    return out
