"""Maximal independent set and greedy coloring — deterministic Luby.

Classic Luby (1986) selects, each round, every active vertex whose
random priority beats all active neighbors', then deactivates the
selected vertices AND their neighbors; the union of selections is a
maximal independent set in O(log n) rounds w.h.p. The engine replaces
the RNG with a hash priority so the result is a pure function of the
graph, reproducible across engines and parallelism levels:

    p(v) = conv(substring(md5(cast(v as string)), 1, 8), 16, 10)
           * 2^31 + v

The md5-derived high bits behave like Luby's random draw; adding the
(unique) vertex id in the low bits makes the priority total — no ties,
so the per-round selection (and therefore the whole MIS) is unique.
Both engines compute md5 identically, so the same construction backs
the unrolled-CTE DuckDB oracle (plans/oracles.py::mis_sql).

`luby_coloring` reuses the same rounds with ONE change: only the
selected vertices leave the active set (their neighbors stay and
compete again), so round k's selection is an independent set assigned
color k and every vertex is eventually colored — the distributed
greedy coloring of Jones & Plassmann (1993).

Scale shape: the active-vertex state shrinks monotonically (MIS) or
by one independent set per round (coloring). Each round is bounded by
ONE edge-sized aggregation — the per-src min over still-active
neighbors — on the symmetric edge table clustered once on hash(src)
(`build_sym_clustered`); the active filter on the dst side rides the
same join regime the other loops use (broadcast below the
loop_layout bound, else a clustered semi-join). Engine early-exit when
the active set empties is safe against the fixed-round oracle:
overshooting rounds are no-ops on an empty state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions
from .graph import build_sym_clustered

# 2^31: leaves the 32-bit md5 prefix in the high bits and any vertex
# id below 2^31 in the low bits of a non-negative int64
_PRIO_ID_BASE = 2_147_483_648


def _priority(v):
    """Total-order hash priority (see module docstring). Valid for
    ids in [0, 2^31); larger id spaces should relabel first
    (operators/ids.assign_contiguous_ids_with_count)."""
    h = F.conv(F.substring(F.md5(v.cast("string")), 1, 8), 16, 10).cast("long")
    return h * F.lit(_PRIO_ID_BASE) + v


def _luby_rounds(
    edges: DataFrame,
    max_rounds: int,
    drop_neighbors: bool,
) -> DataFrame:
    """Shared Luby loop. Returns [v, round] where `round` is the
    1-based round in which v was selected; with `drop_neighbors`
    (MIS) unselected dominated vertices never appear, without it
    (coloring) every vertex appears exactly once."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    if sym.limit(1).count() == 0:
        sym.unpersist()
        return spark.createDataFrame([], "v long, round int")

    # eager localCheckpoints truncate lineage every round — without
    # them the act/sel plans nest one level per round and Catalyst
    # stack-overflows past a few dozen rounds (coloring runs O(longest
    # increasing-priority path) rounds)
    act = checkpoint(
        sym.select(F.col("src").alias("v"))
        .distinct()
        .select("v", _priority(F.col("v")).alias("p"))
        .repartition(npart, "v"),
        eager=True,
    )
    selections: list[DataFrame] = []
    # no directory: the driver only tracks rounds and the cap, the
    # eager checkpoints below stay as they are
    loop = CheckpointedLoop(spark, "mis" if drop_neighbors else "coloring")
    for it in loop.rounds(
        max_rounds, on_cap="warn", cap="max_rounds", unit="active vertices"
    ):
        rnd = it + 1
        # min active-neighbor priority per active vertex: edges with
        # BOTH endpoints active, aggregated on src (the clustered key)
        live = (
            sym.join(act.select(F.col("v").alias("src")), "src")
            .join(
                act.select(F.col("v").alias("dst"), F.col("p").alias("pd")),
                "dst",
            )
        )
        nbr_min = live.groupBy("src").agg(F.min("pd").alias("mn"))
        sel = checkpoint(
            act.join(nbr_min.withColumnRenamed("src", "v"), "v", "left")
            .filter(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select("v", F.lit(rnd).alias("round")),
            eager=True,
        )
        # sel is never empty: act is (the loop settles when it
        # empties), and the min-priority active vertex is always selected
        selections.append(sel)
        gone = sel.select("v")
        if drop_neighbors:
            dominated = (
                sym.join(sel.select(F.col("v").alias("src")), "src")
                .select(F.col("dst").alias("v"))
                .distinct()
            )
            gone = gone.unionByName(dominated)
        act = checkpoint(
            act.join(gone, "v", "left_anti")
            .repartition(npart, "v"),
            eager=True,
        )
        # same job count as limit(1).count() on the checkpointed frame,
        # and the cap warning gets the real count
        if loop.settled(act.count()):
            break
    if not selections:
        out = spark.createDataFrame([], "v long, round int")
    else:
        out = selections[0]
        for s in selections[1:]:
            out = out.unionByName(s)
        out = checkpoint(out, eager=True)
    sym.unpersist()
    return out


def maximal_independent_set(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Deterministic Luby MIS over the symmetric simple graph:
    [v: long, round: int] for every MIS member. Independent (no edge
    inside the set) and maximal (every non-member has a neighbor in
    the set) — both asserted in tests/test_graph.py. Stopping at
    `max_rounds` with vertices still active warns (RuntimeWarning):
    the set is then not maximal."""
    return _luby_rounds(edges, max_rounds, drop_neighbors=True)


def luby_coloring(edges: DataFrame, max_rounds: int = 256) -> DataFrame:
    """Jones-Plassmann greedy coloring: [v: long, round: int] where
    `round` is v's color (1-based). Every vertex of the symmetric
    simple graph is colored; adjacent vertices never share a color.
    Stopping at `max_rounds` with vertices still uncolored warns
    (RuntimeWarning)."""
    return _luby_rounds(edges, max_rounds, drop_neighbors=False)
