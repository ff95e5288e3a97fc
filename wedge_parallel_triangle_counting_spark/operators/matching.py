"""Maximal matching — deterministic locally-minimal-edge rounds.

Each round selects every active edge whose priority is the minimum
among ALL active edges touching either endpoint (a local minimum in
the line graph), adds it to the matching, and deactivates both
endpoints. With a TOTAL priority order the union of rounds equals the
sequential greedy matching taken in priority order — a 2-approximate
maximum matching and always maximal — while converging in O(log m)
rounds w.h.p. (Israeli & Itai 1986; Blelloch, Fineman & Shun 2012
analyze exactly this "greedy permutation = parallel local minima"
equivalence, which the differential test exploits).

The priority is a fixed-width digit string
    lpad(h64(a:b), 19) || lpad(a, 10) || lpad(b, 10)
(md5-derived 60-bit hash, endpoint tiebreak), so the order is total
and identical in Spark and DuckDB (lexicographic on digits ==
numeric), with no float or RNG state anywhere — the unrolled-CTE
oracle (plans/oracles.py::matching_sql) replays every round exactly.
Vertex ids must fit 10 digits (< 10^10); relabel first otherwise
(operators/ids.py), same contract as mis._priority.

Scale shape per round: explode active edges to both endpoints (one
edge-sized map), ONE groupBy(v).min(priority) aggregation, one join
back to edges, one anti-join to deactivate — all keyed by vertex, no
driver state. The active edge set shrinks geometrically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions
from .graph import drop_self_loops, normalize_edges


def _priority(a, b):
    h = F.conv(
        F.substring(
            F.md5(F.concat(a.cast("string"), F.lit(":"), b.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    )
    return F.concat(
        F.lpad(h, 19, "0"),
        F.lpad(a.cast("string"), 10, "0"),
        F.lpad(b.cast("string"), 10, "0"),
    )


def maximal_matching(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """[a: long, b: long, round: int] (a < b) — a maximal matching of
    the canonical simple graph: no two selected edges share a vertex,
    and every unselected edge touches a matched vertex. Equals the
    sequential greedy matching in md5-priority order. Stopping at
    `max_rounds` with edges still active warns (RuntimeWarning): the
    matching is then not maximal."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    clean = drop_self_loops(normalize_edges(edges))
    act = checkpoint(
        clean.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .select("a", "b", _priority(F.col("a"), F.col("b")).alias("p"))
        .repartition(npart, "a"),
        eager=True,
    )
    matched: list[DataFrame] = []
    # no directory: the driver only tracks rounds and the cap, the
    # eager checkpoints below stay as they are
    loop = CheckpointedLoop(spark, "matching")
    empty = act.limit(1).count() == 0  # an empty graph runs no round
    for it in loop.rounds(
        0 if empty else max_rounds,
        on_cap="warn",
        cap="max_rounds",
        unit="active edges",
    ):
        rnd = it + 1
        ends = act.select(F.col("a").alias("v"), "p").unionByName(
            act.select(F.col("b").alias("v"), "p")
        )
        vmin = ends.groupBy("v").agg(F.min("p").alias("mn"))
        sel = checkpoint(
            act.join(vmin.withColumnRenamed("v", "a").withColumnRenamed("mn", "ma"), "a")
            .join(vmin.withColumnRenamed("v", "b").withColumnRenamed("mn", "mb"), "b")
            .filter((F.col("p") == F.col("ma")) & (F.col("p") == F.col("mb")))
            .select("a", "b", F.lit(rnd).alias("round")),
            eager=True,
        )
        # the globally minimal active edge is always a local minimum,
        # so sel is nonempty whenever act is nonempty
        matched.append(sel)
        gone = sel.select(F.col("a").alias("v")).unionByName(
            sel.select(F.col("b").alias("v"))
        )
        act = checkpoint(
            act.join(gone.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(gone.withColumnRenamed("v", "b"), "b", "left_anti")
            .select("a", "b", "p")
            .repartition(npart, "a"),
            eager=True,
        )
        # the emptiness check ends the round (one job, as the check at
        # the top of the next round did), so the cap sees the count
        if loop.settled(act.count()):
            break
    if not matched:
        return spark.createDataFrame([], "a long, b long, round int")
    out = matched[0]
    for s in matched[1:]:
        out = out.unionByName(s)
    return checkpoint(out, eager=True)
