"""Single-source weighted shortest paths — level-synchronous
Bellman-Ford as a checkpointed DataFrame loop.

The weighted companion to bfs.py's hop counts (BFS IS Bellman-Ford
with unit weights): per round, relax every edge out of the current
tentative-distance table and keep the minimum. Deterministic for any
non-negative integer weights; a fixed `max_rounds` bounds the loop
AND makes the unrolled DuckDB oracle exact (a vertex whose true
shortest path uses more than max_rounds edges is reported with the
best ≤max_rounds-edge distance — the same contract both sides).

Per round: one join of the distance table against the src-clustered
weighted edge table + one min-aggregation keyed by vertex — the same
two-exchange round shape as the components/labelprop loops, with
early exit when a round improves nothing.

At 100 TB: state is O(reached vertices); Bellman-Ford's round count
is the graph's weighted-path edge diameter, small for web graphs.
The relax join is edge-sized each round — delta-stepping (relax only
improved vertices) is the standard refinement and falls out of the
`improved` frontier below (only rows that CHANGED this round are
joined next round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions


def weighted_sssp(
    edges: DataFrame,
    source: int | None = None,
    max_rounds: int = 8,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """(v, dist) for every vertex reachable from `source` within
    max_rounds edges; dist = min total weight (bigint). Input edge
    frame needs (src, dst, w) with non-negative integer w; edges are
    treated as DIRECTED (symmetrize upstream for undirected
    semantics). `source=None` uses the smallest src id."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    e = (
        edges.select(
            "src", "dst", F.col("w").cast("long").alias("w")
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: keep cheapest
        .repartition(npart, "src")
        .persist()
    )
    if source is None:
        source = e.agg(F.min("src")).collect()[0][0]
        if source is None:
            e.unpersist()
            return spark.createDataFrame([], "v long, dist long")
    source = int(source)

    loop = CheckpointedLoop(
        spark,
        "sssp",
        checkpoint_dir,
        checkpoint_every,
        # max_rounds deliberately NOT fingerprinted: it is a run-length
        # knob, and resuming with a larger budget is the point
        fingerprint=(
            {"source": source, "m": e.count()} if checkpoint_dir else None
        ),
        resume=resume,
    )
    dist = loop.start(
        spark.createDataFrame([(source, 0)], "v long, dist long").repartition(
            npart, "v"
        )
    )
    frontier = dist  # rows improved last round — only these relax
    if loop.first_round:
        if loop.first_round > max_rounds:
            # unlike BFS hops, a distance row does not record how
            # many edges produced it, so a snapshot past this call's
            # budget cannot be clamped — refuse rather than silently
            # violate the <=max_rounds contract
            raise ValueError(
                f"sssp checkpoint is at round {loop.first_round} but this "
                f"call asked for max_rounds={max_rounds}; rerun "
                "without resume (or raise max_rounds)"
            )
        # the snapshot keeps the `improved` indicator, so the next
        # round's relax frontier is recoverable exactly
        frontier = dist.filter("improved").select("v", "dist")
        dist = dist.select("v", "dist")
    for it in loop.rounds(max_rounds):
        relaxed = (
            e.join(
                frontier.select(F.col("v").alias("src"), "dist"), "src"
            )
            .select(
                F.col("dst").alias("v"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("v")
            .agg(F.min("cand").alias("cand"))
        )
        merged = (
            dist.join(relaxed, "v", "full")
            .select(
                "v",
                # Spark least() skips NULLs (returns the smallest
                # non-null), exactly the merge semantics needed
                F.least("dist", "cand").alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.coalesce("cand", F.lit(2**62)) < F.col("dist"))
                ).alias("improved"),
            )
        )
        merged = loop.step(merged, it, eager=False)
        frontier = checkpoint(
            merged.filter("improved").select("v", "dist"), round=it
        )
        dist = merged.select("v", "dist")
        if loop.settled(frontier.count()):
            break
    out = checkpoint(dist, eager=True)
    e.unpersist()
    return out
