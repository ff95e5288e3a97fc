"""BFS shortest hop counts from a source vertex.

Level-synchronous frontier expansion as a checkpointed DataFrame loop
(same harness as PageRank/components): per round, one join of the
frontier against the symmetric edge table clustered on the join key
(src), a distinct, and an anti-join against the settled distance
table. Stops when the frontier empties or at `max_hops` — the two are
equivalent for the result (a vertex further than max_hops is simply
absent), which is what makes the bounded recursive-CTE oracle exact.

Scale shape: the frontier is a DataFrame (web-graph frontiers explode
to O(n) around the effective diameter — never driver-side), the edge
table is partitioned once and reused every round, and the settled set
is lineage-truncated per round. State is O(reached vertices), the
output itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions
from .graph import build_sym_clustered


def shortest_hops(
    edges: DataFrame,
    source: int | None = None,
    max_hops: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns DataFrame [v: long, hops: long] — every vertex reachable
    from `source` within `max_hops` undirected hops, with its BFS
    distance. `source=None` uses the smallest vertex id (deterministic
    and always present)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    if source is None:
        source = sym.agg(F.min("src")).collect()[0][0]
        if source is None:  # empty graph
            sym.unpersist()
            return spark.createDataFrame([], "v long, hops long")
    source = int(source)

    loop = CheckpointedLoop(
        spark,
        "bfs",
        checkpoint_dir,
        checkpoint_every,
        fingerprint=(
            {"source": source, "max_hops": max_hops, "sym_edges": sym.count()}
            if checkpoint_dir
            else None
        ),
    )
    dist = spark.createDataFrame([(source, 0)], "v long, hops long").repartition(
        npart, "v"
    )
    frontier = dist
    for it in loop.rounds(max_hops):
        nbrs = (
            sym.join(frontier.select("v"), sym.src == F.col("v"))
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        new_frontier = nbrs.join(dist, "v", "left_anti").select(
            "v", F.lit(it + 1).cast("long").alias("hops")
        )
        dist = loop.step(dist.unionByName(new_frontier), it, eager=False)
        # the frontier count doubles as the convergence check AND the
        # checkpoint materialization — one action per round
        frontier = checkpoint(new_frontier, round=it)
        if loop.settled(frontier.count()):
            break
    dist.count()
    sym.unpersist()
    return dist


def double_sweep_diameter(edges: DataFrame, max_hops: int = 16) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien, Latapy & Habib
    2009 — the standard cheap diameter estimator, exact on trees):
    BFS from the smallest vertex id, take the farthest vertex found
    (hops DESC, id ASC tie-break), BFS again from there; the second
    eccentricity is a lower bound on the graph diameter that is tight
    or near-tight on real web graphs. One row
    [sweep1_ecc, far_vertex, diameter_lb], all within max_hops.

    Two BFS runs = two frontier loops; the only driver-side value is
    the single pivot vertex (same footprint as shortest_hops' default
    source lookup)."""
    spark = edges.sparkSession
    d1 = shortest_hops(edges, max_hops=max_hops)
    pivot = (
        d1.orderBy(F.desc("hops"), F.asc("v")).limit(1).collect()
    )
    if not pivot:
        return spark.createDataFrame(
            [], "sweep1_ecc long, far_vertex long, diameter_lb long"
        )
    far_v, ecc1 = int(pivot[0]["v"]), int(pivot[0]["hops"])
    d2 = shortest_hops(edges, source=far_v, max_hops=max_hops)
    return d2.agg(
        F.lit(ecc1).cast("long").alias("sweep1_ecc"),
        F.lit(far_v).cast("long").alias("far_vertex"),
        F.max("hops").alias("diameter_lb"),
    )
