"""Edge support, k-truss decomposition, and triangle listing.

The truss layer is the natural extension of the reference's triangle
kernel (tc.cu's wedge-closure count) from "how many triangles exist"
to "which edges are structurally embedded in them":

- support(e) for an undirected edge e = {u, v} is the number of
  triangles containing e (equivalently |N(u) ∩ N(v)|);
- the k-truss is the maximal subgraph in which every edge has
  support >= k-2 — the edge analogue of the k-core (kcore.py), and
  the standard web/community primitive built ON TOP of a triangle
  engine;
- triangle listing materializes the (a < b < c) triples themselves
  instead of reducing them to a count (the reference only emits the
  global count, tc.cu:886-913; listing is what a link-graph analyst
  needs to inspect closures).

Physical plan, one support pass (all JVM expressions):
  1. canonical edges (least, greatest), distinct — one exchange on
     hash(src), reused by every later per-edge step;
  2. id-oriented adjacency adj+(v) = sorted higher neighbors — one
     vertex-keyed aggregation over the SAME hash(src) clustering
     (no extra exchange);
  3. each edge (a, b) joined with adj+(a) and adj+(b); every
     w ∈ adj+(a) ∩ adj+(b) is one triangle a < b < w, found exactly
     once (the tc_edge strategy layout, experiments/tc_edge.cu);
  4. explode the 3 member edges per triangle in the same pass and
     hash-aggregate — map-side partial combine keeps the shuffle
     ~edge-sized.

The k-truss peel repeats support → filter(support >= k-2) until the
edge count is stable, through the same CheckpointedLoop harness as
PageRank/k-core (lineage truncation per round, durable resume).

At 100 TB: id-orientation (not degree-orientation) is required for
listing each triangle once with canonical ids, so hub vertices with
many higher neighbors can skew adjacency rows; the support shuffle
itself stays bounded because the aggregation is edge-keyed with
partial combine, and the peel usually converges in a handful of
rounds on web graphs (most edges survive or die in round 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import (
    CheckpointedLoop,
    checkpoint,
    finish_with_caches,
    loop_partitions,
)
from .graph import adjacency, common_neighbors, normalize_edges


def canonical_edges(edges: DataFrame, npart: int) -> DataFrame:
    """Dirty directed edges → distinct undirected (src < dst) pairs,
    hash(src)-clustered so the adjacency aggregation and the per-edge
    support join reuse one exchange."""
    e = normalize_edges(edges).filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .repartition(npart, "src")
        .dropDuplicates(["src", "dst"])
    )


def enumerate_triangles(und: DataFrame) -> DataFrame:
    """Every triangle of the canonical edge frame exactly once as
    (a, b, c) with a < b < c: over id-oriented edges the adjacency is
    adj+(v), the sorted higher neighbors, so each common neighbor c of
    an edge (a, b) is above both. explode_outer + not-null rather than
    explode: from a plain explode of the `common` column Catalyst infers
    size(common) > 0 and pushes it into the join condition, computing
    every intersection twice."""
    return (
        common_neighbors(und, adjacency(und))
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.explode_outer("common").alias("c"),
        )
        .filter(F.col("c").isNotNull())
    )


def _support(und: DataFrame) -> DataFrame:
    """(src, dst, support) for every canonical edge; support = number
    of triangles containing the edge (0 included via left join). One
    Generate emits each triangle's 3 member edges (a, b), (a, c),
    (b, c) straight from the edge's common-neighbor list, so the
    intersection runs once per edge (inline_outer: see
    enumerate_triangles). Built from array_repeat/arrays_zip rather
    than a `transform` lambda, which Spark evaluates without codegen."""
    n = F.size("common")
    a, b = F.array_repeat(F.col("src"), n), F.array_repeat(F.col("dst"), n)

    def edges(x, y):
        return F.arrays_zip(x, y).cast("array<struct<src:bigint,dst:bigint>>")

    member_edges = (
        common_neighbors(und, adjacency(und))
        .select(F.inline_outer(F.concat(edges(a, b), edges(a, "common"), edges(b, "common"))))
        .filter(F.col("src").isNotNull())
    )
    sup = member_edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("support")
    )
    return und.join(sup, ["src", "dst"], "left").select(
        "src",
        "dst",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
    )


def edge_support(edges: DataFrame, caches: list | None = None) -> DataFrame:
    """One-shot support profile of the cleaned undirected graph:
    (src, dst, support), src < dst, every edge present.

    The canonical frame is persisted — it is read 4× (edge probe,
    both adjacency sides, support attach) and re-running the
    scan+shuffle+dedup lineage per reference would dominate."""
    npart = loop_partitions(edges.sparkSession)
    und = canonical_edges(edges, npart).persist()
    return finish_with_caches(_support(und), [und], caches)


def triangle_list(
    edges: DataFrame, limit: int = 100, caches: list | None = None
) -> DataFrame:
    """First `limit` triangles (a, b, c), a < b < c, in lexicographic
    order — TakeOrderedAndProject, no global sort materialization."""
    npart = loop_partitions(edges.sparkSession)
    und = canonical_edges(edges, npart).persist()
    return finish_with_caches(
        enumerate_triangles(und).orderBy("a", "b", "c").limit(limit),
        [und],
        caches,
    )


def k_truss(
    edges: DataFrame,
    k: int = 5,
    max_iters: int = 30,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Edges of the k-truss with their within-truss support:
    (src, dst, support), src < dst, support >= k-2 against the
    SURVIVING subgraph. Empty result if the truss is empty. A peel
    still removing edges at `max_iters` warns (RuntimeWarning): the
    result is then a superset of the k-truss."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    und = canonical_edges(edges, npart).persist()
    prev_m = und.count()
    fp = {"und_edges": prev_m, "k": k} if checkpoint_dir else None
    loop = CheckpointedLoop(
        spark, f"ktruss{k}", checkpoint_dir, checkpoint_every, fingerprint=fp
    )

    cur = und
    for it in loop.rounds(max_iters, on_cap="warn", unit="edges"):
        new_cur = (
            _support(cur)
            .filter(F.col("support") >= k - 2)
            .select("src", "dst")
        )
        cur = loop.step(new_cur, it, eager=False)
        m = cur.count()
        removed, prev_m = prev_m - m, m
        if loop.settled(removed, edges=m):
            break

    # support recomputed against the final subgraph (the loop's last
    # filter used the PRE-removal supports)
    out = checkpoint(_support(cur), eager=True)
    und.unpersist()
    return out
