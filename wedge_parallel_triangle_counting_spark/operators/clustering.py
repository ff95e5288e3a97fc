"""Per-vertex triangle counts and local clustering coefficient.

Extends the reference's single global-count query (tc.cu) to the
per-vertex statistic a link-graph analyst actually reads off it:
t(v) = triangles through v, lcc(v) = t(v) / C(deg(v), 2).

Physical plan: one pass over the degree-oriented edges joined with
both endpoint adjacencies (the `edge` strategy layout,
experiments/tc_edge.cu); every common neighbor c of an oriented edge
(a, b) closes one triangle, and one explode emits its 3 corners
a, b, c. All JVM expressions — exactly 3T corner rows for T
triangles from one adjacency intersection per edge, then one hash
aggregation. No driver-side work beyond the prep stats action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import adjacency, common_neighbors, prepare_oriented_fast


def _per_vertex_triangles(edges: DataFrame, caches: list | None = None) -> DataFrame:
    """(v, degree, t) for every vertex of the cleaned symmetric graph:
    degree in the symmetric graph, t = triangles through v (0 when
    none). Shared base of local_triangle_counts / clustering_by_degree."""
    own: list = []
    oriented, deg, _n, _max_id, _stats = prepare_oriented_fast(edges, caches=own)
    if caches is not None:
        caches.extend(own)
    # one pass: each common neighbor c of an oriented edge (src, dst)
    # closes a triangle whose 3 corners are emitted together
    # (explode_outer: see truss.enumerate_triangles)
    n = F.size("common")
    corners = (
        common_neighbors(oriented, adjacency(oriented))
        .select(
            F.explode_outer(
                F.concat(F.array_repeat("src", n), F.array_repeat("dst", n), "common")
            ).alias("v")
        )
        .filter(F.col("v").isNotNull())
    )
    tcnt = corners.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    return deg.join(tcnt, "v", "left").select(
        "v",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("t"),
    )


def local_triangle_counts(
    edges: DataFrame, caches: list | None = None
) -> DataFrame:
    """(v, tri_count, lcc) for every vertex of the cleaned symmetric
    graph; lcc rounded to 6 dp, 0.0 for degree < 2."""
    pv = _per_vertex_triangles(edges, caches=caches)
    lcc = F.when(
        F.col("degree") >= 2,
        F.round(F.col("t") * 2.0 / (F.col("degree") * (F.col("degree") - 1)), 6),
    ).otherwise(F.lit(0.0))
    return pv.select("v", F.col("t").alias("tri_count"), lcc.alias("lcc"))


def clustering_by_degree(
    edges: DataFrame, caches: list | None = None
) -> DataFrame:
    """The c(k) curve — average clustering per degree class:
    (degree, n_vertices, total_triangles, closed_ppm) with
    closed_ppm = closed wedges / wedges over the class, in exact
    integer ppm: sum(t)·2·10⁶ DIV (n_vertices·d·(d−1)); 0 for d < 2.

    The degree-dependence of clustering is the standard structure
    diagnostic of a link graph (hierarchical webs fall off as ~1/k;
    a flat curve means the fixture/crawl is degree-mixed). Every
    vertex of a class has the same wedge count, so the class ratio is
    exact integer arithmetic — hash-stable, unlike averaging per-vertex
    rounded lcc values. One per-degree aggregation over the shared
    per-vertex triangle relation; output cardinality = #distinct
    degrees (≤ max degree — tiny at any scale)."""
    pv = _per_vertex_triangles(edges, caches=caches)
    return (
        pv.groupBy("degree")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.sum("t").alias("total_triangles"),
        )
        .select(
            "degree",
            "n_vertices",
            F.col("total_triangles").cast("long").alias("total_triangles"),
            F.expr(
                "CASE WHEN degree >= 2 THEN"
                " total_triangles * 2 * 1000000 DIV (n_vertices * degree * (degree - 1))"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("closed_ppm"),
        )
    )
