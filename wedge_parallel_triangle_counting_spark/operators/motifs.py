"""Small-motif statistics beyond triangles: butterflies (4-cycles /
rectangles), tetrahedra, bipartite projection and directed reciprocity.

Butterflies are the wedge primitive's other classic payoff (the
reference engine is organized entirely around wedges, tc.cu's
wedge-parallel layout): a butterfly/rectangle is two wedges sharing
BOTH endpoints. Every 4-cycle owns exactly two diagonal pairs, so

    four_cycles = (Σ_{u<v} C(codeg(u,v), 2)) / 2

where codeg(u, v) = number of common neighbors. The codeg relation is
`graph.wedge_pairs` over the (center, endpoint) incidence — the one
open-wedge pair aggregation shared with link prediction and shingle
dedup — and the closed form folds it in one global aggregation: no
driver loops, no Python. quadrilateral_count is the same computation
under its own column names, and bipartite_projection is wedge_pairs
over a bipartite relation.

At 100 TB the wedge relation is the scale risk (Σ d(d-1)/2 explodes
on hubs). wedge_pairs salts hub centers across tasks; the other
standard mitigations compose with this plan: degree-capped exact
counting per stratum, or the sampled estimator (operators/approx.py's
wedge-sampling shape applies to butterflies unchanged). The exact
operators here keep every center because their output feeds the
ORACLE-CHECKED count; callers at web scale should cap or sample first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, finish_with_caches, loop_partitions
from .graph import build_sym_clustered, normalize_edges, wedge_pairs
from .truss import canonical_edges, enumerate_triangles


def butterfly_count(edges: DataFrame, caches: list | None = None) -> DataFrame:
    """One row: (wedge_pairs, coneighbor_pairs, four_cycles).

    wedge_pairs      = Σ_{u<v} codeg(u,v)  (wedges, endpoint-ordered)
    coneighbor_pairs = #{(u,v): codeg > 0}
    four_cycles      = Σ_{u<v} C(codeg, 2) / 2  (each 4-cycle once;
                       the sum counts every cycle's two diagonals)
    """
    # symmetric (center, endpoint) incidence, cached and clustered on
    # the center so wedge_pairs adds no exchange before its pair agg
    sym = build_sym_clustered(edges, loop_partitions(edges.sparkSession)).persist()
    inc = sym.select(F.col("src").alias("key"), F.col("dst").alias("item"))
    codeg = wedge_pairs(inc).withColumnRenamed("n", "w")
    out = codeg.agg(
        # coalesce: a wedge-free graph (e.g. a perfect matching) has
        # an EMPTY codeg relation and sum() would be NULL
        F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("wedge_pairs"),
        F.count(F.lit(1)).cast("long").alias("coneighbor_pairs"),
        F.coalesce(F.sum(F.expr("w * (w - 1) DIV 2")), F.lit(0))
        .cast("long")
        .alias("diag"),
    ).select(
        "wedge_pairs",
        "coneighbor_pairs",
        # integer halving (the diagonal sum is always even) — stays
        # exact past 2^53 where a double division would not
        F.expr("diag DIV 2").alias("four_cycles"),
    )
    return finish_with_caches(out, [sym], caches)


def tetrahedron_count(edges: DataFrame, caches: list | None = None) -> DataFrame:
    """Exact 4-clique (K4) count, one row: (triangles, tetrahedra).

    Ordered enumeration on top of the triangle lane: every K4
    {a<b<c<d} is counted exactly once by extending its lowest
    triangle (a,b,c) with the vertex d>c adjacent to all three. Plan:
    triangle enumeration (truss.enumerate_triangles — each triangle
    once) joined against the canonical edge frame three times, keyed
    (c,d) then (a,d) then (b,d); all equi-joins, count at the end.

    At 100 TB the triangle relation is the intermediate to watch
    (3·T rows); it is never wider than (a,b,c) and the first join is
    keyed on c — the arboricity argument that bounds the oriented
    triangle lane bounds this too."""
    npart = loop_partitions(edges.sparkSession)
    und = canonical_edges(edges, npart).persist()
    tri = enumerate_triangles(und).persist()
    e_cd = und.select(F.col("src").alias("c"), F.col("dst").alias("d"))
    e_ad = und.select(F.col("src").alias("a"), F.col("dst").alias("d"))
    e_bd = und.select(F.col("src").alias("b"), F.col("dst").alias("d"))
    k4 = (
        tri.join(e_cd, "c")
        .join(e_ad, ["a", "d"])
        .join(e_bd, ["b", "d"])
        .agg(F.count(F.lit(1)).alias("tetrahedra"))
    )
    t = tri.agg(F.count(F.lit(1)).alias("triangles"))
    out = t.crossJoin(F.broadcast(k4)).select("triangles", "tetrahedra")
    return finish_with_caches(out, [und, tri], caches)


def bipartite_projection(
    pairs: DataFrame,
    k: int = 50,
    min_weight: int = 2,
    caches: list | None = None,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite relation
    (left, right): the top-k (u, v, weight) pairs of RIGHT-side
    entities ranked by co-occurrence weight = #shared left entities.
    Deterministic order (weight desc, u, v); ties at the k-boundary
    are resolved by the full ordering so the cut is engine-stable.

    This is the purest wedge-parallel workload (the reference's name):
    every left entity of degree d contributes C(d, 2) wedges, and the
    projection IS the wedge-endpoint aggregation. Plan: distinct
    incidence → graph.wedge_pairs keyed by the left entity (hub
    entities salted) → TakeOrderedAndProject.

    At web scale the d² blowup on hub left-entities is the risk —
    `min_weight` prunes the long tail AFTER aggregation (exactness
    kept), and the standard cap/sample mitigations compose upstream
    (the same story as butterfly_count)."""
    npart = loop_partitions(pairs.sparkSession)
    inc = (
        pairs.select(F.col("left").alias("key"), F.col("right").alias("item"))
        .repartition(npart, "key")  # the dedup and wedge_pairs reuse it
        .dropDuplicates(["key", "item"])
        .persist()
    )
    proj = wedge_pairs(inc).select(
        F.col("a").alias("u"), F.col("b").alias("v"), F.col("n").alias("weight")
    ).filter(F.col("weight") >= min_weight)
    return finish_with_caches(
        proj.orderBy(F.desc("weight"), "u", "v").limit(k), [inc], caches
    )


def reciprocity(edges: DataFrame, caches: list | None = None) -> DataFrame:
    """Directed-graph reciprocity: the fraction of (cleaned, distinct,
    non-loop) directed edges whose reverse edge also exists. One row:
    (n_edges, n_reciprocal, reciprocity_ppm) — integer ppm so the
    cross-engine compare is exact.

    Plan: distinct directed edges, one left-semi self-join against the
    flipped frame (both sides hash(src)-clustered), two counts folded
    into one aggregation via the semi-join indicator."""
    e = (
        normalize_edges(edges)
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .persist()  # read 3x: flipped probe, semi-join left, count
    )
    flipped = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(flipped, ["src", "dst"], "left_semi")
    stats = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(recip.agg(F.count(F.lit(1)).alias("n_reciprocal")))
    )
    out = stats.select(
        "n_edges",
        "n_reciprocal",
        F.expr("(n_reciprocal * 1000000) DIV n_edges").alias(
            "reciprocity_ppm"
        ),
    )
    return finish_with_caches(out, [e], caches)


def rich_club(edges: DataFrame, max_k_log2: int = 12) -> DataFrame:
    """Rich-club connectivity curve: for degree thresholds k = 1, 2,
    4, ... 2^max_k_log2, how densely the >k-degree vertices connect
    to each other. One row per threshold with n_k >= 2:
    (k, n_rich, e_rich, phi_ppm) where phi = 2*e / (n*(n-1)), floor
    ppm — the classic web/citation-graph "do hubs club together"
    diagnostic (Colizza et al. 2006, unnormalized phi).

    Plan: degree join on both endpoints of the canonical edge frame,
    then ONE pass: each edge/vertex contributes to every threshold
    below its (min-)degree via a broadcast threshold explode —
    #thresholds (~log max-degree) times the edge relation in the
    aggregate's map side, no per-k jobs."""
    npart = loop_partitions(edges.sparkSession)
    und = canonical_edges(edges, npart).persist()
    deg = (
        und.select(F.col("src").alias("v"))
        .unionByName(und.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("kv"))
    )
    ks = F.explode(
        F.array(*[F.lit(1 << i) for i in range(max_k_log2 + 1)])
    ).alias("k")

    nk = (
        deg.select("kv", ks)
        .filter(F.col("kv") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rich"))
    )
    ek = (
        und.join(deg.withColumnRenamed("v", "src").withColumnRenamed("kv", "ka"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("kv", "kb"), "dst")
        .select(F.least("ka", "kb").alias("kmin"), ks)
        .filter(F.col("kmin") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_rich"))
    )
    out = (
        nk.join(ek, "k", "left")
        .filter(F.col("n_rich") >= 2)
        .select(
            F.col("k").cast("long").alias("k"),
            "n_rich",
            F.coalesce("e_rich", F.lit(0)).cast("long").alias("e_rich"),
            F.expr(
                "coalesce(e_rich, 0) * 2000000 div (n_rich * (n_rich - 1))"
            ).alias("phi_ppm"),
        )
    )
    res = checkpoint(out, eager=True)
    und.unpersist()
    return res


def hub_ego_stats(edges: DataFrame, top_h: int = 10) -> DataFrame:
    """Ego-network statistics of the top_h highest-degree vertices
    (ties to smaller id): one row per hub —
    (hub, ego_n, ego_edges, density_ppm) where the ego is the hub
    plus its neighbors, ego_edges counts canonical edges with BOTH
    endpoints inside the ego (spokes included), and density =
    2e/(n(n-1)) in exact floor ppm. The "is the hub a community or a
    crossroads" diagnostic for web hubs.

    Scale shape: the hub list is top_h rows (broadcast); ego
    membership is the hubs' adjacency rows only; within-edges are two
    equi-joins of the canonical edge table against that membership —
    work bounded by the hubs' neighborhoods, not the graph."""
    npart = loop_partitions(edges.sparkSession)
    und = canonical_edges(edges, npart).persist()
    deg = (
        und.select(F.col("src").alias("v"))
        .unionByName(und.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("kv"))
    )
    hubs = checkpoint(
        deg.orderBy(F.desc("kv"), F.asc("v"))
        .limit(top_h)
        .select(F.col("v").alias("hub"), F.col("kv").alias("hub_deg")),
        eager=True,
    )
    inc = und.select(F.col("src").alias("v"), F.col("dst").alias("nbr")).unionByName(
        und.select(F.col("dst").alias("v"), F.col("src").alias("nbr"))
    )
    members = (
        inc.join(F.broadcast(hubs.select(F.col("hub").alias("v"), "hub")), "v")
        .select("hub", F.col("nbr").alias("member"))
        .unionByName(hubs.select("hub", F.col("hub").alias("member")))
    )
    m1 = members.select("hub", F.col("member").alias("src"))
    m2 = members.select("hub", F.col("member").alias("dst"))
    within = (
        und.join(m1, "src")
        .join(m2, ["hub", "dst"])
        .groupBy("hub")
        .agg(F.count(F.lit(1)).cast("long").alias("ego_edges"))
    )
    out = (
        hubs.join(within, "hub", "left")
        .select(
            "hub",
            (F.col("hub_deg") + 1).cast("long").alias("ego_n"),
            F.coalesce("ego_edges", F.lit(0)).cast("long").alias("ego_edges"),
            F.expr(
                "coalesce(ego_edges, 0) * 2000000"
                " div ((hub_deg + 1) * (hub_deg + 1 - 1))"
            ).alias("density_ppm"),
        )
    )
    res = checkpoint(out, eager=True)
    und.unpersist()
    return res


def quadrilateral_count(edges: DataFrame) -> DataFrame:
    """Exact global 4-cycle (quadrilateral) count, not necessarily
    induced — the square member of the motif family (triangles /
    tetrahedra / butterflies). A pair of common neighbors {x, y} of an
    endpoint pair (u, w) closes the 4-cycle u-x-w-y, and every 4-cycle
    is counted once per diagonal:

        quads = Σ_{u<w} C(cn(u, w), 2) / 2   (the sum is always even)

    One row [endpoint_pairs, quads]: butterfly_count's
    coneighbor_pairs and four_cycles, the same single computation
    under this query's column names.

    For an exact global count at 100 TB, the Chiba-Nishizeki
    alternative (intersect adjacencies in degeneracy order, O(α·m)
    work) trades the wedge shuffle for the triangles_edge-style
    array_intersect lane."""
    own: list = []
    out = butterfly_count(edges, caches=own).select(
        F.col("coneighbor_pairs").alias("endpoint_pairs"),
        F.col("four_cycles").alias("quads"),
    )
    return finish_with_caches(out, own)
