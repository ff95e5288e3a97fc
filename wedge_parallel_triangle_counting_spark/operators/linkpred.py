"""Link prediction: common-neighbor scores for non-adjacent pairs.

The standard link-graph feature (pages that share many linking pages
but don't yet link): cn(x, y) = |N(x) ∩ N(y)| over the UNDIRECTED
graph, reported for the top-k non-adjacent pairs with a fully
deterministic tie-break (score desc, then ids) so the result is a
pure function of the graph.

Note the orientation trick does NOT apply here: a triangle has exactly
one all-outgoing vertex under degree orientation, but an OPEN wedge's
center may point inward — so enumeration must use the symmetric
adjacency. Cost is Σ deg² (the true size of the wedge relation), which
is quadratic in a single hub's degree. Two defenses, mirroring the
reference's hub handling (tc.cu:329-346 hub bitmap, tc.cu:348-361
wedge balancing):

* ``max_degree`` — exclude vertices above the cap from acting as
  wedge CENTERS (a broadcast anti-join on the degree table before the
  self-join). This changes semantics to "common non-hub neighbors",
  the standard web-graph approximation: a portal page linked by
  millions of pages asserts almost nothing about any pair of them.
  ``None`` (default) keeps the exact metric.
* selective salting — centers still above ``hub_min_deg`` after the
  cap get their wedge pairs spread over ``hub_splits`` join tasks
  (one side salted by hash(neighbor), the other exploded across all
  salts for hub keys only), so a degree-d hub costs d²/splits per
  task instead of d² in one. Non-hub keys pay nothing (constant salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint
from .graph import build_sym_clustered


def wedge_candidates(
    sym: DataFrame,
    max_degree: int | None = None,
    hub_min_deg: int = 4096,
    hub_splits: int = 32,
    center_weight: str | None = None,
) -> DataFrame:
    """Lazy DataFrame [id_a, id_b, cn] of common-neighbor counts for
    every pair (id_a < id_b) sharing >=1 (eligible) center, INCLUDING
    already-adjacent pairs. ``sym`` must be the symmetric, dedup'd,
    self-loop-free edge list.

    ``center_weight`` adds a degree-weighted score column `wsum`
    alongside `cn` — "adamic_adar" sums 1/ln(deg(z)) per shared center
    z, "resource_allocation" sums 1/deg(z) (a contributing center has
    >= 2 distinct neighbors, so deg >= 2 and ln(deg) > 0 — no division
    hazard). The weight rides the salted wedge join unchanged; the
    aggregation gains one sum.

    Exposed separately so tests can assert the candidate relation is
    bounded when a hub is present.
    """
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    if max_degree is not None:
        # Hubs above the cap are few by definition — broadcast the
        # exclusion set rather than semi-joining the (huge) keep set.
        over = deg.filter(F.col("deg") > max_degree).select("src")
        centers = sym.join(F.broadcast(over), "src", "left_anti")
        deg = deg.filter(F.col("deg") <= max_degree)
    else:
        centers = sym

    # Tag hub centers (small set: at most 2m/hub_min_deg vertices).
    hubs = deg.filter(F.col("deg") >= hub_min_deg).select(
        "src", F.lit(True).alias("is_hub")
    )
    tagged = centers.join(F.broadcast(hubs), "src", "left")
    if center_weight is not None:
        if center_weight == "adamic_adar":
            w_expr = 1.0 / F.log(F.col("deg").cast("double"))
        elif center_weight == "resource_allocation":
            w_expr = 1.0 / F.col("deg").cast("double")
        else:
            raise ValueError(f"unknown center_weight {center_weight!r}")
        tagged = tagged.join(deg, "src").withColumn("w", w_expr)
    z, salt = F.col("src").alias("z"), F.col("salt")
    s1_cols = [
        z,
        F.col("dst").alias("id_a"),
        F.when(
            F.col("is_hub"), F.pmod(F.xxhash64("dst"), F.lit(hub_splits))
        )
        .otherwise(F.lit(0))
        .alias("salt"),
    ]
    if center_weight is not None:
        s1_cols.append(F.col("w"))
    s1 = tagged.select(*s1_cols)
    s2 = tagged.select(
        z,
        F.col("dst").alias("id_b"),
        F.explode(
            F.when(
                F.col("is_hub"),
                F.sequence(F.lit(0), F.lit(hub_splits - 1)),
            ).otherwise(F.array(F.lit(0)))
        ).alias("salt"),
    )
    # Each unordered pair meets exactly once: id_a carries one salt,
    # id_b is replicated across every salt, so (a, b) joins at salt(a).
    aggs = [F.count(F.lit(1)).alias("cn")]
    if center_weight is not None:
        aggs.append(F.sum("w").alias("wsum"))
    return (
        s1.join(s2, ["z", "salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(*aggs)
    )


def common_neighbor_pairs(
    edges: DataFrame,
    k: int = 50,
    max_degree: int | None = None,
    hub_min_deg: int = 4096,
    hub_splits: int = 32,
) -> DataFrame:
    """Eager DataFrame [id_a, id_b, cn]: the k highest common-neighbor
    counts among NON-adjacent vertex pairs, ties broken by (id_a,
    id_b) ascending. ``max_degree`` excludes higher-degree vertices
    from acting as wedge centers (see module docstring)."""
    spark = edges.sparkSession
    npart = spark.sparkContext.defaultParallelism
    # one-exchange symmetrize clustered on the wedge-center key
    sym = build_sym_clustered(edges, npart, key="src").persist()
    try:
        pairs = wedge_candidates(
            sym, max_degree=max_degree, hub_min_deg=hub_min_deg, hub_splits=hub_splits
        )
        existing = sym.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        top = (
            pairs.join(existing, ["id_a", "id_b"], "left_anti")
            .orderBy(F.desc("cn"), F.asc("id_a"), F.asc("id_b"))
            .limit(k)
        )
        # eager localCheckpoint pins the (k-bounded) result before the
        # cached symmetric table is released — no driver materialization
        out = checkpoint(top, eager=True)
    finally:
        sym.unpersist()
    return out


def link_prediction_scores(
    edges: DataFrame,
    k: int = 50,
    method: str = "adamic_adar",
    max_degree: int | None = None,
    hub_min_deg: int = 4096,
    hub_splits: int = 32,
) -> DataFrame:
    """Eager DataFrame [id_a, id_b, cn, score]: the k best-scored
    NON-adjacent pairs under the classic link-prediction indices —
    "adamic_adar" (Σ 1/ln deg(z)), "resource_allocation" (Σ 1/deg(z)),
    or "jaccard" (|N∩N| / |N∪N|). Scores are rounded to 6 decimals and
    the top-k ORDER uses the rounded score (ties by ids), so the
    selected set is a pure function of the graph, bit-stable across
    engines — the same determinism contract as common_neighbor_pairs.

    Same hub defenses as common_neighbor_pairs (max_degree center cap,
    selective salting); jaccard adds two broadcast-sized degree joins
    on the (already bounded) candidate list."""
    spark = edges.sparkSession
    npart = spark.sparkContext.defaultParallelism
    sym = build_sym_clustered(edges, npart, key="src").persist()
    try:
        cw = method if method in ("adamic_adar", "resource_allocation") else None
        pairs = wedge_candidates(
            sym,
            max_degree=max_degree,
            hub_min_deg=hub_min_deg,
            hub_splits=hub_splits,
            center_weight=cw,
        )
        if method == "jaccard":
            deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            pairs = (
                pairs.join(
                    deg.select(F.col("src").alias("id_a"), F.col("deg").alias("da")),
                    "id_a",
                )
                .join(
                    deg.select(F.col("src").alias("id_b"), F.col("deg").alias("db")),
                    "id_b",
                )
                .select(
                    "id_a",
                    "id_b",
                    "cn",
                    (
                        F.col("cn").cast("double")
                        / (F.col("da") + F.col("db") - F.col("cn"))
                    ).alias("wsum"),
                )
            )
        elif cw is None:
            raise ValueError(f"unknown method {method!r}")
        existing = sym.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        top = (
            pairs.join(existing, ["id_a", "id_b"], "left_anti")
            .select("id_a", "id_b", "cn", F.round("wsum", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("id_a"), F.asc("id_b"))
            .limit(k)
        )
        out = checkpoint(top, eager=True)
    finally:
        sym.unpersist()
    return out
