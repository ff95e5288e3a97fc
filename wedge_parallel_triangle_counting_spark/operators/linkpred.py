"""Link prediction: common-neighbor scores for non-adjacent pairs.

The standard link-graph feature (pages that share many linking pages
but don't yet link): cn(x, y) = |N(x) ∩ N(y)| over the UNDIRECTED
graph, reported for the top-k non-adjacent pairs with a fully
deterministic tie-break (score desc, then ids) so the result is a
pure function of the graph.

Note the orientation trick does NOT apply here: a triangle has exactly
one all-outgoing vertex under degree orientation, but an OPEN wedge's
center may point inward — so enumeration must use the symmetric
adjacency. The candidate pairs are `graph.wedge_pairs` over the
(center, neighbor) incidence of the symmetric graph; cost is Σ deg²
(the true size of the wedge relation), quadratic in a single hub's
degree. Two defenses, both in wedge_pairs, mirroring the reference's
hub handling (tc.cu:329-346 hub bitmap, tc.cu:348-361 wedge
balancing):

* ``max_degree`` — exclude vertices above the cap from acting as
  wedge CENTERS. This changes semantics to "common non-hub
  neighbors", the standard web-graph approximation: a portal page
  linked by millions of pages asserts almost nothing about any pair of
  them. ``None`` (default) keeps the exact metric.
* selective salting — centers of degree >= graph.WEDGE_SALT_MIN_DEG
  after the cap get their wedge pairs spread over
  graph.WEDGE_SALT_SPLITS join tasks; other centers pay nothing.

Adamic-Adar and resource allocation are wedge_pairs' per-key weight
(1/ln deg(z), 1/deg(z)); jaccard joins the endpoint degrees onto the
(already bounded) candidate list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_partitions
from .graph import build_sym_clustered, wedge_pairs

# a contributing center has >= 2 distinct neighbors, so deg >= 2 and
# ln(deg) > 0 — no division hazard
_CENTER_WEIGHTS = {
    "adamic_adar": lambda deg: 1.0 / F.log(deg.cast("double")),
    "resource_allocation": lambda deg: 1.0 / deg.cast("double"),
}


def _top_nonadjacent(edges: DataFrame, k: int, score, **wedge_kw) -> DataFrame:
    """Eager top-k of `score(pairs, sym)` over the non-adjacent
    candidate pairs [id_a, id_b, cn, ...]; `score` returns the pairs
    with their output columns and ordering applied."""
    # one-exchange symmetrize clustered on the wedge-center key
    sym = build_sym_clustered(edges, loop_partitions(edges.sparkSession)).persist()
    try:
        inc = sym.select(F.col("src").alias("key"), F.col("dst").alias("item"))
        pairs = wedge_pairs(inc, **wedge_kw).withColumnsRenamed(
            {"a": "id_a", "b": "id_b", "n": "cn"}
        )
        existing = sym.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        top = score(pairs.join(existing, ["id_a", "id_b"], "left_anti"), sym).limit(k)
        # eager localCheckpoint pins the (k-bounded) result before the
        # cached symmetric table is released — no driver materialization
        out = checkpoint(top, eager=True)
    finally:
        sym.unpersist()
    return out


def common_neighbor_pairs(
    edges: DataFrame, k: int = 50, max_degree: int | None = None
) -> DataFrame:
    """Eager DataFrame [id_a, id_b, cn]: the k highest common-neighbor
    counts among NON-adjacent vertex pairs, ties broken by (id_a,
    id_b) ascending. ``max_degree`` excludes higher-degree vertices
    from acting as wedge centers (see module docstring)."""
    return _top_nonadjacent(
        edges,
        k,
        lambda pairs, _sym: pairs.orderBy(F.desc("cn"), F.asc("id_a"), F.asc("id_b")),
        max_key_deg=max_degree,
    )


def link_prediction_scores(
    edges: DataFrame,
    k: int = 50,
    method: str = "adamic_adar",
    max_degree: int | None = None,
) -> DataFrame:
    """Eager DataFrame [id_a, id_b, cn, score]: the k best-scored
    NON-adjacent pairs under the classic link-prediction indices —
    "adamic_adar" (Σ 1/ln deg(z)), "resource_allocation" (Σ 1/deg(z)),
    or "jaccard" (|N∩N| / |N∪N|). Scores are rounded to 6 decimals and
    the top-k ORDER uses the rounded score (ties by ids), so the
    selected set is a pure function of the graph, bit-stable across
    engines — the same determinism contract as common_neighbor_pairs.

    Same hub defenses as common_neighbor_pairs (max_degree center cap,
    selective salting); jaccard adds two degree joins on the (already
    bounded) candidate list."""
    if method != "jaccard" and method not in _CENTER_WEIGHTS:
        raise ValueError(f"unknown method {method!r}")

    def score(pairs, sym):
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
                .withColumn(
                    "wsum",
                    F.col("cn").cast("double") / (F.col("da") + F.col("db") - F.col("cn")),
                )
            )
        return pairs.select(
            "id_a", "id_b", "cn", F.round("wsum", 6).alias("score")
        ).orderBy(F.desc("score"), F.asc("id_a"), F.asc("id_b"))

    return _top_nonadjacent(
        edges, k, score, max_key_deg=max_degree, key_weight=_CENTER_WEIGHTS.get(method)
    )
