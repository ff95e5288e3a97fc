"""Partition- and graph-quality metrics: Newman modularity of a
vertex partition and the global clustering coefficient
(transitivity).

Both are single-pass aggregation plans (no iteration, no Python in
the hot path) whose outputs are exact-integer surrogates (ppm) so the
DuckDB oracles agree bit-for-bit:

- modularity Q of partition c over the cleaned undirected graph:
    Q = sum_c [ m_c/m - (D_c / 2m)^2 ]
  scaled by the exact common denominator 4m^2:
    Q * 4m^2 = 4m * sum_c m_c  -  sum_c D_c^2        (all integers)
  and reported as ppm = floor(Q * 1e6). Because Q can be negative and
  Spark's `div` truncates toward zero while floor-semantics are wanted
  on both engines, the numerator is shifted by +q_den (|Q| <= 1 so the
  shifted numerator is >= 0, where truncation == floor on BOTH
  engines) and 1e6 is subtracted back after the division.
- transitivity = 3*triangles / wedges, wedges = sum_v d(v)(d(v)-1)/2
  over the SYMMETRIC degree (not the oriented wedge count that
  drives the WeTriC work estimate), reported in ppm.

Scale shape: the quadratic terms (D_c^2, 4m^2, the *1e6 products) are
computed in DECIMAL(38,0) — Spark's exact decimal == DuckDB HUGEINT
widening — so the math is exact beyond the int64 ceiling (good past
10^12 edges); only the bounded outputs (ppm, counts) are bigint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def _clean_undirected(edges: DataFrame) -> DataFrame:
    """Canonical simple undirected edges (a < b), self-loops dropped."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def modularity(
    edges: DataFrame,
    assignment: DataFrame,
    v_col: str = "v",
    c_col: str = "community",
) -> DataFrame:
    """Newman modularity of `assignment` (v_col -> c_col) over the
    undirected simple graph induced by `edges` [src, dst].

    Returns ONE row (n_communities, m_edges, intra_edges, q_ppm);
    empty frame iff the cleaned graph has no edges. Vertices missing
    from `assignment` count as singleton communities (coalesced to a
    per-vertex sentinel), so a partial labeling is still scored.

    The whole metric is one declarative plan: canonicalize edges,
    degree agg, two broadcast-sized community joins, one rollup whose
    key cardinality is #communities, and a 1-row crossJoin to attach
    m — no driver collect, no iteration. Community-key skew is
    bounded: the per-community rollup carries only (sum_d, m_in)
    partial aggregates, so map-side combine absorbs the fan-in.
    """
    e = _clean_undirected(edges)
    mm = e.agg(F.count(F.lit(1)).cast(_DEC).alias("m"))

    sym = e.select(F.col("a").alias("v")).unionAll(e.select(F.col("b").alias("v")))
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("d"))

    asg = assignment.select(
        F.col(v_col).alias("v"), F.col(c_col).cast("string").alias("c")
    )
    vc = deg.join(asg, "v", "left").select(
        "v",
        "d",
        F.coalesce(
            F.col("c"), F.concat(F.lit("__singleton__"), F.col("v").cast("string"))
        ).alias("c"),
    )

    per_d = vc.groupBy("c").agg(F.sum("d").cast(_DEC).alias("dsum"))
    intra = (
        e.join(vc.select(F.col("v").alias("a"), F.col("c").alias("ca")), "a")
        .join(vc.select(F.col("v").alias("b"), F.col("c").alias("cb")), "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("m_in"))
    )
    per_c = per_d.join(intra, "c", "left").select(
        "c", "dsum", F.coalesce(F.col("m_in"), F.lit(0)).alias("m_in")
    )

    tot = per_c.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum("m_in").alias("intra_edges"),
        F.sum(F.col("m_in").cast(_DEC)).alias("s_in"),
        F.sum(F.col("dsum") * F.col("dsum")).alias("s_d2"),
    )

    # attach m (1-row broadcast) and do the shifted exact division
    # (`div` on decimals is Spark's IntegralDivide -> bigint; the
    # quotient here is ppm-scaled, far inside the long range)
    out = (
        tot.crossJoin(F.broadcast(mm))
        .filter(F.col("m") > 0)
        .withColumn("q_den", F.lit(4).cast(_DEC) * F.col("m") * F.col("m"))
        .withColumn(
            "q_num",
            F.lit(4).cast(_DEC) * F.col("m") * F.col("s_in") - F.col("s_d2"),
        )
    )
    return out.select(
        F.col("n_communities").cast("long").alias("n_communities"),
        F.col("m").cast("long").alias("m_edges"),
        F.col("intra_edges").cast("long").alias("intra_edges"),
        (
            F.expr(
                "((q_num + q_den) * CAST(1000000 AS decimal(38,0))) div q_den"
            )
            - F.lit(1000000)
        ).alias("q_ppm"),
    )


def transitivity(edges: DataFrame) -> DataFrame:
    """Global clustering coefficient: 3*triangles / wedges over the
    cleaned undirected graph, in exact ppm. Returns ONE row
    (triangles, wedges, transitivity_ppm); empty iff no wedges.

    Triangles come from the engine's triangle lane (`triangle_count`'s
    default wedge strategy); wedges are the symmetric-degree closed form
    sum d(d-1)/2 computed in DECIMAL(38,0) (a 10^9-degree hub alone
    contributes ~5e17 — int64 survives the web graph but not with
    margin, so the sum is widened and only the final cast is long).
    """
    from .triangles import triangle_count

    tri = triangle_count(edges)  # eager 1-row [triangles]

    e = _clean_undirected(edges)
    sym = e.select(F.col("a").alias("v")).unionAll(e.select(F.col("b").alias("v")))
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    wed = deg.agg(
        F.coalesce(
            F.sum(
                F.expr("(CAST(d AS decimal(38,0)) * (d - 1)) div 2").cast(_DEC)
            ),
            F.lit(0).cast(_DEC),
        ).alias("w")
    )
    out = tri.crossJoin(F.broadcast(wed)).filter(F.col("w") > 0)
    return out.select(
        F.col("triangles").cast("long").alias("triangles"),
        F.col("w").cast("long").alias("wedges"),
        F.expr(
            "(CAST(triangles AS decimal(38,0)) * 3000000) div w"
        ).alias("transitivity_ppm"),
    )
