"""Katz centrality, truncated, in exact integer arithmetic.

Katz(v) = Σ_{k≥1} β^k · walks_k(v), where walks_k(v) is the number of
directed walks of length k ENDING at v — the attenuated-influence
centrality that, unlike PageRank, does not normalize by out-degree
(a page linked by a hub gets the hub's full attenuated weight).

With β = 1/beta_den the truncated sum scaled by beta_den^K is

    katz_scaled(v) = Σ_{k=1..K} beta_den^(K−k) · walks_k(v)

— a sum of INTEGER walk counts times integer powers, computed in
decimal(38,0) (== DuckDB HUGEINT widening) so the cross-engine value
hash is exact with no float rounding anywhere. Callers wanting the
float centrality divide by beta_den^K.

Scale shape: one co-partitioned equi-join + one aggregation per step
(the PageRank loop regime: edge table exchanged once, clustered on
the join key src, state aggregated on dst into shuffle.partitions);
walk counts grow like (avg outdeg)^k, and decimal(38,0) holds ~10^38
— at K=4 that caps avg degree near 10^8 per the docstring bound, far
beyond any web graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_partitions
from .graph import normalize_edges

_DEC = "decimal(38,0)"


def katz_centrality_scaled(
    edges: DataFrame,
    num_iters: int = 4,
    beta_den: int = 8,
) -> DataFrame:
    """Returns [v, katz_scaled: decimal(38,0)] over every vertex of
    the deduplicated directed graph (self-loops kept — a self-link is
    a legitimate walk step for an attenuated walk count)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    e = (
        normalize_edges(edges)
        .dropDuplicates(["src", "dst"])
        .repartition(npart, "src")
        .persist()
    )
    verts = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
        .repartition(npart, "v")
        .persist()
    )
    if verts.isEmpty():
        e.unpersist()
        verts.unpersist()
        return spark.createDataFrame([], f"v long, katz_scaled {_DEC}")

    walks = verts.select("v", F.lit(1).cast(_DEC).alias("w"))
    acc = verts.select("v", F.lit(0).cast(_DEC).alias("acc"))
    for k in range(1, num_iters + 1):
        walks = checkpoint(
            e.join(walks, e.src == walks.v)
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("w").cast(_DEC).alias("w")),
            round=k,
        )
        mult = F.lit(beta_den ** (num_iters - k)).cast(_DEC)
        acc = checkpoint(
            acc.join(walks, "v", "left")
            .select(
                "v",
                (
                    F.col("acc") + mult * F.coalesce("w", F.lit(0).cast(_DEC))
                ).cast(_DEC).alias("acc"),
            ),
            round=k,
        )
        # vertices with no in-walks drop out of `walks` (sparse state,
        # the HITS lesson) but stay in `acc` via the left join
        walks = walks.filter(F.col("w") > 0)
    out = acc.select("v", F.col("acc").alias("katz_scaled"))
    out = checkpoint(out, eager=True)
    e.unpersist()
    verts.unpersist()
    return out
