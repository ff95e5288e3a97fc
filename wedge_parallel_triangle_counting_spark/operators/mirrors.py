"""Mirror-site detection over a (host, fingerprint) relation.

A web corpus at crawl scale contains wholesale mirrors — hosts serving
byte-identical page bodies under different urls (CDN vanity domains,
scraper clones, country mirrors). Deduplicating PAGES catches each
copy pair; detecting mirrored HOSTS lets a pipeline drop the clone at
the source list level (and is the standard provenance signal for
"which of these two domains is the original").

Detection = set similarity of the hosts' page-fingerprint sets:

    jaccard(A, B) = |fp(A) ∩ fp(B)| / |fp(A) ∪ fp(B)|

computed with an inverted fingerprint index (fp -> hosts), never an
all-pairs host comparison: hosts sharing ZERO fingerprints never meet
in the join. The same stop-key discipline as the shingle-based dedup
operators applies — a fingerprint present on more than
`max_hosts_per_fp` hosts (boilerplate "page not found" bodies,
parked-domain templates) is dropped from the index BEFORE the
self-join, so the candidate-pair count is bounded by
sum_fp min(freq, cap)^2 instead of the quadratic blowup a single
mega-template would cause across 10^8 hosts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import finish_with_caches, loop_partitions
from .graph import wedge_pairs


def mirror_host_pairs(
    host_fp: DataFrame,
    host_col: str = "host",
    fp_col: str = "fp",
    min_shared: int = 2,
    max_hosts_per_fp: int = 1000,
    caches: list | None = None,
) -> DataFrame:
    """(host_a, host_b, shared, n_a, n_b, jaccard_ppm) for host pairs
    sharing >= min_shared distinct page fingerprints, host_a < host_b,
    jaccard in exact integer parts-per-million.

    Plan: distinct (host, fp) clustered by fp -> per-host set sizes
    (hash agg) and graph.wedge_pairs over the fp -> host inverted index
    with the frequency cap -> two broadcast-sized size joins. The only
    edge-scale shuffle keys on fp; pair and size relations are
    #hosts-scale.
    """
    # `sets` feeds the sizes and wedge_pairs' degree and self-join —
    # persist it or every consumer re-scans the corpus and recomputes
    # the distinct (the plan audit caught exactly that)
    sets = (
        host_fp.select(
            F.col(host_col).cast("string").alias("host"),
            F.col(fp_col).cast("string").alias("fp"),
        )
        .filter(F.col("host").isNotNull() & F.col("fp").isNotNull())
        .repartition(loop_partitions(host_fp.sparkSession), "fp")
        .dropDuplicates(["host", "fp"])
        .persist()
    )
    sizes = sets.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        wedge_pairs(
            sets.select(F.col("fp").alias("key"), F.col("host").alias("item")),
            max_key_deg=max_hosts_per_fp,
        )
        .select(
            F.col("a").alias("host_a"),
            F.col("b").alias("host_b"),
            F.col("n").alias("shared"),
        )
        .filter(F.col("shared") >= min_shared)
    )
    sa = sizes.select(F.col("host").alias("host_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("host").alias("host_b"), F.col("n").alias("n_b"))
    out = (
        pairs.join(sa, "host_a")
        .join(sb, "host_b")
        .select(
            "host_a",
            "host_b",
            "shared",
            "n_a",
            "n_b",
            F.expr("shared * 1000000 DIV (n_a + n_b - shared)").alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "host_a", "host_b")
    )
    return finish_with_caches(out, [sets], caches)
