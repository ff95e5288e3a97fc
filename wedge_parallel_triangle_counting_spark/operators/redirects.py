"""Redirect-chain resolution over a functional URL graph.

A crawl pipeline's redirect table maps each URL to AT MOST one target
(http 3xx); resolving a URL means following the chain to its terminal
page. Chains can be long and can close into cycles (redirect loops),
so per-hop iteration is O(longest chain) rounds — this operator uses
POINTER DOUBLING instead: each round every unresolved URL jumps to
its current successor's successor, so after R rounds every chain of
length ≤ 2^R is resolved. Cycles never resolve; after R rounds with
2^R ≥ the longest possible simple chain, a still-unresolved URL is
provably on (or feeding into) a redirect loop and is reported with
resolved = false.

Scale shape (the reason for doubling): a 10^12-row redirect table
with chains of length ~50 costs 6 self-join rounds instead of 50
frontier rounds, and every round is one equi-join of the state table
with itself — shuffle on a single long key, no driver-side state.
The same primitive is the classic list-ranking / path-compression
step of parallel tree algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_partitions


def resolve_redirects(redirects: DataFrame, rounds: int = 6) -> DataFrame:
    """Returns [url, final_url, hops, resolved] for every URL in the
    redirect table's universe (sources ∪ targets).

    - multiple targets for one source keep the smallest (deterministic
      tie-break, the dictionary-merge convention);
    - self-redirects are dropped;
    - terminals (never a source) resolve to themselves with hops 0;
    - resolved = false (final_url/hops NULL) marks URLs whose chain
      has not terminated after 2^rounds hops — with rounds ≥
      log2(longest simple chain), exactly the redirect-loop URLs.
    """
    spark = redirects.sparkSession
    npart = loop_partitions(spark)
    red = (
        redirects.filter(F.col("src") != F.col("dst"))
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
        .repartition(npart, "src")
        .persist()
    )
    univ = (
        red.select(F.col("src").alias("v"))
        .unionByName(red.select(F.col("dst").alias("v")))
        .distinct()
    )
    is_src = red.select(F.col("src").alias("nxt"), F.lit(True).alias("nxt_is_src"))
    state = checkpoint(
        univ.join(red, univ.v == red.src, "left")
        .select(
            "v",
            F.coalesce("dst", F.col("v")).alias("nxt"),
            F.when(F.col("dst").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("hops"),
        )
        # done ⇔ nxt is not itself a redirect source (terminal page)
        .join(is_src, "nxt", "left")
        .select("v", "nxt", "hops", F.col("nxt_is_src").isNull().alias("done"))
        .repartition(npart, "v"),
        eager=True,
    )
    for _ in range(rounds):
        if state.filter(~F.col("done")).isEmpty():
            break
        hop = state.select(
            F.col("v").alias("nxt"),
            F.col("nxt").alias("nxt2"),
            F.col("hops").alias("hops2"),
            F.col("done").alias("done2"),
        )
        jumped = (
            state.filter(~F.col("done"))
            .join(hop, "nxt")  # nxt is always in the universe
            .select(
                "v",
                F.col("nxt2").alias("nxt"),
                (F.col("hops") + F.col("hops2")).alias("hops"),
                F.col("done2").alias("done"),
            )
        )
        state = checkpoint(
            state.filter(F.col("done"))
            .unionByName(jumped)
            .repartition(npart, "v"),
            # eager checkpoint = per-round lineage truncation; the
            # self-join would otherwise double the plan every round
            eager=True,
        )
    red.unpersist()
    return state.select(
        F.col("v").alias("url"),
        F.when(F.col("done"), F.col("nxt")).alias("final_url"),
        F.when(F.col("done"), F.col("hops")).alias("hops"),
        F.col("done").alias("resolved"),
    )
