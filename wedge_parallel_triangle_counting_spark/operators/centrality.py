"""Harmonic (closeness-family) centrality and hop-plot statistics
from a deterministic seed sample — multi-source BFS as one
composite-keyed frontier loop.

Exact closeness needs all-pairs distances (O(n·m) — not a 100-TB
query); the standard estimator runs BFS from a sampled seed set. The
seed sample here is the same md5-threshold predicate the text
pipeline's stratified sampler uses (pure column expression, no RNG
state, identical in the DuckDB oracle), and ALL sampled sources run
in ONE level-synchronous loop over a (seed, v) composite state —
s independent BFS loops would pay s× the per-round job latency; the
composite frontier amortizes every round across all seeds (the
textbook MS-BFS layout).

harmonic(s) = Σ_{v ≠ s reachable within max_hops} 1/d(s,v), emitted
as exact integer micro-units (Σ 1e6 DIV d) so the cross-engine
compare is representation-stable. hop_histogram groups the same
distance table by hop count — the effective-diameter estimator.

Scale shape: per round one join of the composite frontier against the
src-clustered symmetric edge table + one (seed, v) anti-join against
the settled set; state is O(seeds × reached). Seeds scale by the
sample percentage, independent of graph size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions
from .graph import build_sym_clustered


def _ms_bfs(
    edges: DataFrame,
    seed_pct: int,
    max_hops: int,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
):
    """Shared multi-source BFS. Returns (dist, seeds): dist is the
    eagerly materialized (s, v, hops) distance table, seeds the
    sampled seed frame (column s)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hc:"), F.col("src").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    seeds = checkpoint(
        sym.select("src")
        .distinct()
        .filter(h % 100 < seed_pct)
        .select(F.col("src").alias("s"))
    )
    loop = CheckpointedLoop(
        spark,
        "harmonic",
        checkpoint_dir,
        checkpoint_every,
        # max_hops deliberately NOT fingerprinted: it is a run-length
        # knob, and resuming with a larger budget is the point
        fingerprint=(
            {"seed_pct": seed_pct, "sym_edges": sym.count()}
            if checkpoint_dir
            else None
        ),
        resume=resume,
    )
    dist = loop.start(
        seeds.select(
            "s", F.col("s").alias("v"), F.lit(0).cast("long").alias("hops")
        ).repartition(npart, "v")
    )
    frontier = dist
    if loop.first_round:
        # the snapshot after iteration i holds rows with hops <= i+1
        # and resumes at first_round = i+1, so the frontier (rows
        # settled in that last completed round) is exactly
        # hops == first_round. Resuming with a SMALLER max_hops than
        # the snapshot must still honor this call's contract: clamp
        # the distance table to the requested budget.
        dist = dist.filter(F.col("hops") <= max_hops)
        frontier = dist.filter(F.col("hops") == loop.first_round)
    for it in loop.rounds(max_hops):
        nbrs = (
            sym.join(frontier.select("s", "v"), sym.src == F.col("v"))
            .select("s", F.col("dst").alias("v"))
            .distinct()
        )
        new_frontier = nbrs.join(dist, ["s", "v"], "left_anti").select(
            "s", "v", F.lit(it + 1).cast("long").alias("hops")
        )
        dist = loop.step(dist.unionByName(new_frontier), it, eager=False)
        frontier = checkpoint(new_frontier, round=it)
        if loop.settled(frontier.count()):
            break
    dist = checkpoint(dist, eager=True)
    sym.unpersist()
    return dist, seeds


def harmonic_centrality(
    edges: DataFrame,
    seed_pct: int = 5,
    max_hops: int = 6,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """(seed, n_reached, harmonic_micro) for every sampled seed;
    n_reached excludes the seed itself."""
    dist, seeds = _ms_bfs(
        edges, seed_pct, max_hops, checkpoint_dir, checkpoint_every, resume
    )
    return (
        dist.filter(F.col("hops") > 0)
        .groupBy(F.col("s").alias("seed"))
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum(F.expr("1000000 DIV hops")).alias("harmonic_micro"),
        )
        # seeds that reach nothing (isolated after cleaning) still
        # appear, with zeros — join back against the seed table
        .join(seeds.select(F.col("s").alias("seed")), "seed", "right")
        .select(
            "seed",
            F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
            F.coalesce("harmonic_micro", F.lit(0)).alias("harmonic_micro"),
        )
    )


def _ms_bfs_sigma(edges: DataFrame, seed_pct: int, max_hops: int):
    """Multi-source BFS carrying shortest-path COUNTS: returns the
    eagerly materialized (s, v, hops, sigma) table where sigma is the
    number of distinct shortest s->v paths — the level-synchronous
    recurrence sigma(v @ t+1) = sum of sigma(u @ t) over neighbors u,
    exact in int64 (path counts on simple graphs at these hop budgets
    stay far inside the range; the pair-centrality consumer documents
    the bound). Same composite-frontier layout as _ms_bfs."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hc:"), F.col("src").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    seeds = (
        sym.select("src")
        .distinct()
        .filter(h % 100 < seed_pct)
        .select(F.col("src").alias("s"))
    )
    dist = checkpoint(
        seeds.select(
            "s",
            F.col("s").alias("v"),
            F.lit(0).cast("long").alias("hops"),
            F.lit(1).cast("long").alias("sigma"),
        ),
        eager=True,
    )
    frontier = dist
    for it in range(max_hops):
        cand = (
            sym.join(frontier.select("s", "v", "sigma"), sym.src == F.col("v"))
            .groupBy("s", F.col("dst").alias("w"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        new_frontier = checkpoint(
            cand.join(
                dist.select("s", F.col("v").alias("w")), ["s", "w"], "left_anti"
            )
            .select(
                "s",
                F.col("w").alias("v"),
                F.lit(it + 1).cast("long").alias("hops"),
                "sigma",
            ),
            eager=True,
        )
        if new_frontier.limit(1).count() == 0:
            break
        dist = checkpoint(dist.unionByName(new_frontier), eager=True)
        frontier = new_frontier
    sym.unpersist()
    return dist


def stress_centrality(
    edges: DataFrame,
    seed_pct: int = 5,
    max_hops: int = 4,
) -> DataFrame:
    """Sampled stress centrality (Shimbel 1953), the integer member of
    the Brandes betweenness family: for every vertex v, the number of
    shortest s-t paths THROUGH v over sampled seed pairs s < t,

        stress(v) = sum over pairs [d(s,v) + d(v,t) = d(s,t)]
                    * sigma_s(v) * sigma_t(v),   v not in {s, t},

    using the undirected symmetry sigma_t(v) with t as a seed. All
    integers — no sigma-ratio floats, so the oracle replays it exactly
    (float Brandes deltas would not survive cross-engine hash
    canonicalization). Returns (v, n_pairs, through_paths) for
    vertices on at least one pair's shortest path.

    Scale shape: the pair sum joins the (s, v, hops, sigma) table with
    itself ON v (hash-clustered, co-partitioned) and with the
    seed-to-seed distance rows (|S|^2, broadcast); cost is
    O(|S| * reach) state and O(|S|^2) per vertex in the worst case —
    the seed sample rate is the knob, independent of graph size."""
    dist = _ms_bfs_sigma(edges, seed_pct, max_hops)
    st = dist.select(
        F.col("s"),
        F.col("v").alias("t"),
        F.col("hops").alias("d_st"),
    ).filter(F.col("s") < F.col("t"))
    st = st.join(
        dist.select(F.col("s").alias("t")).distinct(), "t", "left_semi"
    )
    a = dist.select("s", "v", F.col("hops").alias("da"), F.col("sigma").alias("sa"))
    b = dist.select(
        F.col("s").alias("t"),
        "v",
        F.col("hops").alias("db"),
        F.col("sigma").alias("sb"),
    )
    return (
        a.join(b, "v")
        .filter((F.col("s") < F.col("t")) & (F.col("v") != F.col("s")) & (F.col("v") != F.col("t")))
        .join(F.broadcast(st), ["s", "t"])
        .filter(F.col("da") + F.col("db") == F.col("d_st"))
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("sa") * F.col("sb")).alias("through_paths"),
        )
    )


def closeness_centrality(
    edges: DataFrame,
    seed_pct: int = 5,
    max_hops: int = 6,
) -> DataFrame:
    """Lin-style closeness for every sampled seed: (seed, n_reached,
    closeness_micro) where closeness_micro = n_reached * 1e6 DIV
    Σ d(s,v) — the within-max_hops variant of C(s) = r/Σd, in exact
    integer micro-units (representation-stable cross-engine, same
    discipline as harmonic_micro). Zeros for seeds that reach nothing,
    so the sampled seed set is always fully present."""
    dist, seeds = _ms_bfs(edges, seed_pct, max_hops)
    return (
        dist.filter(F.col("hops") > 0)
        .groupBy(F.col("s").alias("seed"))
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("hops").alias("sum_hops"),
        )
        .join(seeds.select(F.col("s").alias("seed")), "seed", "right")
        .select(
            "seed",
            F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
            F.coalesce(
                F.expr("n_reached * 1000000 DIV sum_hops"), F.lit(0)
            ).alias("closeness_micro"),
        )
    )


def hop_histogram(
    edges: DataFrame,
    seed_pct: int = 5,
    max_hops: int = 6,
) -> DataFrame:
    """Sampled hop-plot: (hops, n_pairs) — how many (seed, v) pairs
    sit at each BFS distance, the standard effective-diameter /
    small-world diagnostic for a web graph (the 90th-percentile hop
    of this histogram IS the effective diameter estimate). Output is
    at most max_hops+1 rows at any scale."""
    dist, _ = _ms_bfs(edges, seed_pct, max_hops)
    return (
        dist.filter(F.col("hops") > 0)
        .groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.col("hops").cast("long"), "n_pairs")
    )
