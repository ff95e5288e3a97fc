"""SALSA (Lempel & Moran 2001) — stochastic HITS over a link graph.

The authority chain walks one step BACKWARD along a random in-link
then one step FORWARD along a random out-link; the hub chain does the
reverse. Unlike HITS' unnormalized sums (which converge to the
dominant eigenvector and need the L2 renormalization per half-step),
SALSA's transitions are stochastic — each step divides by the degree
of the vertex the mass leaves through — so total mass stays exactly 1
and hub/authority scores are probability distributions. This is the
ranker behind production link-recommendation systems (e.g. the
published Twitter WTF architecture) because the degree normalization
stops mega-hubs from dominating every score.

Deterministic semantics (mirrored by plans/oracles.py::salsa_sql):
- graph: distinct directed edges, self loops dropped (HITS' cleanup);
- A = vertices with in-degree > 0 (authority side), H = vertices with
  out-degree > 0 (hub side); a_0 = 1/|A| on A, h_0 = 1/|H| on H;
- iteration k (authority chain, then hub chain):
    x(v)  = Σ_{v→w} a_{k-1}(w) / in(w)      (backward half-step)
    a_k(w) = Σ_{v→w} x(v) / out(v)          (forward half-step)
    y(w)  = Σ_{v→w} h_{k-1}(v) / out(v)     (forward half-step)
    h_k(v) = Σ_{v→w} y(w) / in(w)           (backward half-step)
- fixed iteration count (the reproducible contract, like HITS).

Scale shape: in/out degrees are attached to the EDGE table once
before the loop (they are loop constants — attaching them per
iteration would be two extra joins per round), and the table is
persisted twice, hash(src)- and hash(dst)-clustered, so every
half-step join is co-partitioned with the state (the HITS
layout). The two FORWARD half-steps (a's and h's)
share one src-side join + one aggregation — per iteration the loop is
exactly THREE join+agg pairs instead of the naive four. State is
sparse (zero-score vertices carry nothing through a stochastic
step); the full vertex set is joined back once after the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions
from .graph import normalize_edges


def salsa(
    edges: DataFrame,
    num_iters: int = 5,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Returns DataFrame [v: long, hub: double, authority: double]
    for every vertex of the cleaned graph (zeros for vertices outside
    the respective chain's side)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    clean = (
        normalize_edges(edges)
        .filter(F.col("src") != F.col("dst"))
        .repartition(npart, "dst")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    outdeg = clean.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("outd")
    )
    indeg = clean.groupBy(F.col("dst").alias("v")).agg(
        F.count("*").alias("ind")
    )
    # loop-constant denominators ride ON the edge rows
    e_aug = (
        clean.join(outdeg.select(F.col("v").alias("src"), "outd"), "src")
        .join(indeg.select(F.col("v").alias("dst"), "ind"), "dst")
        .select("src", "dst", "outd", "ind")
    )
    e_dst = e_aug.repartition(npart, "dst").persist()
    e_src = e_aug.repartition(npart, "src").persist()
    n_auth = e_dst.select("dst").distinct().count()
    n_hub = e_dst.select("src").distinct().count()
    clean.unpersist()
    if n_auth == 0:
        e_dst.unpersist()
        e_src.unpersist()
        return spark.createDataFrame([], "v long, hub double, authority double")

    loop = CheckpointedLoop(
        spark,
        "salsa",
        checkpoint_dir,
        checkpoint_every,
        fingerprint=(
            {"edges": e_dst.count(), "num_iters": num_iters}
            if checkpoint_dir
            else None
        ),
        resume=resume,
    )
    auth0 = e_dst.select(F.col("dst").alias("v")).distinct().select(
        "v", F.lit(1.0 / n_auth).alias("a")
    )
    hub0 = e_dst.select(F.col("src").alias("v")).distinct().select(
        "v", F.lit(1.0 / n_hub).alias("h")
    )
    state = loop.start(
        auth0.join(hub0, "v", "full").select(
            "v",
            F.coalesce("a", F.lit(0.0)).alias("a"),
            F.coalesce("h", F.lit(0.0)).alias("h"),
        )
    )

    for it in loop.rounds(num_iters):
        # backward half-step of the authority chain: mass of a(w)
        # leaves through w's in-links
        x = (
            e_dst.join(
                state.filter(F.col("a") != 0.0).select(
                    F.col("v").alias("dst"), "a"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum(F.col("a") / F.col("ind")).alias("x"))
        )
        # the two FORWARD half-steps share one src-side join: x (the
        # authority chain's intermediate) and h (the hub chain's
        # state) both distribute over out-links
        xh = x.join(
            state.filter(F.col("h") != 0.0).select("v", "h"), "v", "full"
        ).select(
            "v",
            F.coalesce("x", F.lit(0.0)).alias("x"),
            F.coalesce("h", F.lit(0.0)).alias("h"),
        )
        fwd = (
            e_src.join(xh.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(
                F.sum(F.col("x") / F.col("outd")).alias("a"),
                F.sum(F.col("h") / F.col("outd")).alias("y"),
            )
            .persist()
        )
        # backward half-step of the hub chain
        h_new = (
            e_dst.join(
                fwd.filter(F.col("y") != 0.0).select(
                    F.col("v").alias("dst"), "y"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum(F.col("y") / F.col("ind")).alias("h"))
        )
        state = (
            fwd.select("v", "a")
            .join(h_new, "v", "full")
            .select(
                "v",
                F.coalesce("a", F.lit(0.0)).alias("a"),
                F.coalesce("h", F.lit(0.0)).alias("h"),
            )
        )
        state = loop.step(state, it, eager=False)
        state.count()  # materializes the lazy checkpoint before fwd goes
        fwd.unpersist()

    verts = (
        e_dst.select(F.col("src").alias("v"))
        .unionByName(e_dst.select(F.col("dst").alias("v")))
        .distinct()
    )
    out = checkpoint(
        verts.join(state, "v", "left")
        .select(
            "v",
            F.coalesce("h", F.lit(0.0)).alias("hub"),
            F.coalesce("a", F.lit(0.0)).alias("authority"),
        ),
        eager=True,
    )
    e_dst.unpersist()
    e_src.unpersist()
    return out
