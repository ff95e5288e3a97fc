"""HITS (hubs and authorities, Kleinberg) over a directed edge table.

The natural companion to PageRank for a link graph: authority(v) sums
the hub scores of pages linking TO v; hub(u) sums the authority
scores of pages u links to; each half-step is L2-normalized. Not in
the reference (a triangle-counting engine) — part of the north-rule
link-analysis surface alongside PageRank/components/labelprop.

Deterministic semantics (mirrored by the unrolled SQL oracle,
plans/oracles.py::hits_sql):
- graph: distinct directed edges, self loops dropped;
- a_0 = h_0 = 1 for every vertex in src ∪ dst;
- iteration k: a'(v) = Σ_{u→v} h_{k-1}(u);  a_k = a'/‖a'‖₂
             then h'(u) = Σ_{u→v} a_k(v);   h_k = h'/‖h'‖₂
  (the classic sequential update — authorities first, hubs read the
  NEW authorities);
- fixed iteration count (the reproducible contract, like labelprop).

Scale shape: the edge table is clustered ONCE (hash(dst) — the
authority half-step's join key; the hub half-step joins on src and
pays the one exchange AQE can't avoid); each half-step is one join +
one aggregation. The L2 norms are the iteration's ONLY driver actions
(each is a 1-row aggregate collected as a scalar and folded into the
plan as a literal — the normalization is an inherent global barrier
either way, and collecting it replaces the old broadcast-build job +
per-iteration full-join/count materialization: r6 optimization, 3
jobs/iteration → 2, the sequential minimum for the two dependent
half-steps). Only the hub vector is carried between iterations — the
authority vector is consumed by the hub half-step and the final
output, exactly the oracle CTE chain's shape — so the per-iteration
checkpoint state halves and the h ⋈ a full join runs once at the
end instead of every iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions
from .graph import normalize_edges


def hits(
    edges: DataFrame,
    num_iters: int = 5,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Returns DataFrame [v: long, hub: double, authority: double].

    The clean edge table is persisted TWICE — hash(src)- and
    hash(dst)-clustered — so BOTH half-step joins are co-partitioned
    with the hash(v) state and no edge-sized exchange happens inside
    the loop (one extra exchange at setup buys 2·num_iters of them;
    the per-iteration cost is then only the two contribution
    aggregations)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    e = (
        normalize_edges(edges)
        .filter(F.col("src") != F.col("dst"))
        .repartition(npart, "dst")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    e_src = e.repartition(npart, "src").persist()
    verts = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
        .repartition(npart, "v")
    )

    loop = CheckpointedLoop(
        spark,
        "hits",
        checkpoint_dir,
        checkpoint_every,
        fingerprint=({"edges": e.count()} if checkpoint_dir else None),
        resume=resume,
    )
    # authority is carried in the INITIAL/durable state only so a
    # resumed-finished run (first_round == num_iters) can still return
    # both vectors; the in-loop state reads just the hub column
    state = loop.start(
        verts.select("v", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority"))
    )

    a = None
    prev_scratch: list[DataFrame] = []
    for it in loop.rounds(num_iters):
        # SPARSE state: vertices with zero hub/authority carry no
        # information through the loop (they contribute nothing to
        # either half-step's sum or to the L2 norms), so the
        # per-iteration relations hold only nonzero rows and the full
        # vertex set is joined back ONCE after the loop.
        #
        # The unnormalized half is PERSISTED before the norm reads it —
        # otherwise the raw aggregation lineage is computed once for
        # the norm and again for the normalized values (and the hub
        # half compounds it), measured ~2x the whole loop.
        a_un = (
            e_src.join(state.select(F.col("v").alias("src"), "hub"), "src")
            .filter(F.col("hub") != 0.0)
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("hub").alias("a_raw"))
            .persist()
        )
        # the norm collect is the round's FIRST action: it materializes
        # the previous round's lazily-checkpointed hub state, so the
        # previous round's scratch frames can be released only now
        a_nrm = a_un.agg(
            F.sqrt(
                F.coalesce(F.sum(F.col("a_raw") * F.col("a_raw")), F.lit(0.0))
            ).alias("nrm")
        ).collect()[0][0]
        for c in prev_scratch:
            c.unpersist()
        # division by the collected literal is bit-identical to the old
        # broadcast-column division (the same IEEE double crosses py4j
        # exactly); nrm == 0 means a_un is all-zero rows (or empty)
        a = a_un.select(
            "v",
            (
                (F.col("a_raw") / F.lit(a_nrm)) if a_nrm and a_nrm > 0 else F.lit(0.0)
            ).alias("authority"),
        )
        # hub half-step reads the NEW authorities
        h_un = (
            e.join(a.select(F.col("v").alias("dst"), "authority"), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum("authority").alias("h_raw"))
            .persist()
        )
        h_nrm = h_un.agg(
            F.sqrt(
                F.coalesce(F.sum(F.col("h_raw") * F.col("h_raw")), F.lit(0.0))
            ).alias("nrm")
        ).collect()[0][0]
        h = h_un.select(
            "v",
            (
                (F.col("h_raw") / F.lit(h_nrm)) if h_nrm and h_nrm > 0 else F.lit(0.0)
            ).alias("hub"),
        )
        prev_scratch = [a_un, h_un]
        # durable snapshots keep the full (hub, authority) state so
        # a resume stays self-contained; the in-memory per-round state
        # is hub-only
        if checkpoint_dir and it % loop.every == 0:
            step_df = h.join(a, "v", "full").select(
                "v",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
        else:
            step_df = h
        state = loop.step(step_df, it, eager=False)

    # densify once: the sparse loop state only carries nonzero rows.
    # `a` is None only when no iteration ran this call (num_iters == 0
    # or a resumed-finished run) — then the state itself carries both
    # columns (initial or durable-snapshot schema).
    if a is None:
        out = checkpoint(
            verts.join(state, "v", "left").select(
                "v",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            ),
            eager=True,
        )
    else:
        out = checkpoint(
            verts.join(state.select("v", "hub"), "v", "left")
            .join(a, "v", "left")
            .select(
                "v",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            ),
            eager=True,
        )
    for c in prev_scratch:
        c.unpersist()
    e.unpersist()
    e_src.unpersist()
    return out
