"""Eigenvector centrality over the undirected graph — the classic
power iteration x_{k+1} = A·x_k / ‖A·x_k‖₂, completing the link-
analysis family next to PageRank (damped), HITS (directed dual) and
harmonic centrality (distance-based).

Deterministic semantics (mirrored by the unrolled SQL oracle,
plans/oracles.py::eigencentrality_sql):
- graph: cleaned symmetric simple edges (self loops dropped, dedup);
- x_0 = 1 for every vertex incident to an edge;
- iteration k: x'(v) = Σ_{u~v} x_{k-1}(u);  x_k = x' / ‖x'‖₂;
- fixed iteration count (the reproducible contract). x stays strictly
  positive (x_0 > 0 and every vertex has a neighbor), so no sparse-
  state handling is needed — the state relation is exactly sym's
  vertex set every round.

Scale shape (PageRank's measured-optimal loop, see BENCH/RUNS.md
r3-d): the symmetric edge table is clustered ONCE on hash(src) —
`build_sym_clustered` — and the state carries the same single-key
hash clustering out of each round's groupBy(dst), so the state⋈edges
join is co-partitioned and the per-iteration cost is exactly ONE
edge-sized exchange (the contribution aggregation). The L2 norm is a
1-row aggregate collected as a scalar and folded into the plan as a
literal (r6: the normalization is an inherent global barrier, and the
collect doubles as the iteration's single materializing action — the
old broadcast-column norm plus per-iteration count was 2 jobs per
iteration); the unnormalized half is persisted before the norm reads
it (HITS lesson: otherwise the raw aggregation lineage runs twice per
iteration, measured ~2× the loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions
from .graph import build_sym_clustered


def eigenvector_centrality(
    edges: DataFrame,
    num_iters: int = 5,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Returns DataFrame [v: long, score: double] after `num_iters`
    L2-normalized power-iteration steps. Resumable from
    `checkpoint_dir` (state is the (v, score) relation)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    m2 = sym.count()  # materializes the persist; 2m for the fingerprint
    if m2 == 0:
        sym.unpersist()
        return spark.createDataFrame([], "v long, score double")

    loop = CheckpointedLoop(
        spark,
        "eigencentrality",
        checkpoint_dir,
        checkpoint_every,
        # pin the GRAPH, not the iteration count: extending a run from
        # k to k+n iterations is the legitimate resume case (matches
        # hits/pagerank fingerprint discipline)
        fingerprint=({"sym_edges": m2} if checkpoint_dir else None),
        resume=resume,
    )
    state = loop.start(
        sym.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.lit(1.0).alias("score"))
    )

    prev_raw = None
    for it in loop.rounds(num_iters):
        raw = (
            sym.join(state.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("score").alias("x"))
            .persist()
        )
        # the norm collect is the iteration's ONLY action (r6: the old
        # broadcast-column norm cost a broadcast-build job plus a
        # per-iteration count to materialize the checkpoint — the
        # collected scalar folds into the plan as a literal, bit-
        # identical division, 2 jobs/iteration → 1). It materializes
        # the previous round's lazily-checkpointed state, so prev_raw
        # is released only after it ran.
        nrm = raw.agg(
            F.sqrt(F.coalesce(F.sum(F.col("x") * F.col("x")), F.lit(0.0))).alias(
                "nrm"
            )
        ).collect()[0][0]
        if prev_raw is not None:
            prev_raw.unpersist()
        prev_raw = raw
        state = raw.select(
            "v",
            (
                (F.col("x") / F.lit(nrm)) if nrm and nrm > 0 else F.lit(0.0)
            ).alias("score"),
        )
        state = loop.step(state, it, eager=False)

    # materialize the final (lazily checkpointed) state before the
    # scratch frames are released; a zero-iteration call has no
    # checkpoint yet, so sever its lineage from sym explicitly
    if prev_raw is None:
        state = checkpoint(state, eager=True)
    else:
        state.count()
    sym.unpersist()
    if prev_raw is not None:
        prev_raw.unpersist()
    return state
