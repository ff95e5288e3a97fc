"""PageRank power iteration as a checkpointed DataFrame loop.

Semantics (mirrored exactly by the unrolled SQL oracle in
plans/oracles.py):
- graph: DISTINCT directed edges (parallel edges collapse; self loops
  kept — they are ordinary links for PageRank);
- vertices: all endpoints;
- r_0(v) = 1/N;
- r_{k+1}(v) = (1-d)/N + d * (Σ_{u→v} r_k(u)/outdeg(u) + dangling_k/N)
  where dangling_k = Σ_{outdeg(u)=0} r_k(u). Total mass stays 1.

Scale design (r3, after profiling the 0.67 scaling efficiency):
- ONE shuffle per iteration: contributions AND the per-vertex carry
  rows (v, 0, outdeg) feed the SAME groupBy(v) aggregation, so the
  old `outdeg ⋈ contribs` sort-merge join — a per-iteration
  vertex-sized sort + AQE-sensitive exchange — is gone entirely. The
  carry rows come from the cached outdeg table map-side (n extra rows
  into an edge-sized shuffle: negligible for m >> n web graphs).
- The static edge side is pre-partitioned with numPartitions =
  spark.sql.shuffle.partitions (NOT defaultParallelism): the
  aggregation output and the checkpointed state use the shuffle
  partition count, so a mismatch re-exchanged the EDGE table every
  iteration. That count is one partition per core on `local[N]`
  (session.get_spark's partition rule): AQE cannot coalesce the
  explicit repartitions, and the fixed 32 of earlier rounds made a
  2-round durable run over 168 k links on 4 cores cost 500 tasks,
  three 64-task union stages of ~550 ms each among them (77 tasks at
  4 partitions).
- a lazy `checkpointing.checkpoint` truncates lineage without a
  dedicated materialization job per iteration (the next action — the
  dangling broadcast — materializes it; iterative lineage blowup,
  SURVEY §7.3). Every 8th round's checkpoint is eager, which bounds
  the RDD lineage of the carried ranks to 8 rounds.
- Driver-local lane (checkpointing.local_input): when Catalyst's size
  estimate of the edge table is at most 3 bytes per row of
  LOCAL_LANE_MAX_EDGES (parquet int pairs measure >= 3.7 B/row; no
  job), `pagerank` collects src/dst once through Arrow — more rows than
  the cap abort to the Spark lane — and runs the same graph build and
  recurrence in float64 numpy on the driver — the same operation
  order as the Spark expressions, so the lanes differ only in
  summation order (ulps). Small runs are bound by Spark's per-stage
  cost, not by the data: a 2-round durable run over 168 k links took
  25 jobs on the Spark lane. Any other input — a larger estimate, or
  none (a frame built from Python rows or an RDD reads as huge) —
  takes the Spark lane without a job. Durable snapshots, the manifest
  and its fingerprint are shared, so either lane resumes the other's
  checkpoint. Null endpoints take the Spark lane, as does an
  `init_ranks` that repeats a vertex id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import (
    CheckpointedLoop,
    checkpoint,
    collect_arrays,
    local_input,
    loop_partitions,
)


def _edge_cols(weight_col: str | None) -> list:
    """(src, dst[, w]) as long, long[, double]: the input both lanes read."""
    cols = [
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("w"))
    return cols


def _prepare(edges: DataFrame, weight_col: str | None, npart: int):
    """(edge table, per-vertex out-mass), both persisted and clustered
    for the loop. Unweighted: DISTINCT edges, out-mass = out-degree.
    Weighted: duplicate (src, dst) rows SUM their weights, out-mass =
    Σ outgoing weight (the host-graph n_links semantics).

    ONE edge-sized exchange total: the explicit hash(src) clustering
    goes in FIRST, so the dedup/weight-sum aggregation and the
    out-mass aggregation both reuse it (same fusion as the triangle
    prep, graph.prepare_oriented_fast), and — because the edge table
    is persisted before anything derives from it — the dedup runs
    once, not once per derived frame."""
    base = edges.select(*_edge_cols(weight_col)).repartition(npart, "src")
    if weight_col is None:
        e = base.dropDuplicates(["src", "dst"])
        out_expr, zero = F.count("*"), F.lit(0)
    else:
        e = base.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        out_expr, zero = F.sum("w"), F.lit(0.0)
    e = e.persist()
    verts = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    outdeg = (
        verts.join(
            e.groupBy(F.col("src").alias("v")).agg(out_expr.alias("outdeg")),
            "v",
            "left",
        )
        .select("v", F.coalesce("outdeg", zero).alias("outdeg"))
        .repartition(npart, "v")
        .persist()
    )
    return e, outdeg


def pagerank(
    edges: DataFrame,
    num_iters: int = 10,
    damping: float = 0.85,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    partition_stats: bool = False,
    sources: list[int] | None = None,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
    residuals_out: list | None = None,
) -> DataFrame:
    """Returns DataFrame [v: long, pr: double]. Runs `num_iters`
    iterations, or stops earlier when the L1 delta falls below `tol`
    (if given). Resumable from `checkpoint_dir`.

    `sources` switches to PERSONALIZED PageRank: teleport (and
    dangling mass) goes to the source set instead of uniformly —
    s(v) = 1/|S| for v ∈ S else 0, r_0 = s,
    r_{k+1}(v) = (1-d)·s(v) + d·(Σ_{u→v} r_k(u)/out(u) + dangling_k·s(v)).
    The source list is a query parameter (small), carried as a column
    in the iteration state — no per-iteration driver work.

    `weight_col` switches to WEIGHTED PageRank: duplicate (src, dst)
    rows sum their weights, and a link's share of pr(u) is
    w(u,v) / Σ_x w(u,x) instead of 1/outdeg(u) — the natural semantics
    for a host-graph rollup where the weight is the link count.

    `residuals_out`, when a list, receives one 1-row DataFrame
    (iter, l1_residual) per iteration — the convergence diagnostic
    (round-6 L1 delta between consecutive rank vectors). Tracking
    makes each iteration's checkpoint EAGER so every intermediate
    state is materialized once and each residual aggregate reads two
    cached states instead of recomputing the loop prefix. On a
    resumed run the list covers only the iterations THIS run executed
    (the iter column carries the true iteration number).

    `init_ranks` (v, pr) WARM-STARTS the power iteration: vertices
    present in it start from the given value, new vertices from the
    cold init (1/n, or s(v) when personalized). The fixed point does
    not depend on the init — damping contracts any start to the same
    ranks — so warm-starting from the PREVIOUS crawl's published
    ranks after a snapshot diff buys convergence in the few
    iterations the churn actually perturbed, instead of re-running
    the full schedule over 10^12 edges. Pair with `tol` in
    production; tests pin `num_iters` for exact oracle replay."""
    spark = edges.sparkSession
    arrays, lane = local_input(edges.select(*_edge_cols(weight_col)))
    warm = None
    if arrays is not None and init_ranks is not None:
        # a null id never joins and a null pr means "cold", as in the
        # Spark lane's left join + coalesce
        warm = collect_arrays(
            init_ranks.select(
                F.col("v").cast("long").alias("v"),
                F.col("pr").cast("double").alias("pr"),
            ).dropna(),
            "v",
            "pr",
        )
        if len(np.unique(warm[0])) < len(warm[0]):
            # the Spark lane's join repeats such a vertex; only it can
            # say what that means
            arrays, warm = None, None
            lane.update(lane="spark", basis="init_ranks", value=None)
    if arrays is not None:
        return _pagerank_local(
            spark, arrays, warm, lane, num_iters, damping, tol,
            checkpoint_dir, checkpoint_every, resume, partition_stats,
            sources, weight_col, residuals_out,
        )
    # align the static sides with the per-iteration aggregation output
    # (spark.sql.shuffle.partitions) — a defaultParallelism mismatch
    # re-exchanged the edge table every iteration
    npart = loop_partitions(spark)
    # Static sides of the per-iteration plan: partitioned once inside
    # _prepare, reused every iteration.
    e, outdeg = _prepare(edges, weight_col, npart)
    n = outdeg.count()
    if n == 0:
        e.unpersist()
        outdeg.unpersist()
        return spark.createDataFrame([], "v long, pr double")

    loop = CheckpointedLoop(
        spark,
        "pagerank",
        checkpoint_dir,
        checkpoint_every,
        collect_partition_stats=partition_stats,
        # the edge count job only runs when checkpointing is on
        fingerprint=(
            _fingerprint(n, e.count(), damping, sources, weight_col, init_ranks)
            if checkpoint_dir
            else None
        ),
        resume=resume,
        lane=lane,
    )
    if sources is not None:
        srcs = [int(x) for x in sources]
        s_col = F.when(F.col("v").isin(srcs), F.lit(1.0 / len(srcs))).otherwise(
            F.lit(0.0)
        )
    else:
        s_col = None
    # state carries outdeg so the iteration needs no ranks⋈outdeg
    # join — one fewer shuffle per iteration
    init = s_col if s_col is not None else F.lit(1.0 / n)
    if init_ranks is not None:
        ranks = (
            outdeg.join(
                init_ranks.select("v", F.col("pr").alias("pr0")), "v", "left"
            )
            .select("v", "outdeg", F.coalesce("pr0", init).alias("pr"))
        )
    else:
        ranks = outdeg.select("v", "outdeg", init.alias("pr"))
    ranks = loop.start(ranks)

    base = (1.0 - damping) / n
    # NOTE: PageRank does NOT broadcast its state, unlike
    # labelprop/hashmin: a per-round broadcast adds a collect+broadcast
    # job per iteration. Interleaved A/B at sf0.1 local[32]: broadcast
    # 5.2s vs shuffle join 3.5-3.8s, all reps same sign. The shuffle
    # join is NOT co-partitioned: the edge side keeps _prepare's
    # hash(src) clustering, but the carried ranks are a checkpointed
    # frame that reports UnknownPartitioning, so their vertex-sized
    # side is re-exchanged on v every round (ROADMAP direction 3).
    ranks = _iterate(
        loop, e, outdeg, ranks, s_col, base, damping, n, num_iters, tol,
        weighted=weight_col is not None, residuals=residuals_out,
    )
    e.unpersist()
    outdeg.unpersist()
    return ranks.select("v", "pr")


def _fingerprint(n, m, damping, sources, weight_col, init_ranks) -> dict:
    """The checkpoint fingerprint, the same in both lanes. It must pin
    the GRAPH and the QUERY, not just the vertex count (ADVICE r2):
    same-n different graphs, or a personalized run resuming a plain
    run's checkpoint, must be rejected — match the components/kcore
    fingerprints."""
    return {
        "n_vertices": n,
        "m_edges": m,
        "damping": damping,
        "sources": sorted(int(x) for x in sources) if sources is not None else None,
        "weight_col": weight_col,
        "warm_start": init_ranks is not None,
    }


def _pagerank_local(
    spark, arrays, warm, lane, num_iters, damping, tol, checkpoint_dir,
    checkpoint_every, resume, partition_stats, sources, weight_col, residuals,
):
    """`pagerank` on the driver-local lane, from the collected
    (src, dst[, w]) arrays: `_prepare`'s graph in numpy, then
    `_iterate`'s recurrence in the order of its Spark expressions."""
    src, dst = arrays[0], arrays[1]
    # vertices = all endpoints, as dense indices into the sorted ids
    v, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(v)
    if n == 0:
        return spark.createDataFrame([], "v long, pr double")
    # distinct edges (weighted: duplicate rows sum their weights) as
    # src*n + dst keys; n <= 2*LOCAL_LANE_MAX_EDGES keeps them in int64
    key = idx[: len(src)] * n + idx[len(src):]
    w = None
    if weight_col is None:
        key = np.unique(key)
    else:
        key, at = np.unique(key, return_inverse=True)
        w = np.bincount(at, weights=arrays[2], minlength=len(key))
    es, ed = np.divmod(key, n)
    # out-mass: out-degree (int64), or the summed outgoing weight
    outdeg = np.bincount(es, weights=w, minlength=n)

    loop = CheckpointedLoop(
        spark,
        "pagerank",
        checkpoint_dir,
        checkpoint_every,
        collect_partition_stats=partition_stats,
        fingerprint=(
            _fingerprint(n, len(key), damping, sources, weight_col, warm)
            if checkpoint_dir
            else None
        ),
        resume=resume,
        lane=lane,
    )
    s = None
    if sources is not None:
        srcs = [int(x) for x in sources]
        s = np.where(np.isin(v, srcs), 1.0 / len(srcs), 0.0)
    pr = s if s is not None else np.full(n, 1.0 / n)
    if warm is not None:
        pos = np.minimum(np.searchsorted(v, warm[0]), n - 1)
        hit = v[pos] == warm[0]
        pr = pr.copy()
        pr[pos[hit]] = warm[1][hit]
    pr = loop.start_local({"v": v, "outdeg": outdeg, "pr": pr})["pr"]

    # only sources with out-mass > 0 contribute; only out-mass == 0 is
    # dangling (a negative weighted out-mass is neither)
    live = outdeg[es] > 0
    es, ed = es[live], ed[live]
    od = outdeg[es]
    w = w[live] if w is not None else None
    dangling_v = outdeg == 0
    base = (1.0 - damping) / n
    for it in loop.rounds(num_iters):
        dangling = pr[dangling_v].sum()
        share = pr[es] * w / od if w is not None else pr[es] / od
        contrib = np.bincount(ed, weights=share, minlength=n)
        if s is None:
            new = base + damping * (contrib + dangling / n)
        else:
            new = (1.0 - damping) * s + damping * (contrib + dangling * s)
        loop.step_local({"v": v, "outdeg": outdeg, "pr": new}, it)
        delta = None
        if residuals is not None or tol is not None:
            delta = float(np.abs(new - pr).sum())
        if residuals is not None:
            residuals.append(
                spark.createDataFrame(
                    [(it + 1, delta)], "iter long, l1_residual double"
                ).select("iter", F.round("l1_residual", 6).alias("l1_residual"))
            )
        pr = new
        if tol is not None and loop.settled(int(delta >= tol), l1_delta=delta):
            break
    return spark.createDataFrame(pd.DataFrame({"v": v, "pr": pr}), "v long, pr double")


def _iterate(
    loop, e, outdeg, ranks, s_col, base, damping, n, num_iters, tol,
    weighted=False, residuals=None,
):
    for it in loop.rounds(num_iters):
        # dangling mass as a 1-row aggregate cross-joined into the plan
        # — no separate driver action per iteration
        dangling_df = ranks.filter(F.col("outdeg") == 0).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dangling")
        )
        # contributions and the per-vertex carry rows (v, 0.0, outdeg)
        # share ONE groupBy(v): the aggregate re-attaches outdeg (max
        # over the single non-null carry) and guarantees every vertex a
        # row — no outdeg join, no per-iteration vertex sort
        share = (
            F.col("pr") * F.col("w") / F.col("outdeg")
            if weighted
            else F.col("pr") / F.col("outdeg")
        )
        od_type = "double" if weighted else "long"
        contrib_rows = (
            e.join(ranks.filter(F.col("outdeg") > 0), e.src == F.col("v"))
            .select(
                F.col("dst").alias("v"),
                share.alias("c"),
                F.lit(None).cast(od_type).alias("od"),
            )
        )
        carry_rows = outdeg.select(
            "v", F.lit(0.0).alias("c"), F.col("outdeg").alias("od")
        )
        agg = (
            contrib_rows.unionByName(carry_rows)
            .groupBy("v")
            .agg(F.sum("c").alias("contrib"), F.max("od").alias("outdeg"))
        )
        if s_col is None:
            pr_expr = F.lit(base) + F.lit(damping) * (
                F.col("contrib") + F.col("dangling") / n
            )
        else:
            pr_expr = F.lit(1.0 - damping) * s_col + F.lit(damping) * (
                F.col("contrib") + F.col("dangling") * s_col
            )
        new_ranks = (
            agg.crossJoin(F.broadcast(dangling_df))
            .select("v", "outdeg", pr_expr.alias("pr"))
        )
        # lazy checkpoint: lineage is truncated, materialization rides
        # the next action (the following iteration's dangling broadcast,
        # the delta check, or the caller's terminal action) — one fewer
        # job per iteration
        new_ranks = loop.step(new_ranks, it, eager=residuals is not None)
        if residuals is not None:
            # eager: the 1-row aggregate must be computed while the
            # static caches and both rank states are live — the caller
            # reads the list only after pagerank() released them
            residuals.append(
                checkpoint(
                    new_ranks.alias("a")
                    .join(ranks.alias("b"), "v")
                    .agg(
                        F.round(
                            F.sum(F.abs(F.col("a.pr") - F.col("b.pr"))), 6
                        ).alias("l1_residual")
                    )
                    .select(
                        F.lit(it + 1).cast("long").alias("iter"), "l1_residual"
                    ),
                    eager=True,
                )
            )
        delta = None
        if tol is not None:
            delta = (
                new_ranks.alias("a")
                .join(ranks.alias("b"), "v")
                .agg(F.sum(F.abs(F.col("a.pr") - F.col("b.pr"))))
                .collect()[0][0]
            )
        ranks = new_ranks
        if delta is not None and loop.settled(int(delta >= tol), l1_delta=delta):
            break
    # materialize the final (lazily checkpointed) state so the caller's
    # actions never recompute the loop and the static caches can be
    # released (same contract as triangle_count)
    ranks.count()
    return ranks


def pagerank_topics(
    edges: DataFrame,
    topics: dict[str, list[int]],
    num_iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Topic-sensitive PageRank (Haveliwala 2002): T personalized
    PageRank vectors — one per topic seed set — computed in a SINGLE
    batched power iteration. Returns [v: long, topic: string,
    pr: double] with per-topic semantics identical to
    `pagerank(..., sources=topics[t])`.

    Scale design: the naive plan runs the loop once per topic, i.e.
    T edge-sized shuffles per iteration. Here the state carries all T
    rank columns side by side, so every iteration is still exactly ONE
    edge-sized shuffle (the same fused contribution+carry aggregation
    as `pagerank`) regardless of T — the edge row is read once and
    fans its T shares out map-side. For a web pipeline computing
    topic/trust/locale vectors together over 10^12 edges this is a T×
    reduction of the dominant cost. T is a query-plan constant (tens,
    not thousands — each topic adds one double column to the shuffled
    state); for very large T, batch in groups.

    Dangling + teleport mass go to each topic's seed set, exactly as
    in the personalized variant (mass of each vector stays 1). Unlike
    the spam_mass composition — two INDEPENDENT full runs whose
    shuffle budget the loop cannot share across its own iterations —
    the T vectors here share every edge exchange.
    """
    names = list(topics)
    T = len(names)
    spark = edges.sparkSession
    if T == 0:
        return spark.createDataFrame([], "v long, topic string, pr double")
    seeds = []
    for t in names:
        s = sorted({int(x) for x in topics[t]})
        if not s:
            raise ValueError(f"topic {t!r} has an empty seed set")
        seeds.append(s)
    npart = loop_partitions(spark)
    e, outdeg = _prepare(edges, None, npart)
    n = outdeg.count()
    if n == 0:
        e.unpersist()
        outdeg.unpersist()
        return spark.createDataFrame([], "v long, topic string, pr double")
    s_cols = [
        F.when(F.col("v").isin(s), F.lit(1.0 / len(s))).otherwise(F.lit(0.0))
        for s in seeds
    ]
    p = [f"p{i}" for i in range(T)]
    ranks = outdeg.select(
        "v", "outdeg", *[s_cols[i].alias(p[i]) for i in range(T)]
    )
    for it in range(num_iters):
        dangling_df = ranks.filter(F.col("outdeg") == 0).agg(
            *[
                F.coalesce(F.sum(p[i]), F.lit(0.0)).alias(f"d{i}")
                for i in range(T)
            ]
        )
        contrib_rows = (
            e.join(ranks.filter(F.col("outdeg") > 0), e.src == F.col("v"))
            .select(
                F.col("dst").alias("v"),
                *[
                    (F.col(p[i]) / F.col("outdeg")).alias(f"c{i}")
                    for i in range(T)
                ],
                F.lit(None).cast("long").alias("od"),
            )
        )
        carry_rows = outdeg.select(
            "v",
            *[F.lit(0.0).alias(f"c{i}") for i in range(T)],
            F.col("outdeg").alias("od"),
        )
        agg = (
            contrib_rows.unionByName(carry_rows)
            .groupBy("v")
            .agg(
                *[F.sum(f"c{i}").alias(f"s{i}") for i in range(T)],
                F.max("od").alias("outdeg"),
            )
        )
        new_ranks = agg.crossJoin(F.broadcast(dangling_df)).select(
            "v",
            "outdeg",
            *[
                (
                    F.lit(1.0 - damping) * s_cols[i]
                    + F.lit(damping)
                    * (F.col(f"s{i}") + F.col(f"d{i}") * s_cols[i])
                ).alias(p[i])
                for i in range(T)
            ],
        )
        # same lazy lineage truncation as the plain loop: the next
        # iteration's dangling broadcast (or the terminal count)
        # materializes it
        ranks = checkpoint(new_ranks, round=it)
    # materialize the final (lazily checkpointed) state so the caller's
    # actions never recompute the loop (same contract as pagerank)
    ranks.count()
    e.unpersist()
    outdeg.unpersist()
    # unpivot to (v, topic, pr) — T rows per vertex, SQL-comparable
    quoted = ", ".join(
        "'" + t.replace("'", "''") + f"', {p[i]}" for i, t in enumerate(names)
    )
    out = ranks.select(
        "v", F.expr(f"stack({T}, {quoted}) AS (topic, pr)")
    ).select("v", "topic", "pr")
    return out


def pagerank_convergence(
    edges: DataFrame, num_iters: int = 5, damping: float = 0.85
) -> DataFrame:
    """Per-iteration convergence diagnostics of the power iteration:
    (iter, l1_residual) with l1_residual = Σ_v |r_i(v) − r_{i−1}(v)|
    rounded to 6 dp — the report an operator watches to pick the
    production iteration budget (the geometric decay slope ≈ damping)
    and the basis for tol-based early exit.

    Runs the REAL pagerank loop (same plan, eager per-iteration
    checkpoints) and unions the tracked 1-row residual aggregates;
    output cardinality = num_iters."""
    from functools import reduce

    frames: list[DataFrame] = []
    pagerank(edges, num_iters=num_iters, damping=damping, residuals_out=frames)
    spark = edges.sparkSession
    if not frames:
        return spark.createDataFrame([], "iter long, l1_residual double")
    return reduce(lambda a, b: a.unionByName(b), frames)


def spam_mass(
    edges: DataFrame,
    trusted: list[int],
    num_iters: int = 10,
    damping: float = 0.85,
    ndigits: int = 6,
) -> DataFrame:
    """Relative spam mass (Gyöngyi, Garcia-Molina & Pedersen 2004 /
    the TrustRank companion metric): how much of a page's PageRank is
    NOT reachable from a trusted seed set.

        spam_mass(v) = (PR(v) − PPR_T(v)) / PR(v)

    where PPR_T is PageRank personalized to the trusted seeds. Pages
    whose rank flows from trusted neighborhoods score ≤ 0; link-farm
    pages score → 1. Returns [v, pr, trust, spam_mass].

    Two pagerank() runs over ONE shared prepared edge table would save
    a prep pass, but the runs are embarrassingly independent and each
    already costs exactly one edge-sized shuffle per iteration — the
    composition adds nothing new to the at-scale shuffle budget.

    Hash-stability: pr and trust are rounded to `ndigits` FIRST (those
    rounded doubles are the cross-engine-stable representation every
    pagerank query already certifies), then the ratio is computed from
    the rounded values and rounded again — both engines divide
    bit-identical doubles, so the final column is equally stable.
    """
    pr = pagerank(edges, num_iters=num_iters, damping=damping)
    tr = pagerank(
        edges, num_iters=num_iters, damping=damping, sources=trusted
    )
    pr6 = F.round(F.col("pr"), ndigits)
    tr6 = F.round(F.col("trust"), ndigits)
    return (
        pr.join(tr.select("v", F.col("pr").alias("trust")), "v")
        .select(
            "v",
            pr6.alias("pr"),
            tr6.alias("trust"),
            F.when(pr6 > 0, F.round((pr6 - tr6) / pr6, ndigits)).alias(
                "spam_mass"
            ),
        )
    )
