"""Connected components. strategy="auto" (default) prepares the
canonical edge set once, counts it, and picks:

- "hashmin" below AUTO_HASHMIN_MAX_EDGES — classic min-label
  propagation: one join + one agg per round, converges in O(diameter)
  rounds. Small/medium graphs have small diameters and fit executor
  memory, so fewer shuffles per round wins.
- "star" above it — the large-star/small-star trick (Kiveris et al.,
  "Connected Components in MapReduce and Beyond"), which contracts
  paths doubly-logarithmically: more shuffles per round, but the round
  COUNT is ~log log n even on high-diameter web crawls, and the state
  is the contracting edge relation itself. The right 100 TB call.

Both return component = min vertex id in the component (the oracle's
reachability definition). Per-iteration state is lineage-truncated;
durable checkpoint + manifest on cadence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checkpointing import (
    LOOP_BROADCAST_INPUT_MAX,
    CheckpointedLoop,
    checkpoint,
    loop_partitions,
)
from .graph import normalize_edges

# Below this many canonical edges, hashmin's fewer-shuffles-per-round
# beats star's fewer rounds (measured 2x at sf0.1: 5.0s vs 9.9s,
# BENCH_r02); above it, diameter risk dominates — a web crawl's long
# chains would make hashmin run O(diameter) full-graph rounds.
AUTO_HASHMIN_MAX_EDGES = 50_000_000

# Whether hashmin rounds add the pointer-jumping grandparent term
# (label(label(v))). OFF by default: on low-diameter graphs the jump
# join removes no rounds and costs ~2 s at sf0.1 (interleaved A/B in
# _hashmin_round's docstring); turn on for known long-chain inputs,
# where it converts O(diameter) rounds into O(log diameter).
HASHMIN_JUMP = False


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected pair set, canonical (large, small) per row — built
    DIRECTLY as a canonical dedup (one m-row shuffle; symmetrize+filter
    would shuffle 2m). Returned persisted; caller unpersists."""
    npart = loop_partitions(edges.sparkSession)
    clean = normalize_edges(edges).filter(F.col("src") != F.col("dst"))
    return (
        clean.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .repartition(npart, "src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )


def connected_components(
    edges: DataFrame,
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    strategy: str = "auto",
    partition_stats: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """Returns DataFrame [v: long, component: long] (component = min
    vertex id in the component). Isolated vertices don't exist here —
    the vertex set is induced by the edge table.

    strategy="auto" counts the canonical edge set (one job over the
    prep it shares with both algorithms) and picks hashmin under
    AUTO_HASHMIN_MAX_EDGES, star above; the choice and the count are
    recorded in `metrics` when given."""
    if strategy not in ("auto", "star", "hashmin"):
        raise ValueError(f"unknown strategy {strategy!r}")

    if strategy == "hashmin":
        if metrics is not None:
            metrics["strategy"] = "hashmin"
        return _components_hashmin(
            edges,
            None,
            max_iters,
            checkpoint_dir,
            checkpoint_every,
            resume,
            partition_stats,
        )

    e = _canonical_edges(edges)
    m = e.count()
    chosen = (
        "hashmin" if strategy == "auto" and m <= AUTO_HASHMIN_MAX_EDGES else "star"
    )
    if metrics is not None:
        metrics["strategy"] = chosen
        metrics["canonical_edges"] = m
    if chosen == "hashmin":
        # reuse the canonical prep: e ∪ flip(e) is already clean and
        # dedup'd, so the hashmin path skips its own symmetrize+dedup.
        # Regime-adaptive clustering (checkpointing.loop_layout logic,
        # with the exact canonical count in hand): small state →
        # cluster by src + broadcast labels (zero edge exchanges per
        # round), big → cluster by dst, the join key.
        bcast_state = 2 * m <= LOOP_BROADCAST_INPUT_MAX
        sym = (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .repartition(
                loop_partitions(edges.sparkSession),
                "src" if bcast_state else "dst",
            )
            .persist()
        )
        out = _components_hashmin(
            edges,
            (sym, 2 * m, bcast_state),
            max_iters,
            checkpoint_dir,
            checkpoint_every,
            resume,
            partition_stats,
        )
        # released after the loop (which materialized sym from e's
        # cached blocks); the returned labels are lineage-truncated
        e.unpersist()
        return out
    return _components_star(
        e, m, max_iters, checkpoint_dir, checkpoint_every, resume
    )


def _components_hashmin(
    edges: DataFrame,
    prebuilt: tuple[DataFrame, int, bool] | None,
    max_iters: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    partition_stats: bool,
) -> DataFrame:
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    if prebuilt is not None:
        sym, sym_cnt, bcast_state = prebuilt
    else:
        # regime-adaptive layout; ONE edge exchange either way
        from .checkpointing import loop_layout
        from .graph import build_sym_clustered

        key, bcast_state = loop_layout(edges)
        sym = build_sym_clustered(edges, npart, key=key).persist()
        sym_cnt = None
    verts = sym.select(F.col("src").alias("v")).distinct()

    # input fingerprint (edge count) guards a resume against a changed
    # graph; only computed when durable checkpointing is on
    if checkpoint_dir:
        fp = {"sym_edges": sym_cnt if sym_cnt is not None else sym.count()}
    else:
        fp = None
    loop = CheckpointedLoop(
        spark,
        "components",
        checkpoint_dir,
        checkpoint_every,
        collect_partition_stats=partition_stats,
        fingerprint=fp,
        resume=resume,
    )
    labels = loop.start(verts.select("v", F.col("v").alias("component")))
    for it in loop.rounds(max_iters, on_cap="warn", unit="labels"):
        labels = loop.step(
            _hashmin_round(sym, labels, bcast_state), it, eager=False
        )
        # the round's single action: materializes the lazy checkpoint
        # AND counts label changes off the carried `chg` flag (r6: the
        # old separate new⋈old join job is gone — the round join
        # already sees both labels)
        changed = labels.agg(F.coalesce(F.sum("chg"), F.lit(0))).collect()[0][0]
        if loop.settled(changed):
            break
    if loop.history:  # state is localCheckpointed — sym no longer needed
        sym.unpersist()
    return labels.select("v", "component")


def _hashmin_round(
    sym: DataFrame, labels: DataFrame, bcast_state: bool, jump: bool = None
) -> DataFrame:
    """One hashmin round with a carried `chg` flag, and optional
    POINTER JUMPING (both r6):

    - `chg` fusion (always on): the round join already sees both the
      old and the new label, so the convergence count rides the
      round's own materializing aggregation instead of the separate
      new⋈old join job r5 paid per round. Interleaved same-window A/B
      vs the round-5 tree at sf0.1: components 6.5 → 5.3 s.
    - `jump` (default HASHMIN_JUMP=False): adds the grandparent term,
      new(v) = min(label(v), min_{u~v} label(u), label(label(v))) —
      the Shiloach-Vishkin shortcut that contracts label chains so
      high-diameter graphs converge in ~log(diameter) rounds instead
      of diameter (an 80-chain: ≤12 rounds vs 80). The fixpoint is
      unchanged — label values are always vertex ids inside the same
      component, labels only decrease and are bounded below by the
      component min, and at a fixpoint labels are constant across
      every edge, hence equal to the component min.

    Why jumping is OFF by default: on low-diameter graphs — the web
    regime, and the bench graph, where min-propagation is breadth-
    bound — the jump join removes NO rounds and its per-round cost is
    real: interleaved same-window A/B at sf0.1 measured plain+chg
    5.3 s, 1 jump level 7.3 s, 2 levels worse still (and r5 6.5 s
    between them). Callers with known long-chain inputs (incremental
    snapshots of path-heavy graphs, synthetic chains) pass
    jump=True / set HASHMIN_JUMP; above AUTO_HASHMIN_MAX_EDGES the
    auto strategy switches to star, whose round count is ~log log n
    regardless of diameter.
    """
    if jump is None:
        jump = HASHMIN_JUMP
    # one renamed projection serves BOTH joins so the broadcast
    # exchange is built once per round and reused (identical subtree)
    lab = labels.select(F.col("v").alias("bv"), F.col("component").alias("bc"))
    rhs = F.broadcast(lab) if bcast_state else lab
    nbr_min = (
        sym.join(rhs, sym.dst == F.col("bv"))
        .select(F.col("src").alias("v"), F.col("bc").alias("c"))
        .groupBy("v")
        .agg(F.min("c").alias("nbr_min"))
    )
    terms = [
        F.col("component"),
        F.coalesce(F.col("nbr_min"), F.col("component")),
    ]
    out = labels.join(nbr_min, "v", "left")
    if jump:
        grand = labels.join(
            rhs, labels.component == F.col("bv"), "left"
        ).select("v", F.col("bc").alias("gc"))
        terms.append(F.coalesce(F.col("gc"), F.col("component")))
        out = out.join(grand, "v", "left")
    new_component = F.least(*terms)
    return out.select(
        "v",
        new_component.alias("component"),
        (new_component != F.col("component")).cast("long").alias("chg"),
    )


def _components_star(
    e: DataFrame,
    prev_cnt: int,
    max_iters: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
) -> DataFrame:
    """Alternating large-star / small-star contraction over the
    persisted canonical edge set `e` (count `prev_cnt`). State is the
    parent pointer table; converges when the edge relation is a star
    forest. Doubly-logarithmic rounds — preferred at 100 TB scale."""
    spark = e.sparkSession

    fp = {"canonical_edges": prev_cnt} if checkpoint_dir else None
    loop = CheckpointedLoop(
        spark,
        "components_star",
        checkpoint_dir,
        checkpoint_every,
        fingerprint=fp,
        resume=resume,
    )
    cur = loop.start(e)
    if loop.first_round:
        prev_cnt = cur.count()

    cur = _star_rounds(loop, cur, prev_cnt, max_iters)
    # parent table: every vertex points to its component min (vertex
    # set from the persisted canonical edges — materialized via
    # localCheckpoint so `e` can be released before returning the
    # still-lazy result)
    verts = checkpoint(
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct(),
        eager=True,
    )
    e.unpersist()
    parents = cur.select(F.col("src").alias("v"), F.col("dst").alias("component"))
    return (
        verts.join(parents, "v", "left")
        .select("v", F.coalesce("component", F.col("v")).alias("component"))
    )


def _star_rounds(
    loop: CheckpointedLoop,
    cur: DataFrame,
    prev_cnt: int,
    max_iters: int,
) -> DataFrame:
    """Alternating large-star / small-star rounds until the edge
    relation stabilizes; returns the final relation. Stopping at
    `max_iters` with the relation still changing warns: the parents
    are then not the component minima.

    No intermediate distincts inside a round (on the large-star output
    or the small-star self rows): they are semantically optional —
    every downstream consumer is a min-agg or ends in a distinct — and
    counterbalanced interleaved A/Bs at sf0.1 and 16x-amplified
    measured them within host noise (BENCH/RUNS.md r4-a), so a round
    keeps the fewer-shuffles shape.

    The per-vertex neighborhood min is a single
    `min().over(Window.partitionBy(src))`: ONE exchange of the 2m-row
    neighbor relation per star step regardless of scale, at the cost
    of an in-partition sort. The groupBy(src).min + join-back form
    pays two exchanges (AQE may broadcast the n-row min side at small
    scale, but not at 100 TB); window won every rep of an interleaved
    A/B on both the sf0.1 and 16x-amplified graphs (BENCH/RUNS.md
    r4-j).

    The final canonicalization relies on an invariant of the
    small-star output: every emitted row has dst = min(neighborhood
    ∪ {src'}) ≤ src (the group that produced `mn` contains the row's
    own src), so rows are already (large, small)-canonical and the
    single trailing distinct both dedups and finishes the round — no
    pre-dedup of the join output is needed."""
    # per-src neighborhood min, added as column `mn`
    nbr_min = F.min("dst").over(Window.partitionBy("src"))
    for it in loop.rounds(max_iters, on_cap="warn", unit="edges"):
        # large-star: for each u, connect all strictly-larger neighbors
        # to min(neighborhood ∪ {u})
        nbrs = cur.select("src", "dst").unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        large = (
            nbrs.withColumn("mn", nbr_min)
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.least("mn", F.col("src")).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        # lazy checkpoint (r6): the small-star step reads `large` FOUR
        # times (nbrs2 twice, its self rows twice) and the window min
        # above only shares its exchange, not the sort — one cached
        # compute replaces up to four window re-evaluations per round
        large = checkpoint(large, round=it)
        # small-star: for each u, connect all smaller-or-equal neighbors
        # to the min
        nbrs2 = large.select("src", "dst").unionByName(
            large.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        self_rows = nbrs2.select(F.col("src"), F.col("src").alias("dst"))
        small_nbrs = nbrs2.filter(F.col("dst") < F.col("src")).unionByName(self_rows)
        small = (
            small_nbrs.withColumn("mn", nbr_min)
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        new_cur = small.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).distinct()
        # materialize first; then test edge-set stability. Both sides
        # are distinct canonical sets, so equal counts + empty one-way
        # anti-join ⇒ equality — one cheap count on the checkpointed
        # frame per round, and the anti-join only on count ties
        # (replaces two shuffling exceptAll jobs per round).
        new_cur = loop.step(new_cur, it, eager=False)
        new_cnt = new_cur.count()  # materializes the lazy checkpoint
        # pending: the edge-count change, and 1 when the sets still
        # differ at an equal count
        pending = abs(new_cnt - prev_cnt)
        if not pending:
            same = new_cur.join(cur, ["src", "dst"], "left_anti").isEmpty()
            pending = 0 if same else 1
        cur = new_cur
        prev_cnt = new_cnt
        if loop.settled(pending, edges=new_cnt):
            break
    return cur


def component_size_histogram(labels: DataFrame) -> DataFrame:
    """Reduce a (v, component) labeling to its size distribution:
    (size, n_components), ordered by size — the standard web-graph
    connectivity report (how big is the giant component, how long the
    tail of isolated islands). The giant-component fraction is
    max(size)·n/sum(size·n) off this table.

    Two hash aggregations, each strictly smaller than its input
    (vertices -> components -> sizes); nothing else. At 10^12 vertices
    the output is the histogram of a power law — a few thousand rows.
    """
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("size")
    )


def incremental_components(
    old_labels: DataFrame, added_edges: DataFrame, max_iters: int = 50
) -> DataFrame:
    """Connected components of (old graph + added edges), given the
    old labeling — WITHOUT touching the old edge table.

    The old (v, component) labeling IS a star forest with exactly the
    old graph's connectivity (every vertex linked to its component
    representative), so the new components are plain
    connected_components over (label stars ∪ added edges). The star
    forest has diameter 2 regardless of the old graph's diameter, so
    convergence costs rounds proportional to the diameter of the
    MERGE graph the additions induce — typically O(1) — instead of
    re-walking a 10^12-edge crawl graph. At scale the label table is
    orders of magnitude smaller than the edge table, and the old
    edges are never read again.

    Exactness contract: valid under edge ADDITIONS only. Every
    vertex's old component is a subset of its new component, so the
    min-id semantics agree with a full recompute (the min over a
    merged component of old representatives is its global min vertex
    id). Edge REMOVALS can split components, which no label-monotone
    algorithm can express — a snapshot with removals needs the full
    recompute (pair with temporal.edge_snapshot_diff to decide).
    """
    stars = old_labels.filter(F.col("v") != F.col("component")).select(
        F.col("v").alias("src"), F.col("component").alias("dst")
    )
    return connected_components(
        stars.unionByName(added_edges.select("src", "dst")),
        max_iters=max_iters,
        strategy="hashmin",
    )
