"""Strongly connected components of the DIRECTED link graph, plus the
Broder et al. bow-tie decomposition built on top of it.

The reference's component notion is undirected (its graphs are
symmetrized at parse time, tc.cu:611-618); a web-scale link graph is
directed, and the canonical Common-Crawl-style analyses — "which pages
are mutually reachable" (SCC) and the bow-tie map (CORE / IN / OUT /
TUBES / TENDRILS / DISCONNECTED, Broder et al., "Graph structure in
the web", WWW 2000) — need directed reachability. This module adds
both as first-class operators over the same edge table.

Algorithm: Orzan-style coloring SCC (the standard distributed /
Pregel formulation, also GraphX's shape):

  repeat until no active vertices:
    1. forward-min coloring: c(v) = min id over {v} ∪ ancestors(v)
       within the active subgraph — a hashmin fixpoint over the
       DIRECTED edges (one join + one agg per round, the exact loop
       shape of the undirected hashmin in components.py).
    2. every color root r (c(r) = r) is the minimum id of its SCC:
       if some v < r were in SCC(r), v would be an ancestor of r and
       c(r) ≤ v < r — contradiction. The SCC of r is exactly the
       vertices of color r that REACH r through same-color vertices
       (mutual reachability: r reaches the whole color class forward
       by construction; same-color intermediate vertices suffice
       because every vertex on a v→r path inside... is itself an
       ancestor-of-r with an ancestor chain from r's class min — its
       color is ≤ r via v's path and ≥ r since paths from the root
       class dominate; see Orzan 2004, §4.2).
    3. assign scc = color for the marked vertices, remove them from
       the active subgraph, repeat.

  Each outer round removes at least every source-SCC of the remaining
  condensation (any SCC whose minimum vertex has no smaller ancestor),
  so the outer round count is bounded by the longest chain of SCCs in
  the condensation — small for web graphs, whose condensations are
  shallow (the bow-tie is 3 levels deep plus tendril chains).

Scale shape: state per loop is one [v, label] table repartitioned to
the loop layout; the directed edge table is exchanged ONCE per
orientation (`fwd` clustered on dst for the coloring join, `rev` on
src for the backward mark join) and reused across all rounds and all
outer iterations, filtered by the shrinking active set with a
broadcast-friendly semi-join. No driver-side collection anywhere;
per-round frames are lineage-truncated with lazy localCheckpoints
whose materializing action is the round's convergence count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import CheckpointedLoop, checkpoint, loop_partitions
from .graph import normalize_edges


def _clean_directed(edges: DataFrame, npart: int) -> DataFrame:
    """Distinct directed edges, self-loops dropped (a self-loop never
    changes mutual reachability), clustered on dst for the forward-min
    join."""
    return (
        normalize_edges(edges)
        .filter(F.col("src") != F.col("dst"))
        .repartition(npart, "dst")
        .dropDuplicates(["src", "dst"])
    )


def _color_round(ea: DataFrame, color: DataFrame) -> DataFrame:
    """One forward-min coloring round with pointer jumping:
    (v, c, chg) where c = min(c(v), min in-nbr c, c(c(v))) and chg
    flags a decrease. One renamed projection of the color table serves
    both the in-neighbor join and the color-of-color join, so when the
    planner broadcasts it the two broadcast nodes share one canonical
    subtree and AQE's runtime stage cache builds it once."""
    lab = color.select(F.col("v").alias("bv"), F.col("c").alias("bc"))
    upd = (
        ea.join(lab, ea.src == F.col("bv"))
        .groupBy("dst")
        .agg(F.min("bc").alias("nbr_min"))
    )
    grand = color.join(lab, color.c == F.col("bv"), "left").select(
        "v", F.col("bc").alias("gc")
    )
    new_c = F.least(
        F.col("c"),
        F.coalesce(F.col("nbr_min"), F.col("c")),
        F.coalesce(F.col("gc"), F.col("c")),
    )
    return (
        color.join(upd.withColumnRenamed("dst", "v"), "v", "left")
        .join(grand, "v", "left")
        .select(
            "v",
            new_c.alias("c"),
            (new_c != F.col("c")).cast("long").alias("chg"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = 20,
    max_inner: int = 60,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns DataFrame [v: long, scc: long], scc = min vertex id of
    the strongly connected component (singleton SCCs get their own id;
    the vertex set is induced by the cleaned edge table, matching
    components.connected_components).

    `max_inner` bounds each reachability fixpoint (rounds needed =
    directed diameter of the surviving subgraph); `max_outer` bounds
    condensation-chain peeling. Both raise if exhausted before
    convergence — a truncated SCC answer is silently wrong, unlike a
    truncated BFS."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    e = _clean_directed(edges, npart).persist()
    m = e.count()
    if m == 0:
        e.unpersist()
        return spark.createDataFrame([], "v long, scc long")

    fwd = e  # clustered on dst: coloring joins labels (on src) → agg by dst
    rev = (
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition(npart, "dst")
        .persist()
    )
    rev.count()

    loop = CheckpointedLoop(
        spark,
        "scc",
        checkpoint_dir,
        checkpoint_every,
        fingerprint={"edges": m} if checkpoint_dir else None,
    )

    active = checkpoint(
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
        .repartition(npart, "v"),
        eager=True,
    )
    done: DataFrame | None = None
    step = 0  # global step counter for the checkpoint loop history

    n_all = n_active = active.count()
    # the outer peel has its own driver: the inner loops' rounds() run
    # on `loop` inside each outer round
    peel = CheckpointedLoop(spark, "scc peel")
    for outer in peel.rounds(
        max_outer, on_cap="raise", cap="max_outer", unit="vertices"
    ):
        # --- 0. trim: shrink the active set to vertices with BOTH an
        # in-edge and an out-edge inside the active subgraph; every
        # vertex peeled at any level is a singleton SCC (it cannot lie
        # on a cycle), so the whole trimmed set is assigned in ONE
        # batch after the fixpoint instead of one union + anti-join +
        # count per level (r6: the per-level driver cascade was ~half
        # of scc's job count). The DAG periphery (tendril chains, the
        # orderkey-derived tree fringe) disappears here one chain level
        # per job (FW-BW-Trim, McLendon et al.). Trim is an
        # optimization only — a partially-trimmed active set is still
        # handled correctly by the coloring peel, so hitting max_inner
        # just falls through.
        pre_trim, n_pre = active, n_active
        for it in range(max_inner):
            ef = fwd.join(
                active.withColumnRenamed("v", "src"), "src", "left_semi"
            ).join(active.withColumnRenamed("v", "dst"), "dst", "left_semi")
            srcs = ef.select(F.col("src").alias("v")).distinct()
            dsts = ef.select(F.col("dst").alias("v")).distinct()
            new_active = checkpoint(srcs.join(dsts, "v", "left_semi"), round=it)
            n_new = new_active.count()
            if n_new == n_active:
                break  # new ⊆ old with equal count ⇒ identical set
            active, n_active = new_active, n_new
            if n_active == 0:
                break
        if n_active < n_pre:
            assigned = pre_trim.join(active, "v", "left_anti").select(
                "v", F.col("v").alias("scc")
            )
            done = (
                assigned
                if done is None
                else checkpoint(done.unionByName(assigned), round=outer)
            )
        if n_active == 0:
            break

        # edges of the active subgraph: when the active set is still
        # the WHOLE graph (nothing peeled yet — outer round 0 of a
        # cycle-rich graph), the prepared fwd/rev tables are reused
        # as-is (both already dst-clustered and persisted); otherwise
        # two semi-joins against the shrunken active set, re-clustered
        # once per outer round and reused by every inner round
        if n_active == n_all:
            ea, ra, own_ea = fwd, rev, False
        else:
            ea = (
                fwd.join(active.withColumnRenamed("v", "src"), "src", "left_semi")
                .join(active.withColumnRenamed("v", "dst"), "dst", "left_semi")
                .select("src", "dst")
                .repartition(npart, "dst")
                .persist()
            )
            ra = (
                rev.join(active.withColumnRenamed("v", "src"), "src", "left_semi")
                .join(active.withColumnRenamed("v", "dst"), "dst", "left_semi")
                .select("src", "dst")
                .repartition(npart, "dst")
                .persist()
            )
            own_ea = True

        # --- 1. forward-min coloring fixpoint --------------------------
        # min over {v} ∪ in-neighbors' colors ∪ color-of-color (POINTER
        # JUMPING, r6): c(c(v)) is always an ancestor's id, so the
        # fixpoint is still exactly the min-ancestor coloring (the
        # Orzan invariant the peel relies on) while chains contract in
        # ~log(depth) rounds. The convergence count rides the round's
        # own materializing aggregation via a carried chg flag.
        color = active.select("v", F.col("v").alias("c"))
        for _ in loop.rounds(
            max_inner, on_cap="raise", cap="max_inner", unit="colours"
        ):
            color = loop.step(_color_round(ea, color), step, eager=False)
            step += 1
            changed = color.agg(F.coalesce(F.sum("chg"), F.lit(0))).collect()[0][0]
            if loop.settled(changed, outer=outer, phase="color"):
                break
        color = color.select("v", "c")

        # --- 2. backward mark: v reaches its color root through
        # same-color vertices ------------------------------------------
        # seed: roots (c(v) == v); grow along REVERSED edges restricted
        # to same-color endpoints
        marked = color.filter(F.col("v") == F.col("c")).select("v", "c")
        frontier = marked
        for it in loop.rounds(
            max_inner, on_cap="raise", cap="max_inner", unit="marked vertices"
        ):
            grown = (
                ra.join(
                    frontier.select(F.col("v").alias("src"), "c"), "src"
                )
                .select(F.col("dst").alias("v"), "c")
                .distinct()
                .join(
                    color.select("v", F.col("c").alias("cv")), "v"
                )
                .filter(F.col("c") == F.col("cv"))
                .select("v", "c")
            )
            new_frontier = grown.join(marked, "v", "left_anti")
            marked = loop.step(marked.unionByName(new_frontier), step, eager=False)
            step += 1
            frontier = checkpoint(new_frontier, round=it)
            if loop.settled(frontier.count(), outer=outer, phase="mark"):
                break

        assigned = marked.select("v", F.col("c").alias("scc"))
        done = (
            assigned
            if done is None
            else checkpoint(done.unionByName(assigned), round=outer)
        )
        active = checkpoint(
            active.join(marked.select("v"), "v", "left_anti"), round=outer
        )
        if own_ea:  # fwd/rev (outer round 0 full-graph reuse) stay cached
            ea.unpersist()
            ra.unpersist()
        n_active = active.count()
        if peel.settled(n_active):
            break

    out = checkpoint(done.repartition(npart, "v"), eager=True)
    e.unpersist()
    rev.unpersist()
    return out
