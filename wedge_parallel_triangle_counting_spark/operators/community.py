"""Deterministic synchronous Louvain-style local-move rounds.

The local-move phase of Louvain community detection (Blondel et al.
2008), made a pure function of the graph so the DuckDB oracle can
replay it bit-for-bit (the same determinism contract as labelprop):

- graph: clean symmetric simple graph (self loops dropped, dedup);
- community_0(v) = v (singletons);
- each round, every vertex v evaluates its neighbor communities c and
  the modularity gain of joining c, SYNCHRONOUSLY against the previous
  round's assignment:

      dQ(v -> c)  propto  2m * k_vc  -  k_v * sigma_adj(c)

  where k_vc = edges from v into c, sigma_adj(c) = total degree of c
  minus k_v when v is currently in c (the standard "remove v first"
  term). The surrogate is dQ * 2m^2 -- every factor an integer, so the
  argmax is exact and engine-independent. Tie-break: (score DESC,
  community ASC); if the best score is <= 0 the vertex falls back to
  its own singleton {v} (gain-zero reference), standard Louvain
  semantics for the isolate option.
- fixed number of rounds (synchronous updates can oscillate, like
  LPA; fixed-k is the reproducible contract). Classic Louvain then
  contracts the graph and repeats -- the contraction is a groupBy
  relabel (components-style); the move phase here is the part with
  actual algorithmic content.

Scores are computed in decimal(38,0) (== DuckDB HUGEINT): 2m * k_vc
tops out near (2m)^2, past int64 at the 10^12-edge target but exact
in 38-digit decimal (same widening as operators/quality.py).

Per-round cost: one edge-sized (v, c) aggregation + a community-sized
degree rollup + a v-keyed argmax AGGREGATION (max over
struct(score, -c) — lexicographic struct order reproduces the
(score DESC, c ASC) pick with map-side partial combining, r6; the old
row_number window sorted every (v, c) partition); the assignment is
broadcast in the small-state regime (loop_layout) so no edge relation
is re-exchanged per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_layout, loop_partitions
from .graph import build_sym_clustered

_DEC = "decimal(38,0)"


def louvain_move_rounds(edges: DataFrame, num_rounds: int = 2) -> DataFrame:
    """Returns DataFrame [v: long, community: long]."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    key, bcast_state = loop_layout(edges)
    sym = build_sym_clustered(edges, npart, key=key).persist()
    deg = checkpoint(
        sym.groupBy(F.col("src").alias("v"))
        .agg(F.count("*").cast("long").alias("kv")),
        eager=True,
    )
    m2 = sym.count()  # = 2m, one driver scalar

    # state carries (v, community, kv): the degree rides along so the
    # per-round community rollup needs no deg join and the next round
    # re-reads kv from the checkpointed state (r6 — one join and one
    # broadcast build fewer per round)
    comm = deg.select("v", F.col("v").alias("community"), "kv")
    for rnd in range(num_rounds):
        comm = checkpoint(_louvain_round(sym, comm, m2, bcast_state), round=rnd)
    comm = comm.select("v", F.col("community").cast("long").alias("community"))
    comm.count()
    sym.unpersist()
    return comm


def _louvain_round(
    sym: DataFrame, comm: DataFrame, m2: int, bcast_state: bool
) -> DataFrame:
    """One synchronous local-move round over state (v, community, kv).

    The argmax is a groupBy MAX over struct(score, -c, c) instead of
    the old row_number window (r6): the same (score DESC, c ASC) pick
    — struct ordering is lexicographic and the score is exact
    DECIMAL(38,0) — but the aggregation combines map-side partials and
    skips the window's in-partition sort."""

    def _side(df):
        return F.broadcast(df) if bcast_state else df

    cs = comm.groupBy(F.col("community").alias("c")).agg(
        F.sum("kv").alias("sigma")
    )
    rhs = comm.select(F.col("v").alias("u"), F.col("community").alias("c"))
    kvc = (
        sym.join(_side(rhs), sym.dst == F.col("u"))
        .groupBy(F.col("src").alias("v"), "c")
        .agg(F.count("*").cast("long").alias("kvc"))
    )
    vstate = comm.select("v", F.col("community").alias("cv"), "kv")
    scored = (
        kvc.join(_side(vstate), "v")
        .join(_side(cs), "c")
        .withColumn(
            "sig_adj",
            F.col("sigma")
            - F.when(F.col("c") == F.col("cv"), F.col("kv")).otherwise(F.lit(0)),
        )
        .withColumn(
            "score",
            F.lit(m2).cast(_DEC) * F.col("kvc").cast(_DEC)
            - F.col("kv").cast(_DEC) * F.col("sig_adj").cast(_DEC),
        )
    )
    best = scored.groupBy("v").agg(
        F.max(
            F.struct(
                F.col("score"), (-F.col("c")).alias("negc"), F.col("c").alias("cc")
            )
        ).alias("b"),
        F.max("kv").alias("kv"),  # kv is constant per v
    )
    return best.select(
        "v",
        F.when(F.col("b.score") > 0, F.col("b.cc"))
        .otherwise(F.col("v"))
        .alias("community"),
        "kv",
    )


def contract_communities(
    edges: DataFrame,
    assignment: DataFrame,
    v_col: str = "v",
    c_col: str = "community",
) -> DataFrame:
    """The Louvain coarsening step: collapse each community to a
    super-vertex and return the weighted supergraph
    [ca: long, cb: long, weight: long] over the clean undirected
    graph, ca <= cb canonical; intra-community edges survive as
    ca == cb loop rows (their weight is what the next Louvain level's
    modularity needs). Vertices absent from `assignment` keep
    themselves as their community (partial labelings contract too).

    One edge-sized map + one (ca, cb) aggregation — the supergraph is
    communities-sized, so every subsequent level is cheaper; this is
    why multilevel Louvain scales where flat algorithms do not.
    """
    from .checkpointing import loop_partitions
    from .truss import canonical_edges

    clean = canonical_edges(edges, loop_partitions(edges.sparkSession)).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    amap = assignment.select(
        F.col(v_col).alias("_v"), F.col(c_col).alias("_c")
    )
    ca = F.coalesce(F.col("ca0"), F.col("a"))
    cb = F.coalesce(F.col("cb0"), F.col("b"))
    return (
        clean.join(
            amap.select(F.col("_v").alias("a"), F.col("_c").alias("ca0")),
            "a",
            "left",
        )
        .join(
            amap.select(F.col("_v").alias("b"), F.col("_c").alias("cb0")),
            "b",
            "left",
        )
        .select(
            F.least(ca, cb).alias("ca"),
            F.greatest(ca, cb).alias("cb"),
        )
        .groupBy("ca", "cb")
        .agg(F.count("*").cast("long").alias("weight"))
        .select(
            F.col("ca").cast("long").alias("ca"),
            F.col("cb").cast("long").alias("cb"),
            "weight",
        )
    )


def louvain_move_rounds_weighted(
    wedges: DataFrame, num_rounds: int = 2
) -> DataFrame:
    """The weighted local-move phase over a CONTRACTED supergraph
    [ca, cb, weight] (ca <= cb, loop rows allowed) — level 2+ of
    multilevel Louvain. Same deterministic recursion as
    louvain_move_rounds with degree -> strength:

        s(v)   = sum of incident non-loop weight + 2 * loop weight
        2m     = sum_v s(v)
        k_vc   = non-loop weight from v into c (loops move WITH v, so
                 they cancel in every gain comparison and are excluded,
                 the standard Louvain convention)
        score  = 2m * k_vc - s(v) * sigma_adj(c)   (decimal(38,0))

    Returns [v: long, community: long] over the supergraph's vertex
    ids. Weights are exact integers (contraction counts edges), so the
    whole recursion stays engine-exact. Broadcasts of the per-round
    state/strength/sigma tables are gated on the same small-input
    regime check as level 1 (loop_layout): one local-move level does
    NOT necessarily shrink a web graph below broadcast limits."""
    _, bcast_state = loop_layout(wedges)

    def _side(df):
        return F.broadcast(df) if bcast_state else df

    loops = wedges.filter(F.col("ca") == F.col("cb")).select(
        F.col("ca").alias("v"), (F.col("weight") * 2).alias("w2")
    )
    nl = wedges.filter(F.col("ca") != F.col("cb"))
    sym = nl.select(
        F.col("ca").alias("src"), F.col("cb").alias("dst"), "weight"
    ).unionByName(
        nl.select(
            F.col("cb").alias("src"), F.col("ca").alias("dst"), "weight"
        )
    )
    strength = checkpoint(
        sym.select(F.col("src").alias("v"), F.col("weight").alias("w2"))
        .unionByName(loops)
        .groupBy("v")
        .agg(F.sum("w2").cast("long").alias("sv")),
        eager=True,
    )
    m2 = strength.agg(F.sum("sv")).first()[0] or 0

    comm = strength.select("v", F.col("v").alias("community"))
    w = Window.partitionBy("v").orderBy(F.desc("score"), F.asc("c"))
    for rnd in range(num_rounds):
        cs = (
            comm.join(strength, "v")
            .groupBy(F.col("community").alias("c"))
            .agg(F.sum("sv").alias("sigma"))
        )
        rhs = comm.select(F.col("v").alias("u"), F.col("community").alias("c"))
        kvc = (
            sym.join(_side(rhs), sym.dst == F.col("u"))
            .groupBy(F.col("src").alias("v"), "c")
            .agg(F.sum("weight").cast("long").alias("kvc"))
        )
        cur = comm.select("v", F.col("community").alias("cv"))
        scored = (
            kvc.join(_side(strength), "v")
            .join(_side(cur), "v")
            .join(_side(cs), "c")
            .withColumn(
                "sig_adj",
                F.col("sigma")
                - F.when(F.col("c") == F.col("cv"), F.col("sv")).otherwise(F.lit(0)),
            )
            .withColumn(
                "score",
                F.lit(m2).cast(_DEC) * F.col("kvc").cast(_DEC)
                - F.col("sv").cast(_DEC) * F.col("sig_adj").cast(_DEC),
            )
        )
        best = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "v",
                F.when(F.col("score") > 0, F.col("c"))
                .otherwise(F.col("v"))
                .alias("cnew"),
            )
        )
        # loop-only vertices (no non-loop neighbor -> no kvc row) keep
        # their current community
        comm = checkpoint(
            comm.join(best, "v", "left")
            .select("v", F.coalesce("cnew", "community").alias("community")),
            round=rnd,
        )
    comm = comm.select(
        F.col("v").cast("long").alias("v"),
        F.col("community").cast("long").alias("community"),
    )
    comm.count()
    return comm
