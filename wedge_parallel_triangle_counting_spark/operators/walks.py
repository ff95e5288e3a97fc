"""Deterministic random walks over the symmetric graph — the
DeepWalk/node2vec corpus generator, the graph-side analogue of the
text pipeline's sampling operators.

A GNN/embedding training pipeline needs walk corpora at the same
scale as the edge table, so the generator must be distributed,
deterministic (re-runnable, resumable, oracle-checkable), and free of
driver-side RNG state. Each walk starts at a seed vertex; at step t
the walk at `walk_id` moves to

    adj(v)[ h64("walk:" || walk_id || ":" || t) mod deg(v) ]

with adj sorted ascending and h64 the md5-derived 60-bit integer the
dedup/sampling operators already use (reproduced verbatim in the
DuckDB oracle, plans/oracles.py::random_walks_sql). No RNG object, no
seed broadcast — the "randomness" is a pure column expression.

Plan shape: the adjacency table is built once (one shuffle) and
persisted; each step is one join of the O(#walks) frontier against it
plus an element_at — L joins total. The frontier's join key changes
every step (that is what a walk IS), so one frontier-sized exchange
per step is inherent; the adjacency side stays put. Dead ends
(isolated seeds) terminate their walk early via the inner join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, finish_with_caches, loop_partitions
from .graph import build_sym_clustered


def _h64(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sample_neighbors(edges: DataFrame, k: int = 5) -> DataFrame:
    """GraphSAGE-style deterministic neighbor sampling: for every
    vertex, at most k neighbors chosen by ranking the adjacency under
    the md5 hash of (v, neighbor) — a pseudo-random but re-runnable
    and oracle-reproducible subset (GNN minibatch prep at corpus
    scale must not depend on partitioning or RNG state).

    Returns one row per sampled edge end: (v, deg, nbr) — at most k
    rows per vertex, scalar columns (a consumer re-aggregates into
    whatever minibatch layout it needs). Plan: the symmetric edge
    table, one per-vertex window rank over the hash (the shuffle is
    the window's hash(v) exchange — edge-sized once, like the
    adjacency build), filter rank <= k. Hub vertices cost
    O(deg log deg) in the window sort but emit only k rows
    downstream — the sampling IS the skew bound for the consumer."""
    from pyspark.sql import Window

    npart = loop_partitions(edges.sparkSession)
    sym = build_sym_clustered(edges, npart, key="src")
    h = _h64(
        F.concat_ws(
            ":",
            F.lit("nbr"),
            F.col("src").cast("string"),
            F.col("dst").cast("string"),
        )
    )
    w = Window.partitionBy("src")
    ranked = sym.select(
        "src",
        "dst",
        F.row_number().over(w.orderBy(h.asc(), F.col("dst").asc())).alias("rn"),
        F.count(F.lit(1)).over(w).alias("deg"),
    )
    return ranked.filter(F.col("rn") <= k).select(
        F.col("src").alias("v"), F.col("deg"), F.col("dst").alias("nbr")
    )


def node2vec_walks(
    edges: DataFrame,
    length: int = 5,
    return_w: int = 1,
    common_w: int = 2,
    other_w: int = 4,
    caches: list | None = None,
) -> DataFrame:
    """Second-order (node2vec-style) biased walks, fully
    deterministic: (walk_id, step, v), one walk per vertex.

    At step t the candidate neighbors of `cur` are weighted by their
    relation to `prev` — `return_w` for nbr == prev (the 1/p return
    bias), `common_w` for nbr adjacent to prev (distance-1, the
    stay-local bias), `other_w` otherwise (1/q exploration) — as
    INTEGER weights, and the choice indexes the cumulative-weight
    ladder (neighbors sorted ascending) with the md5 step hash modulo
    the total weight. Pure integer arithmetic end to end, so the
    DuckDB oracle replays the exact walk. The seed step initializes
    prev = cur, which makes every first-hop candidate "common"
    (adjacent to the seed) — i.e. a uniform first step, no special
    case.

    Plan shape per step: explode the frontier against the
    src-clustered symmetric edges (candidate rows = Σ deg(cur), the
    second-order walk's inherent cost), one left join flagging
    prev-adjacency, one per-walk window over the sorted candidates.
    Defaults (1, 2, 4) discourage backtracking and favor
    exploration — the classic p=2, q=0.5 regime scaled to integers."""
    from pyspark.sql import Window

    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()

    state = (
        sym.select(F.col("src").alias("walk_id"))
        .distinct()
        .select(
            "walk_id",
            F.col("walk_id").alias("prev"),
            F.col("walk_id").alias("cur"),
        )
    )
    out = [
        state.select("walk_id", F.lit(0).cast("long").alias("step"), F.col("cur").alias("v"))
    ]
    for t in range(1, length + 1):
        cand = (
            state.join(
                sym.select(F.col("src").alias("cur"), F.col("dst").alias("nbr")),
                "cur",
            )
            .join(
                sym.select(
                    F.col("src").alias("prev"),
                    F.col("dst").alias("nbr"),
                    F.lit(1).alias("is_common"),
                ),
                ["prev", "nbr"],
                "left",
            )
            .select(
                "walk_id",
                "cur",
                "nbr",
                F.when(F.col("nbr") == F.col("prev"), F.lit(return_w))
                .when(F.col("is_common") == 1, F.lit(common_w))
                .otherwise(F.lit(other_w))
                .cast("long")
                .alias("w"),
            )
        )
        wi = Window.partitionBy("walk_id").orderBy("nbr")
        cum = F.sum("w").over(
            wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        tot = F.sum("w").over(Window.partitionBy("walk_id"))
        h = _h64(
            F.concat_ws(
                ":", F.lit("n2v"), F.col("walk_id").cast("string"), F.lit(str(t))
            )
        )
        idx = h % tot
        picked = checkpoint(
            cand.select("walk_id", "cur", "nbr", "w", cum.alias("cum"), idx.alias("idx"))
            .filter((F.col("idx") >= F.col("cum") - F.col("w")) & (F.col("idx") < F.col("cum")))
            .select(
                "walk_id",
                F.col("cur").alias("prev"),
                F.col("nbr").alias("cur"),
            ),
            round=t,
        )
        state = picked
        out.append(
            state.select(
                "walk_id", F.lit(t).cast("long").alias("step"), F.col("cur").alias("v")
            )
        )
    result = out[0]
    for f in out[1:]:
        result = result.unionByName(f)
    return finish_with_caches(result, [sym], caches)


def random_walks(
    edges: DataFrame,
    length: int = 8,
    caches: list | None = None,
) -> DataFrame:
    """One walk per vertex of the cleaned symmetric graph:
    (walk_id, step, v) for step 0..length, walk_id = seed vertex."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src")
    adj = (
        sym.groupBy(F.col("src").alias("v"))
        .agg(
            F.sort_array(F.collect_list("dst")).alias("adj"),
            F.count(F.lit(1)).alias("deg"),
        )
        .persist()
    )

    frontier = adj.select(
        F.col("v").alias("walk_id"), F.lit(0).alias("step"), F.col("v")
    )
    out = [frontier]
    for t in range(1, length + 1):
        h = _h64(
            F.concat_ws(
                ":", F.lit("walk"), F.col("walk_id").cast("string"), F.lit(str(t))
            )
        )
        frontier = checkpoint(
            frontier.join(adj, "v")
            .select(
                "walk_id",
                F.lit(t).alias("step"),
                F.element_at("adj", (h % F.col("deg")).cast("int") + 1).alias(
                    "v"
                ),
            ),
            round=t,
        )
        out.append(frontier)
    result = out[0]
    for f in out[1:]:
        result = result.unionByName(f)
    return finish_with_caches(
        result.select("walk_id", F.col("step").cast("long"), "v"),
        [adj],
        caches,
    )
