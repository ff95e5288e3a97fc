"""Local graph clustering: ACL forward-push personalized PageRank and
the conductance sweep cut (Andersen-Chung-Lang 2006).

The at-scale story: global community detection touches the whole
graph; local clustering answers "what is the community around THIS
seed" touching only the seed's neighborhood — the push vector has
support O(1/(alpha*eps)) independent of graph size, which is why
forward push is the standard building block for seed-set expansion,
spam-neighborhood mining, and targeted crawling on 10^12-edge webs.

Determinism contract (everything exact integer, oracle-replayable):

- probability mass in integer UNITs (1e12) — r(seed) = UNIT.
- the push threshold is SEED-DEGREE-RELATIVE: EPSU =
  max(1, UNIT // (eps_deg_factor * deg(seed))), i.e. the classic
  eps = 1/(f*d_seed). The seed always fires (UNIT >= d_seed * EPSU
  for any f >= 1) — a fixed eps would silently do NOTHING for a hub
  seed with degree > 1/eps, exactly the seeds worth explaining on a
  web graph — and the push support stays proportional to the seed's
  own neighborhood (support ~ f*d_seed/alpha), local at any graph
  size.
- synchronous push rounds: every vertex v with r(v) >= kv * EPSU
  pushes SIMULTANEOUSLY:
      p(v)     += r(v) * alpha_num // alpha_den
      spread    = r(v) - p_gain
      share     = spread // kv           (to each neighbor)
      leftover  = spread - share * kv    (stays at v — no mass lost)
  Mass is conserved exactly: p-total + r-total == UNIT every round.
- fixed num_rounds (the reproducible contract, as labelprop); vertices
  below threshold hold their residual.
- sweep order: q = p * 1e6 DIV kv (the integer surrogate of the
  p/deg ACL ordering), (q DESC, v ASC); vol = running sum of kv;
  cut(k) = #clean edges with exactly one endpoint in the prefix,
  computed as a cumsum of (+1 at the lower endpoint rank, -1 at the
  higher; absent endpoint = +inf); conductance reported as exact
  floor ppm: cut * 1e6 // min(vol, 2m - vol).

State is SPARSE: only touched vertices carry rows (the seed's
neighborhood), merged per round with union + groupBy — at 10^12 edges
each round shuffles frontier-sized relations, never the graph. The
degree join is the only contact with a graph-sized table and it is
co-partitioned with the persisted adjacency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_partitions
from .graph import build_sym_clustered

UNIT = 10**12


def _seed_vertex(deg: DataFrame) -> int:
    """Deterministic default seed: the max-degree vertex, ties to the
    smallest id (the hub whose neighborhood is worth explaining)."""
    row = deg.orderBy(F.desc("kv"), F.asc("v")).first()
    return int(row["v"])


def ppr_push(
    edges: DataFrame,
    seed: int | None = None,
    alpha_num: int = 15,
    alpha_den: int = 100,
    eps_deg_factor: int = 10_000,
    num_rounds: int = 6,
) -> DataFrame:
    """Returns the sparse push state [v: long, p: long, r: long] in
    UNITs after num_rounds synchronous pushes from `seed`; the push
    threshold is eps = 1/(eps_deg_factor * deg(seed)) — see module
    docstring."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="src").persist()
    # lazy: the seed/seed-degree lookup right below is the first action
    # and materializes it — no dedicated checkpoint job (r6)
    deg = checkpoint(
        sym.groupBy(F.col("src").alias("v"))
        .agg(F.count("*").cast("long").alias("kv"))
    )
    if seed is None:
        row = deg.orderBy(F.desc("kv"), F.asc("v")).first()
        seed, seed_deg = int(row["v"]), int(row["kv"])
    else:
        got = deg.filter(F.col("v") == seed).first()
        seed_deg = int(got["kv"]) if got else 1
    epsu = max(1, UNIT // (eps_deg_factor * seed_deg))

    state = spark.createDataFrame([(seed, 0, UNIT)], "v long, p long, r long")
    for rnd in range(num_rounds):
        fr = (
            state.join(deg, "v")
            .filter(F.col("r") >= F.col("kv") * F.lit(epsu))
            .select(
                "v",
                "kv",
                F.expr(f"r * {alpha_num} div {alpha_den}").alias("p_add"),
                F.col("r").alias("r_push"),
            )
            .withColumn("spread", F.col("r_push") - F.col("p_add"))
            .withColumn("share", F.expr("spread div kv"))
            .withColumn(
                "leftover", F.col("spread") - F.col("share") * F.col("kv")
            )
        )
        held = (
            state.join(
                fr.select("v", "p_add", "leftover"), "v", "left"
            )
            .select(
                "v",
                (F.col("p") + F.coalesce("p_add", F.lit(0))).alias("p"),
                F.when(
                    F.col("p_add").isNotNull(), F.col("leftover")
                )
                .otherwise(F.col("r"))
                .alias("r"),
            )
        )
        inc = (
            sym.join(
                F.broadcast(
                    fr.filter(F.col("share") > 0).select(
                        F.col("v").alias("u"), "share"
                    )
                ),
                sym.src == F.col("u"),
            )
            .select(F.col("dst").alias("v"), F.lit(0).cast("long").alias("p"),
                    F.col("share").alias("r"))
        )
        state = checkpoint(
            held.unionByName(inc)
            .groupBy("v")
            .agg(
                F.sum("p").cast("long").alias("p"), F.sum("r").cast("long").alias("r")
            ),
            round=rnd,
        )
    state.count()
    sym.unpersist()
    return state


def sweep_cut(
    edges: DataFrame,
    push_state: DataFrame,
) -> DataFrame:
    """ACL conductance sweep over the push vector: returns one row per
    swept prefix [rank, v, q, vol, cut, cond_ppm], q the integer
    p/deg ordering surrogate, cond_ppm the exact floor-ppm conductance
    (rows with a zero denominator — the prefix holding ALL graph
    volume — are dropped). The swept set is the p > 0 support, local
    by construction.

    The composed push->sweep query scans the edge table twice (push
    needs the symmetric adjacency, the sweep the canonical undirected
    form for vol/cut) — one extra edge-sized scan, not a pairwise
    blow-up; at 100 TB cache the canonical frame if both phases run
    back to back."""
    from .truss import canonical_edges

    clean = (
        canonical_edges(edges, loop_partitions(edges.sparkSession))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .persist()
    )
    deg = (
        clean.select(F.col("a").alias("v"))
        .unionByName(clean.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("kv"))
    )
    m2 = clean.count() * 2

    # lazy: all three consumers (the two rk joins and the final output)
    # materialize inside the single terminal job, which computes the
    # window once and caches it — the old eager checkpoint was a
    # dedicated job (r6)
    ranked = checkpoint(
        push_state.filter(F.col("p") > 0)
        .join(deg, "v")
        .withColumn("q", F.expr("p * 1000000 div kv"))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("q"), F.asc("v"))),
        )
    )
    rk = ranked.select("v", "rank")
    ev = (
        clean.join(rk.withColumnRenamed("v", "a").withColumnRenamed("rank", "ra"), "a", "left")
        .join(rk.withColumnRenamed("v", "b").withColumnRenamed("rank", "rb"), "b", "left")
        .select(
            # least/greatest skip NULLs on both engines: lo is the one
            # in-sweep endpoint when the other is outside (rank +inf)
            F.least("ra", "rb").alias("lo"),
            F.when(
                F.col("ra").isNotNull() & F.col("rb").isNotNull(),
                F.greatest("ra", "rb"),
            ).alias("hi"),
        )
        .filter(F.col("lo").isNotNull())
    )
    starts = ev.groupBy(F.col("lo").alias("rank")).agg(
        F.count("*").cast("long").alias("d")
    )
    ends = ev.filter(F.col("hi").isNotNull()).groupBy(
        F.col("hi").alias("rank")
    ).agg((-F.count("*")).cast("long").alias("d"))
    wcum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    delta = (
        starts.unionByName(ends)
        .groupBy("rank")
        .agg(F.sum("d").alias("d"))
    )
    out = (
        ranked.join(delta, "rank", "left")
        .withColumn("cut", F.sum(F.coalesce("d", F.lit(0))).over(wcum).cast("long"))
        .withColumn("vol", F.sum("kv").over(wcum).cast("long"))
        .withColumn("den", F.least(F.col("vol"), F.lit(m2) - F.col("vol")))
        .filter(F.col("den") > 0)
        .select(
            F.col("rank").cast("long").alias("rank"),
            "v",
            "q",
            "vol",
            "cut",
            F.expr("cut * 1000000 div den").alias("cond_ppm"),
        )
    )
    res = checkpoint(out, eager=True)
    clean.unpersist()
    return res
