"""Full core decomposition (per-vertex core numbers) via the h-index
iteration.

k_core (operators/kcore.py) answers "which vertices survive the
k-peel" for ONE k; this computes every vertex's CORENESS — the largest
k whose k-core contains it — the spam/community/importance feature a
web-graph pipeline wants per page. The sequential peel (Batagelj &
Zaversnik) is inherently ordered, so the engine runs the distributed
fixpoint of Lü, Chen, Ren, Zhang, Zhang & Zhou (Nature Comm. 2016):

    c_0(v) = deg(v)
    c_{t+1}(v) = h-index of { c_t(u) : u ~ v }

which decreases monotonically to the core number of every vertex.
Iterations are bounded by the longest degeneracy-ordering chain; web
graphs converge in a few dozen rounds. Overshooting rounds are no-ops
(the fixpoint is stable), so the engine's early exit is safe against
the fixed-round unrolled-CTE oracle (plans/oracles.py::coreness_sql).

Per round: ONE edge-sized join (neighbor values, broadcast state below
the loop_layout bound) + ONE vertex-keyed aggregation whose h-index is
computed inside whole-stage codegen (sort_array desc + zip_with
indicator + aggregate sum — no UDF, no window over edge rows). Same
single-exchange-per-round regime as PageRank/ANF. The oracle computes
the identical h-index with a row_number window — different formulation,
same integers, cross-checked in tests against a brute-force
Batagelj-Zaversnik peel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_partitions
from .graph import build_sym_clustered

# h-index of a DESC-sorted int array: the indicator arr[i] >= i+1
# (1-indexed) is monotone non-increasing, so its sum IS the h-index
_HINDEX = (
    "aggregate(zip_with(vals, sequence(1, size(vals)), "
    "(x, i) -> CASE WHEN x >= i THEN 1 ELSE 0 END), 0, (a, b) -> a + b)"
)


def core_numbers(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """[v: long, core: int] — every vertex of the symmetric simple
    graph with its core number (coreness). Deterministic; exact at
    the fixpoint (converges within max_rounds on any graph whose
    degeneracy chain is shorter; web graphs: a few dozen)."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="dst").persist()
    state = checkpoint(
        sym.groupBy(F.col("dst").alias("v"))
        .agg(F.count(F.lit(1)).cast("int").alias("c")),
        eager=True,
    )
    # TWO h-index steps per materialized job (r6): the step sequence
    # H, H², H³… is unchanged (total steps still capped at max_rounds,
    # so an unconverged graph returns exactly H^max_rounds like the
    # unrolled oracle), but the driver pays half the barriers. The
    # convergence flag compares the SECOND application against its
    # input: H(mid) == mid ⇒ mid is the fixpoint ⇒ the returned state
    # equals it. The intermediate step's groupBy exchange is shared by
    # its two consumers via exchange reuse. The old shape paid an
    # eager-checkpoint job plus a separate join/limit/count job per
    # single step.
    remaining = max_rounds
    while remaining > 0:
        mid = _hindex_step(sym, state) if remaining >= 2 else state
        rnd = (max_rounds - remaining) // 2  # this loop's round index
        new_state = checkpoint(_hindex_round(sym, mid), round=rnd)
        remaining -= 2 if remaining >= 2 else 1
        changed = (
            new_state.agg(F.coalesce(F.sum("chg"), F.lit(0))).collect()[0][0]
        )
        state = new_state
        if changed == 0:
            break
    sym.unpersist()
    return state.select("v", F.col("c").alias("core"))


def _hindex_step(sym: DataFrame, state: DataFrame) -> DataFrame:
    """One plain h-index application: (v, c)."""
    nbr_vals = sym.join(state, sym.dst == state.v).select(
        sym.src.alias("v"), "c"
    )
    return (
        nbr_vals.groupBy("v")
        .agg(F.sort_array(F.collect_list("c"), asc=False).alias("vals"))
        .select("v", F.expr(f"CAST({_HINDEX} AS INT)").alias("c"))
    )


def _hindex_round(sym: DataFrame, state: DataFrame) -> DataFrame:
    """One h-index round: (v, c, chg) with c the h-index of the
    neighbor values under the previous state and chg = (c != old c)."""
    return (
        _hindex_step(sym, state)
        .join(state.select("v", F.col("c").alias("c0")), "v")
        .select("v", "c", (F.col("c") != F.col("c0")).cast("long").alias("chg"))
    )
