"""Approximate neighborhood function (ANF) and effective diameter.

HyperANF (Boldi, Rosa & Vigna, WWW 2011) loop shape with bottom-k
(KMV) sketches in place of HyperLogLog registers: each round every
vertex's sketch absorbs its neighbors' sketches, so after t rounds the
sketch of v summarizes the ball B(v, t); the k-th smallest hash yields
the KMV cardinality estimate (Bar-Yossef et al., RANDOM 2002)

    |B(v, t)|  ~=  (k - 1) * SPACE / kth_smallest_hash.

Hashes are md5-derived (60-bit: 15 hex chars) and the estimate uses
exact integer arithmetic only (Spark DECIMAL(38,0) `div` == DuckDB
HUGEINT `//`, the idiom proven by quality.modularity), so sketches,
merges, per-hop estimates, and the effective diameter are a pure
deterministic function of the graph that the ANSI-SQL oracle replays
bit-for-bit (plans/oracles.py::anf_sql).

Why KMV rather than HLL here: identical loop/shuffle shape, but KMV's
merge (sort + slice of a <=k array) and estimator are exact-integer
expressible in BOTH engines, while HLL needs float log / harmonic
means that don't survive cross-engine value-hash canonicalization. At
10^12 vertices production would swap the <=k array for HLL registers
(same join/agg plan, O(log log n) state per vertex); `k` trades state
size for accuracy exactly like HLL's register count.

Scale shape: state is one (v, array<long> of <=k) row per vertex; a
round is ONE edge-sized join (neighbor-sketch fan-out over the
symmetric edge table clustered by dst, co-partitioned with the
v-clustered state -> no exchange for the join) plus ONE vertex-keyed
aggregate whose merge is flatten+sort+slice in whole-stage codegen —
the same single-exchange-per-round regime as PageRank. No driver
collect; the output is max_hops+1 rows.

Reference parity: the reference kernel (tc.cu) has no neighborhood
function; this extends the engine's hop-plot surface — centrality.py's
hop_histogram is EXACT over sampled seeds, ANF covers ALL vertices
approximately, the standard trade for diameter estimation on a
10^12-page web graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint, loop_partitions
from .graph import build_sym_clustered

# 15 hex chars of md5 -> uniform in [0, 16^15) = [0, 2^60)
SPACE = 16**15


def _sketch_hash(v):
    """Deterministic 60-bit vertex hash, identical in both engines:
    Spark conv(substr(md5(...),1,15),16,10) == DuckDB
    ('0x' || substr(md5(...),1,15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("anf:"), v.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def _estimate(k: int, n_verts: int):
    """Exact-integer KMV estimate column over a sorted <=k sketch:
    exact size below saturation, else (k-1)*SPACE div kth, clamped to
    the vertex count (a ball can't exceed n; also keeps the quotient
    far inside int64 even for adversarially small hashes). GREATEST
    guards the 16^-15-probability all-zero-prefix hash."""
    return F.when(F.size("sk") < k, F.size("sk").cast("long")).otherwise(
        F.least(
            F.expr(
                f"CAST({k - 1} AS DECIMAL(38,0)) * {SPACE} "
                f"div GREATEST(element_at(sk, {k}), CAST(1 AS BIGINT))"
            ),
            F.lit(n_verts).cast("long"),
        )
    )


def neighborhood_function(
    edges: DataFrame, k: int = 32, max_hops: int = 4
) -> DataFrame:
    """ANF table [hop: int, nf_est: long] for hop = 0..max_hops:
    nf_est is the summed KMV estimate of |B(v, hop)| over ALL vertices
    of the symmetric simple graph (hop 0 == n exactly). Deterministic
    across engines and parallelism levels."""
    spark = edges.sparkSession
    npart = loop_partitions(spark)
    sym = build_sym_clustered(edges, npart, key="dst").persist()
    # vertex set off the dst side reuses the hash(dst) clustering, so
    # the distinct and the state init plan zero extra exchanges
    state = checkpoint(
        sym.select(F.col("dst").alias("v"))
        .distinct()
        .select("v", F.array(_sketch_hash(F.col("v"))).alias("sk")),
        eager=True,
    )
    n_verts = state.count()
    if n_verts == 0:
        sym.unpersist()
        return spark.createDataFrame([], "hop int, nf_est long")

    per_hop = [
        state.agg(F.sum(_estimate(k, n_verts)).alias("nf_est")).select(
            F.lit(0).alias("hop"), "nf_est"
        )
    ]
    for hop in range(1, max_hops + 1):
        contrib = sym.join(state, sym.dst == state.v).select(
            sym.src.alias("v"), "sk"
        )
        # lazy checkpoint (r6): lineage is truncated per hop but the
        # materializing job is the single terminal union below — the
        # hop states cache on first compute there, each per-hop
        # estimate reads its cached state, and the old one-eager-job-
        # per-hop cadence disappears (max_hops+1 jobs -> 1)
        state = checkpoint(
            state.unionByName(contrib)
            .groupBy("v")
            .agg(
                F.slice(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list("sk")))
                    ),
                    1,
                    k,
                ).alias("sk")
            ),
            round=hop,
        )
        per_hop.append(
            state.agg(F.sum(_estimate(k, n_verts)).alias("nf_est")).select(
                F.lit(hop).alias("hop"), "nf_est"
            )
        )
    out = per_hop[0]
    for frame in per_hop[1:]:
        out = out.unionByName(frame)
    out = checkpoint(out, eager=True)
    sym.unpersist()
    return out


def effective_diameter(
    edges: DataFrame, k: int = 32, max_hops: int = 4, q: int = 90
) -> DataFrame:
    """One row [eff_diameter_hops: long, nf_final: long]: the smallest
    hop whose ANF reaches q% of the hop-max_hops ANF (the classic 90%
    effective diameter), decided by exact integer cross-multiplication
    (nf*100 >= q*nf_final) so the cut is representation-stable."""
    nf = neighborhood_function(edges, k=k, max_hops=max_hops)
    final = nf.filter(F.col("hop") == max_hops).select(
        F.col("nf_est").alias("nf_final")
    )
    return (
        nf.crossJoin(F.broadcast(final))
        .filter(F.col("nf_est") * 100 >= F.lit(q) * F.col("nf_final"))
        .agg(
            F.min("hop").cast("long").alias("eff_diameter_hops"),
            F.min("nf_final").alias("nf_final"),
        )
    )
