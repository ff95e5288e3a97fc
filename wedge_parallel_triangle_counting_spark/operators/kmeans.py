"""Deterministic k-means over embedding vectors (Lloyd iterations in
quantized integer space).

Embedding clustering is the curation workhorse of a training-data
pipeline (SemDeDup-style semantic dedup, cluster-balanced sampling,
topic bucketing). Float Lloyd is cross-engine UNSTABLE — centroid
means depend on float summation order — so the engine quantizes once
and runs EXACT integer arithmetic end to end:

    q[d] = floor(x[d] * 1e6) + OFFSET        (OFFSET = 2^24)

The offset keeps every value nonnegative, making Spark's truncating
integer division equal to DuckDB's floor division in the centroid
update (mean = sum DIV count) — the one operator where the two
engines' negative-division conventions would otherwise diverge.
Distances are offset-invariant. Magnitudes: |q| < 2^25, squared-diff
sums over 64 dims < 2^57 — exact in int64; centroid sums < n * 2^25.

Initialization: the k vectors with the smallest md5-derived hash of
their id (total order, both engines identical). Assignment tie-break:
(distance, centroid id) ascending. Every step is a pure function of
the input — the unrolled oracle (plans/oracles.py::kmeans_sql) replays
all iterations bit-for-bit.

Scale shape: centroids are a k-row broadcast; assignment is one
embedding-sized map (zip_with + aggregate in codegen, no UDF);
the update is one (cid, dim) aggregation with map-side combine —
k*dim output rows. Per iteration: ONE shuffle of k*dim partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint

OFFSET = 1 << 24
SCALE = 1_000_000


def _quantize(col):
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * SCALE).cast("long") + OFFSET
    )


def _h64(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _farthest_init(vecs: DataFrame, k: int) -> DataFrame:
    """Deterministic k-means++-style farthest-point seeding: centroid
    0 is the smallest-md5 vector (same rule that orders the hash
    init); each next centroid is the vector MAXIMIZING its min
    squared distance to the chosen set, ties to the smaller vec_id.
    Exact integers end to end; k-1 corpus-scan argmax jobs (k is
    small — the chosen set rides the driver). Spreads seeds across
    the data instead of hash-uniformly — the classic Lloyd
    quality/convergence win (Arthur-Vassilvitskii 2007, the
    deterministic farthest-first flavor)."""
    seed_h = _h64(F.concat(F.lit("km:"), F.col("vec_id").cast("string")))
    first = (
        vecs.select("vec_id", "q", seed_h.alias("h"))
        .orderBy("h", "vec_id")
        .first()
    )
    chosen = [(0, first["vec_id"], list(first["q"]))]
    spark = vecs.sparkSession
    for i in range(1, k):
        cdf = spark.createDataFrame(
            [(c[2],) for c in chosen], "cq array<bigint>"
        )
        d = F.aggregate(
            F.zip_with(F.col("q"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        far = (
            vecs.crossJoin(F.broadcast(cdf))
            .select("vec_id", "q", d.alias("d"))
            .groupBy("vec_id", "q")
            .agg(F.min("d").alias("dmin"))
            .orderBy(F.desc("dmin"), F.asc("vec_id"))
            .first()
        )
        chosen.append((i, far["vec_id"], list(far["q"])))
    return spark.createDataFrame(
        [(cid, q) for cid, _, q in chosen], "cid int, cq array<bigint>"
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    num_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "hash",
) -> tuple[DataFrame, DataFrame]:
    """(assign, centroids): assign = [vec_id, q, cluster] (q the
    quantized offset-integer vector), centroids = [cid, cq] — the
    integer means recomputed from the FINAL assignment (the state an
    IVF index stores). Same deterministic recursion as kmeans_assign.
    init = "hash" (k smallest-md5 vectors) or "farthest"
    (deterministic k-means++-style farthest-first seeding)."""
    spark = embeddings.sparkSession
    vecs = checkpoint(
        embeddings.select(
            F.col(id_col).alias("vec_id"), _quantize(F.col(vec_col)).alias("q")
        ),
        eager=True,
    )

    seed_h = _h64(F.concat(F.lit("km:"), F.col("vec_id").cast("string")))
    from pyspark.sql.window import Window

    if init == "farthest":
        cents = checkpoint(_farthest_init(vecs, k), eager=True)
    elif init == "hash":
        hinit = (
            vecs.select("vec_id", "q", seed_h.alias("h"))
            .orderBy("h", "vec_id")
            .limit(k)
        )
        cents = checkpoint(
            hinit.select(
                (
                    F.row_number().over(Window.orderBy("h", "vec_id")) - 1
                ).alias("cid"),
                F.col("q").alias("cq"),
            ),
            eager=True,
        )
    else:
        raise ValueError(f"unknown init {init!r}")

    dist = F.aggregate(
        F.zip_with(F.col("q"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def _update(asg):
        return checkpoint(
            asg.select("cluster", F.posexplode("q").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.expr("sum(val) div count(*)").alias("cv"))
            .groupBy(F.col("cluster").alias("cid"))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "cv"))
                ).alias("pv")
            )
            .select("cid", F.col("pv.cv").alias("cq")),
            eager=True,
        )

    assign = None
    for it in range(num_iters):
        assign = (
            vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", "q", "cid", dist.alias("d"))
            .groupBy("vec_id", "q")
            .agg(F.min(F.struct("d", "cid")).alias("m"))
            .select("vec_id", "q", F.col("m.cid").alias("cluster"))
        )
        if it == num_iters - 1:
            assign = checkpoint(assign, eager=True)
            break
        cents = _update(assign)
    return assign, _update(assign)


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    num_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "hash",
) -> DataFrame:
    """[vec_id: long, cluster: int] — the Lloyd assignment after
    num_iters exact integer iterations from the deterministic
    smallest-hash initialization. A cluster that loses all members is
    dropped (not re-seeded) — identical convention in the oracle."""
    assign, _ = kmeans_fit(embeddings, k, num_iters, id_col, vec_col, init=init)
    return assign.select("vec_id", F.col("cluster").cast("int").alias("cluster"))
