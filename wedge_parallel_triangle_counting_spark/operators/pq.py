"""Product quantization: the IVF-PQ approximate-nearest-neighbor index.

Completes the engine's ANN ladder (brute-force cosine -> axis-sign /
random-hyperplane LSH -> IVF -> IVF-PQ). At 100 TB the raw float
corpus (64 dims x 4 B = 256 B/vector) does not fit executor memory;
PQ replaces each vector with `m_sub` one-byte codes (here 4 codes,
64x smaller), so candidate scoring streams a compact code table and a
broadcast codebook instead of the raw vectors - the memory-bandwidth
argument that makes FAISS-style IVF-PQ the standard web-scale index.
This is the `by_residual=false` IVF-PQ flavor: codes quantize the raw
vector, not the coarse residual, which keeps every training step in
the engine's exact nonnegative-integer arithmetic (the offset trick
that makes Spark's `DIV` equal DuckDB's `//`; see operators/kmeans.py).

Training runs ALL subspace quantizers in ONE Lloyd loop: the corpus
explodes once into (vec_id, m, subvector) rows and the cluster key is
(m, code), so each iteration costs a single (m_sub * ks * ds)-row
shuffle regardless of how many subspaces there are - not m_sub
sequential k-means jobs. Every step (md5 seeding per subspace,
(distance, code) argmin tie-break, integer-mean codebook update) is a
pure function of the input; plans/oracles.py::ivf_pq_topk_sql replays
the whole recursion bit-for-bit in DuckDB.

Query path = coarse IVF probe (operators/similarity.py::ivf_topk's
broadcast probe of nprobe lists) + asymmetric distance computation:
rank candidates by sum_m ||q_m - codebook[m][code_m(x)]||^2 in exact
int64 (offset-invariant), tie-break vec_id. Output is all-BIGINT -
representation-stable across engines by construction.

Reference scope note: the reference (CUDA wedge-parallel triangle
counting) has no ANN surface; this operator is part of the
training-data-pipeline mandate, not reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint
from .kmeans import _h64, _quantize


def pq_fit(
    emb: DataFrame,
    m_sub: int = 4,
    ks: int = 16,
    num_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(codes, codebook): codes = [vec_id, m, code], codebook =
    [m, code, cq] with cq the integer-mean subspace centroid
    recomputed from the FINAL assignment (the state a PQ index
    stores, mirroring kmeans_fit's contract).

    One Lloyd loop trains all `m_sub` subspace quantizers at once:
    the (m, code)-keyed update shuffles m_sub*ks*ds partial rows per
    iteration, and the assignment joins a broadcast codebook of
    m_sub*ks rows - both independent of corpus size beyond the one
    embedding-sized scan.
    """
    from pyspark.sql.window import Window

    if num_iters < 1:
        raise ValueError("pq_fit needs num_iters >= 1")
    if dim is None:
        dim = emb.select(F.size(vec_col).alias("d")).first()["d"]
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    ds = dim // m_sub

    vecs = emb.select(
        F.col(id_col).alias("vec_id"), _quantize(F.col(vec_col)).alias("q")
    )
    subs = checkpoint(
        vecs.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice("q", m * ds + 1, ds).alias("sq"),
                        )
                        for m in range(m_sub)
                    ]
                )
            ).alias("s"),
        )
        .select("vec_id", "s.m", "s.sq"),
        eager=True,
    )

    seed_h = _h64(
        F.concat(
            F.lit("pq:"),
            F.col("m").cast("string"),
            F.lit(":"),
            F.col("vec_id").cast("string"),
        )
    )
    wseed = Window.partitionBy("m").orderBy("h", "vec_id")
    cb = checkpoint(
        subs.select("vec_id", "m", "sq", seed_h.alias("h"))
        .withColumn("code", F.row_number().over(wseed) - 1)
        .filter(F.col("code") < ks)
        .select("m", "code", F.col("sq").alias("cq")),
        eager=True,
    )

    dist = F.aggregate(
        F.zip_with(F.col("sq"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def _update(codes):
        return checkpoint(
            codes.select("m", "code", F.posexplode("sq").alias("pos", "val"))
            .groupBy("m", "code", "pos")
            .agg(F.expr("sum(val) div count(*)").alias("cv"))
            .groupBy("m", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pv"))
            .select("m", "code", F.col("pv.cv").alias("cq")),
            eager=True,
        )

    codes = None
    for it in range(num_iters):
        codes = (
            subs.join(F.broadcast(cb), "m")
            .select("vec_id", "m", "sq", "code", dist.alias("d"))
            .groupBy("vec_id", "m", "sq")
            .agg(F.min(F.struct("d", "code")).alias("mn"))
            .select("vec_id", "m", "sq", F.col("mn.code").alias("code"))
        )
        if it == num_iters - 1:
            codes = checkpoint(codes, eager=True)
            break
        cb = _update(codes)
    return codes.select("vec_id", "m", "code"), _update(codes)


def ivf_pq_topk(
    emb: DataFrame,
    k: int = 5,
    query_limit: int = 10,
    n_clusters: int = 8,
    nprobe: int = 2,
    num_iters: int = 3,
    m_sub: int = 4,
    ks: int = 16,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse IVF lists select candidates
    (same probe shape as similarity.py::ivf_topk), asymmetric distance
    over PQ codes ranks them. Returns (query_id, vec_id, adc, rank),
    adc the exact int64 quantized squared-L2 ADC distance - closest
    first, (adc, vec_id) tie-break.

    Scale shape: the scoring join touches only the code table
    (m_sub smallints per vector) plus two broadcasts (codebook:
    m_sub*ks rows; query subvectors: query_limit*m_sub rows) - the
    raw float vectors are never read on the query path.
    """
    from pyspark.sql import Window

    from .kmeans import kmeans_fit

    assign, cents = kmeans_fit(
        emb, k=n_clusters, num_iters=num_iters, id_col=id_col, vec_col=vec_col
    )

    qdist = F.aggregate(
        F.zip_with(F.col("q"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wprobe = Window.partitionBy("query_id").orderBy("pd", "cid")
    probe = (
        assign.filter(F.col("vec_id") < query_limit)
        .select(F.col("vec_id").alias("query_id"), "q")
        .crossJoin(F.broadcast(cents))
        .select("query_id", "cid", qdist.alias("pd"))
        .withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", F.col("cid").alias("cluster"))
    )

    dim = emb.select(F.size(vec_col)).first()[0]
    ds = dim // m_sub
    codes, codebook = pq_fit(
        emb,
        m_sub=m_sub,
        ks=ks,
        num_iters=pq_iters,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    qsubs = (
        emb.filter(F.col(id_col) < query_limit)
        .select(F.col(id_col).alias("query_id"), _quantize(F.col(vec_col)).alias("q"))
        .select(
            "query_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice("q", m * ds + 1, ds).alias("qsq"),
                        )
                        for m in range(m_sub)
                    ]
                )
            ).alias("s"),
        )
        .select("query_id", "s.m", F.col("s.qsq").alias("qsq"))
    )

    cand = (
        assign.select("vec_id", "cluster")
        .join(F.broadcast(probe), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )

    subdist = F.aggregate(
        F.zip_with(F.col("qsq"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(codebook), ["m", "code"])
        .join(F.broadcast(qsubs), ["query_id", "m"])
        .select("query_id", "vec_id", subdist.alias("dm"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dm").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.col("adc").cast("long").alias("adc"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
