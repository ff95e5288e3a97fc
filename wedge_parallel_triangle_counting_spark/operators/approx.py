"""Approximate triangle counting by DETERMINISTIC wedge sampling.

The classic wedge-sampling estimator (Seshadhri/Pinar/Kolda): sample K
wedges uniformly, measure the closed fraction p̂, estimate T ≈ p̂·W/3
— here reported as closed·W/K closed wedges (each triangle closes
exactly one wedge under degree orientation, so the estimate targets T
directly, not 3T).

Determinism (so a SQL oracle can reproduce it bit for bit): the K
sampled wedge ids are the fixed quantile indices floor(t·W/K); the
global wedge order is (v, x, y) ascending over the degree-oriented
adjacency — exactly the reference's A3 global wedge cumsum order, and
the id→(vertex, i, j) decode is the reference's F1 triangular decode
(tc.cu:194-244) done in exact integer arithmetic.

Accuracy is the standard wedge-sampling tradeoff: the closed-wedge
fraction p = T/W is what's estimated, so K must be Ω(W/T) before the
expected closed-sample count is ≥1 — on very sparse graphs (tiny p)
a small K correctly returns 0 with high probability; scale K to the
relative error you need (stderr ≈ sqrt(p/K)·W).

Scale shape: W and the per-vertex cumulative wedge offsets come from
the two-pass weighted cumsum (ids.attach_cumulative_weight) — no
global sort bottleneck; locating the K ids is a per-partition
searchsorted (each range partition owns a contiguous cum interval);
only K rows (default 256) ever reach the driver; the closure check is
one semi-join. Total cost is prep + O(n) scans — independent of W,
which is the entire point at 10^13 wedges.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import checkpoint
from .graph import adjacency, prepare_oriented_fast
from .ids import attach_cumulative_weight


def _pairs_before(i: int, d: int) -> int:
    """# adjacency pairs (i', j) with i' < i — reference F2 closed form."""
    return i * (2 * d - i - 1) // 2


def _decode(r: int, d: int) -> tuple[int, int]:
    """Exact integer triangular decode: wedge offset r within a
    degree-d adjacency → (i, j), i < j < d. Float sqrt gives the
    starting guess; integer fix-up makes it exact (the reference notes
    its float-only decode is 'not tested for limits', tc.cu:210)."""
    disc = (d - 0.5) ** 2 - 2 * r
    i = int(d - 0.5 - disc**0.5) if disc > 0 else 0
    i = max(0, min(i, d - 2))
    while i + 1 <= d - 2 and _pairs_before(i + 1, d) <= r:
        i += 1
    while i > 0 and _pairs_before(i, d) > r:
        i -= 1
    j = i + 1 + (r - _pairs_before(i, d))
    return i, j


def triangle_count_sampled(
    edges: DataFrame, k: int = 256, npartitions: int | None = None
) -> DataFrame:
    """Eager 1-row DataFrame [estimate, closed, sampled, total_wedges]:
    estimate = floor(closed · W / sampled) exact-integer arithmetic
    (equals the exact count when sampled == W, i.e. W <= k)."""
    spark = edges.sparkSession
    caches: list = []
    oriented, _deg, _n, _max_id, _stats = prepare_oriented_fast(
        edges, npartitions, caches=caches
    )
    oriented = oriented.persist()
    caches.append(oriented)

    odeg = oriented.groupBy("src").agg(F.count("*").alias("deg"))
    wsrc = odeg.filter(F.col("deg") >= 2).select(
        "src", "deg", (F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("wedges")
    )
    cw, total_w = attach_cumulative_weight(wsrc, ["src"], "wedges", "cum", caches=caches)

    def finish(est: int, closed: int, sampled: int) -> DataFrame:
        for c in caches:
            c.unpersist()
        return spark.createDataFrame(
            [(int(est), int(closed), int(sampled), int(total_w))],
            "estimate long, closed long, sampled long, total_wedges long",
        )

    if total_w == 0:
        return finish(0, 0, 0)

    idx = sorted({t * total_w // k for t in range(k)})
    idx_bc = spark.sparkContext.broadcast(np.array(idx, dtype=np.int64))

    def locate(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = idx_bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            cum = pdf["cum"].values.astype(np.int64)
            wed = pdf["wedges"].values.astype(np.int64)
            pos = np.searchsorted(cum, ids, side="right") - 1
            ok = pos >= 0
            p = np.clip(pos, 0, len(cum) - 1)
            ok &= (ids >= cum[p]) & (ids < cum[p] + wed[p])
            if not ok.any():
                continue
            p = p[ok]
            yield pd.DataFrame(
                {
                    "v": pdf["src"].values.astype(np.int64)[p],
                    "deg": pdf["deg"].values.astype(np.int64)[p],
                    "r": ids[ok] - cum[p],
                }
            )

    # K rows total — a bounded driver collect by construction
    rows = cw.mapInPandas(locate, schema="v long, deg long, r long").collect()
    sampled = [(int(x.v), *_decode(int(x.r), int(x.deg))) for x in rows]
    n_sampled = len(sampled)
    samp_df = F.broadcast(
        spark.createDataFrame(sampled, "v long, i int, j int")
    )

    adj = adjacency(oriented)
    probes = samp_df.join(adj, "v").select(
        F.element_at("adj", F.col("i") + 1).alias("x"),
        F.element_at("adj", F.col("j") + 1).alias("y"),
    )
    canon = oriented.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    )
    closed = probes.join(canon, ["x", "y"], "left_semi").count()
    est = closed * total_w // n_sampled if n_sampled else 0
    return finish(est, closed, n_sampled)


def triangle_count_doulion(
    edges: DataFrame,
    keep_num: int = 3,
    keep_den: int = 10,
) -> DataFrame:
    """DOULION (Tsourakakis et al. 2009) edge-sampling triangle
    estimate: keep each canonical undirected edge with probability
    p = keep_num/keep_den via a DETERMINISTIC md5 coin (so both
    engines sample the identical subgraph), count triangles on the
    sparsified graph exactly, scale by 1/p^3. One row:
    (kept_edges, sampled_triangles, est_triangles) with
    est = tri * keep_den^3 div keep_num^3 — exact integer arithmetic,
    E[est] = T.

    The sparsifier is the at-scale lever the wedge-sampling estimator
    (triangle_count_sampled) doesn't have: it shrinks the EDGE table
    itself by p before any shuffle, so every downstream stage (orient,
    adjacency build, closure) pays p× the I/O — the standard first
    move on a 10^12-edge graph where even one full pass is expensive.
    """
    from .graph import normalize_edges
    from .triangles import triangle_count

    e = normalize_edges(edges).filter(F.col("src") != F.col("dst"))
    und = e.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    ).distinct()
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("doulion"),
                        F.col("src").cast("string"),
                        F.col("dst").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % keep_den
    )
    kept = checkpoint(und.filter(coin < keep_num), eager=True)
    m_kept = kept.count()
    tri = triangle_count(kept).collect()[0][0]
    est = tri * keep_den**3 // keep_num**3
    return kept.sparkSession.createDataFrame(
        [(m_kept, tri, est)],
        "kept_edges long, sampled_triangles long, est_triangles long",
    )
