"""Evaluation-layer operators: LSH-dedup recall/precision and IVF
recall against their exact ground truths, plus the clustering-by-degree
curve and PageRank convergence residuals."""

from __future__ import annotations

import pytest

from tests.conftest import BARBELL, K4, STAR10, edges_df
from wedge_parallel_triangle_counting_spark.operators.clustering import (
    clustering_by_degree,
)
from wedge_parallel_triangle_counting_spark.operators.evaluation import (
    ivf_recall_eval,
    lsh_dedup_eval,
)
from wedge_parallel_triangle_counting_spark.operators.pagerank import (
    pagerank_convergence,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup
    (2, "the quick brown fox jumps over the lazy cat today"),  # near dup
    (3, "der hund und die katze ist ein tier mit fell heute"),
    (4, "completely different words entirely unrelated content here now"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_lsh_dedup_eval_identical_docs_full_recall(spark):
    row = lsh_dedup_eval(_docs(spark)).collect()[0]
    # (0,1) are byte-identical: in truth at any threshold AND share
    # every band signature, so at least that pair is hit
    assert row.n_truth >= 1
    assert row.n_hits >= 1
    assert row.n_hits <= min(row.n_truth, row.n_candidates)
    assert row.recall_ppm == row.n_hits * 1_000_000 // row.n_truth
    assert row.precision_ppm == row.n_hits * 1_000_000 // row.n_candidates
    assert 0 <= row.recall_ppm <= 1_000_000
    assert 0 <= row.precision_ppm <= 1_000_000


def test_lsh_dedup_eval_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    row = lsh_dedup_eval(empty).collect()[0]
    assert (row.n_truth, row.n_candidates, row.n_hits) == (0, 0, 0)
    assert (row.recall_ppm, row.precision_ppm) == (0, 0)


def _emb(spark, n=20, dim=4):
    # deterministic integer-ish vectors, distinct directions
    rows = [
        (i, [float((i * 7 + j * 3) % 11 + 1) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_recall_probe_all_lists_is_exact(spark):
    # nprobe == n_clusters probes every inverted list, so the IVF
    # candidate set contains the whole corpus and recall must be 10⁶
    out = ivf_recall_eval(
        _emb(spark), k=3, query_limit=4, n_clusters=2, nprobe=2
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r.n_truth == 3
        assert r.n_hits == 3
        assert r.recall_ppm == 1_000_000


def test_ivf_recall_bounds(spark):
    out = ivf_recall_eval(
        _emb(spark), k=3, query_limit=4, n_clusters=4, nprobe=1
    ).collect()
    assert len(out) == 4  # every query keeps a row even at 0 hits
    for r in out:
        assert 0 <= r.n_hits <= r.n_truth == 3
        assert r.recall_ppm == r.n_hits * 1_000_000 // 3


def test_clustering_by_degree_k4(spark):
    rows = clustering_by_degree(edges_df(spark, K4)).collect()
    assert len(rows) == 1
    r = rows[0]
    # K4: every vertex degree 3, 3 triangles through each corner
    assert (r.degree, r.n_vertices, r.total_triangles) == (3, 4, 12)
    assert r.closed_ppm == 1_000_000


def test_clustering_by_degree_star(spark):
    rows = {r.degree: r for r in clustering_by_degree(edges_df(spark, STAR10)).collect()}
    assert rows[1].n_vertices == 10 and rows[1].closed_ppm == 0
    assert rows[10].n_vertices == 1 and rows[10].total_triangles == 0
    assert rows[10].closed_ppm == 0


def test_clustering_by_degree_consistent_with_lcc(spark):
    from wedge_parallel_triangle_counting_spark.operators.clustering import (
        local_triangle_counts,
    )

    e = edges_df(spark, BARBELL)
    per_v = local_triangle_counts(e).collect()
    curve = clustering_by_degree(e).collect()
    assert sum(r.total_triangles for r in curve) == sum(r.tri_count for r in per_v)
    assert sum(r.n_vertices for r in curve) == len(per_v)


def test_pagerank_convergence_residuals_decay(spark):
    e = edges_df(spark, [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (4, 3)])
    out = sorted(
        pagerank_convergence(e, num_iters=5).collect(), key=lambda r: r.iter
    )
    assert [r.iter for r in out] == [1, 2, 3, 4, 5]
    res = [r.l1_residual for r in out]
    assert all(x >= 0 for x in res)
    assert res[0] > 0
    # damping contracts the iteration: the tail residual is far below
    # the head (geometric decay; allow non-strict single steps)
    assert res[-1] < res[0]
    assert res[-1] <= 0.85 ** 2 * res[0] + 1e-9


def test_pagerank_convergence_matches_tol_delta(spark):
    # the residual column is the same statistic the tol path computes
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank

    e = edges_df(spark, [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (4, 3)])
    frames: list = []
    pr = pagerank(e, num_iters=3, residuals_out=frames)
    # tracked run returns the SAME final ranks as a plain run
    plain = pagerank(e, num_iters=3)
    a = {r.v: r.pr for r in pr.collect()}
    b = {r.v: r.pr for r in plain.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)
    assert len(frames) == 3
    for i, f in enumerate(frames, start=1):
        row = f.collect()[0]
        assert row.iter == i
        assert row.l1_residual >= 0


def test_pagerank_convergence_empty_graph(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank_convergence(empty, num_iters=3).count() == 0


@pytest.mark.usefixtures("local_lane")
class TestPagerankConvergenceLocalLane:
    """The pagerank_convergence tests above, on pagerank's driver-local lane."""

    test_pagerank_convergence_residuals_decay = staticmethod(
        test_pagerank_convergence_residuals_decay
    )
    test_pagerank_convergence_matches_tol_delta = staticmethod(
        test_pagerank_convergence_matches_tol_delta
    )
    test_pagerank_convergence_empty_graph = staticmethod(
        test_pagerank_convergence_empty_graph
    )


def test_minhash_estimate_eval_identical_pair_exact(spark):
    from wedge_parallel_triangle_counting_spark.operators.evaluation import (
        minhash_estimate_eval,
    )

    out = {(r.doc_a, r.doc_b): r for r in minhash_estimate_eval(_docs(spark)).collect()}
    assert (0, 1) in out  # identical docs are always LSH candidates
    r = out[(0, 1)]
    assert r.est_ppm == 1_000_000  # all 16 minhashes agree
    assert r.true_ppm == 1_000_000
    assert r.abs_err_ppm == 0
    for p in out.values():
        assert 0 <= p.est_ppm <= 1_000_000
        assert 0 <= p.true_ppm <= 1_000_000
        assert p.abs_err_ppm == abs(p.est_ppm - p.true_ppm)


# --- regression GATES on the real fixture (VERDICT r4 item 7) -------------
# These turn the evaluation reports into failing checks: if a change to
# the kmeans coarse quantizer, the IVF probe path, or the
# MinHash/banding parameters degrades retrieval quality, the suite
# breaks — not just the report. Everything here is deterministic
# (deterministic data, deterministic kmeans/minhash), so the floors are
# exact regression bars, not statistical ones.

FIXTURE = "/root/testdata/sf0.001"


def _overall_recall(rows) -> float:
    return sum(r.n_hits for r in rows) / sum(r.n_truth for r in rows)


def test_gate_ivf_recall_curve_on_fixture(spark):
    """IVF recall@5 floors per nprobe on the sf0.001 embeddings.

    The synthetic embeddings are near-uniform in 64-d (pairwise cosine
    ceiling ~0.51, no cluster structure), the worst case for IVF: true
    neighbors spread across Voronoi cells, so recall scales with
    nprobe/n_clusters rather than saturating early. Measured curve:
    nprobe 2 -> 0.50, 4 -> 0.74, 6 -> 0.86, 8 (=n_clusters) -> exact.
    The floors sit just under those; a quantizer or probe regression
    drops one of them. nprobe = n_clusters MUST be exact (scanning
    every list is brute force with extra steps)."""
    emb = spark.read.parquet(f"{FIXTURE}/embeddings.parquet")
    floors = {2: 0.45, 4: 0.70, 6: 0.80}
    got = {}
    for nprobe, floor in floors.items():
        rows = ivf_recall_eval(
            emb, k=5, query_limit=10, n_clusters=8, nprobe=nprobe
        ).collect()
        got[nprobe] = _overall_recall(rows)
        assert got[nprobe] >= floor, (nprobe, got[nprobe])
    # monotone in nprobe
    assert got[2] <= got[4] <= got[6], got
    exact = ivf_recall_eval(
        emb, k=5, query_limit=10, n_clusters=8, nprobe=8
    ).collect()
    assert all(r.recall_ppm == 1_000_000 for r in exact)


def test_gate_lsh_dedup_recall_precision_on_fixture(spark):
    """Banded MinHash-LSH candidates vs exact n-gram Jaccard truth on
    the sf0.001 documents: measured 1.0 recall / 1.0 precision (the
    corpus's duplicate pairs are well above the banding threshold).
    Gate at >= 0.95 both ways so a banding/hash regression fails the
    suite."""
    docs = spark.read.parquet(f"{FIXTURE}/documents.parquet")
    row = lsh_dedup_eval(docs).collect()[0]
    assert row.n_truth > 0
    assert row.recall_ppm >= 950_000, row
    assert row.precision_ppm >= 950_000, row


def test_gate_planted_near_dup_recall_is_total(spark):
    """The planted near-dup fixture (dedup.plant_near_dup_embeddings)
    guarantees axis-sign LSH recalls every planted pair (the x1.25
    perturbation preserves every sign bit). Gate: embedding_near_dup at
    the real-corpus 0.9 threshold returns EXACTLY one verdict per
    planted id, each pointing at its predecessor with cosine >= 0.9."""
    from wedge_parallel_triangle_counting_spark.operators.dedup import (
        embedding_near_dup,
        plant_near_dup_embeddings,
    )

    docs = spark.read.parquet(f"{FIXTURE}/documents.parquet")
    emb = spark.read.parquet(f"{FIXTURE}/embeddings.parquet")
    n = emb.count()
    planted_ids = {v for v in range(n) if v % 7 == 3 and v >= 1}
    out = embedding_near_dup(
        docs, plant_near_dup_embeddings(emb), threshold=0.9
    ).collect()
    got = {r.doc_id: r for r in out}
    assert set(got) == planted_ids
    for v in planted_ids:
        assert got[v].dup_of == v - 1
        assert got[v].cos >= 0.9
