"""Local clustering coefficient, k-core, and SimHash near-pairs —
brute-force differential tests on random graphs/corpora."""

from __future__ import annotations

import itertools
import random

import pytest

from wedge_parallel_triangle_counting_spark.operators.clustering import (
    local_triangle_counts,
)
from wedge_parallel_triangle_counting_spark.operators.dedup import (
    simhash,
    simhash_near_pairs,
)
from wedge_parallel_triangle_counting_spark.operators.kcore import k_core

from .conftest import edges_df


def _und(pairs):
    return {(min(a, b), max(a, b)) for a, b in pairs if a != b}


def _adj(und):
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def _random_graph(seed, n, m):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


@pytest.mark.parametrize("seed", [2, 11])
def test_local_clustering_matches_bruteforce(spark, seed):
    pairs = _random_graph(seed, 40, 220)
    adj = _adj(_und(pairs))
    want_t = {
        v: sum(
            1
            for a, b in itertools.combinations(sorted(adj[v]), 2)
            if b in adj[a]
        )
        for v in adj
    }
    got = {
        r.v: (r.tri_count, r.lcc)
        for r in local_triangle_counts(edges_df(spark, pairs)).collect()
    }
    assert set(got) == set(adj)
    for v in adj:
        d = len(adj[v])
        assert got[v][0] == want_t[v], v
        want_lcc = round(want_t[v] * 2.0 / (d * (d - 1)), 6) if d >= 2 else 0.0
        assert abs(got[v][1] - want_lcc) < 1e-9, v


def test_local_clustering_triangle_sum(spark):
    # sum of per-vertex counts = 3 * global triangle count
    from wedge_parallel_triangle_counting_spark.operators.triangles import (
        triangle_count,
    )

    pairs = _random_graph(5, 30, 200)
    df = edges_df(spark, pairs)
    per_v = local_triangle_counts(df).agg({"tri_count": "sum"}).collect()[0][0]
    total = triangle_count(df).collect()[0][0]
    assert per_v == 3 * total


def _brute_kcore(pairs, k):
    und = _und(pairs)
    while True:
        adj = _adj(und)
        bad = {v for v, ns in adj.items() if len(ns) < k}
        if not bad:
            return adj
        und = {(a, b) for a, b in und if a not in bad and b not in bad}


@pytest.mark.parametrize("k", [2, 3, 4])
def test_kcore_matches_bruteforce(spark, k):
    pairs = _random_graph(7, 35, 150)
    want = _brute_kcore(pairs, k)
    got = {r.v: r.core_degree for r in k_core(edges_df(spark, pairs), k=k).collect()}
    assert got == {v: len(ns) for v, ns in want.items()}


def test_kcore_triangle_graph(spark):
    # K4 minus one edge: 2-core is everything, 3-core is empty
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)]
    assert k_core(edges_df(spark, pairs), k=3).count() == 0
    got = {r.v: r.core_degree for r in k_core(edges_df(spark, pairs), k=2).collect()}
    assert got == {0: 3, 1: 3, 2: 2, 3: 2}


def test_simhash_near_pairs_exact_recall(spark):
    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # identical
        (2, "the quick brown fox jumps over the lazy cat"),  # near
        (3, "completely different words entirely unrelated content"),
        (4, "another unrelated block of text with other words"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {(r.doc_a, r.doc_b, r.hamming) for r in simhash_near_pairs(df).collect()}
    # pigeonhole guarantees EXACT recall at hamming <= bands-1
    assert got == want
    assert (0, 1, 0) in got  # identical docs at distance 0


def test_simhash_near_pairs_rejects_bad_params(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_near_pairs(df, max_hamming=5, bands=4)


def test_link_prediction_common_neighbors(spark):
    from wedge_parallel_triangle_counting_spark.operators.linkpred import (
        common_neighbor_pairs,
    )

    pairs = _random_graph(41, 30, 120)
    adj = _adj(_und(pairs))
    scores = {}
    verts = sorted(adj)
    for i, x in enumerate(verts):
        for y in verts[i + 1 :]:
            if y in adj[x]:
                continue  # adjacent pairs excluded
            cn = len(adj[x] & adj[y])
            if cn > 0:
                scores[(x, y)] = cn
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        ((r.id_a, r.id_b), r.cn)
        for r in common_neighbor_pairs(edges_df(spark, pairs), k=10).collect()
    ]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == want


def _cn_brute(pairs, k, max_degree=None):
    adj = _adj(_und(pairs))
    if max_degree is not None:
        centers = {z for z, ns in adj.items() if len(ns) <= max_degree}
    else:
        centers = set(adj)
    scores = {}
    for z in centers:
        ns = sorted(adj[z])
        for i, x in enumerate(ns):
            for y in ns[i + 1 :]:
                if y not in adj[x]:  # adjacent pairs excluded
                    scores[(x, y)] = scores.get((x, y), 0) + 1
    # note: x-y adjacency is checked against the FULL adjacency even
    # when max_degree caps which centers count — matching the operator
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_link_prediction_max_degree_excludes_hub_centers(spark):
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.linkpred import (
        common_neighbor_pairs,
    )
    from wedge_parallel_triangle_counting_spark.operators.graph import (
        normalize_edges,
        symmetrize,
        wedge_pairs,
    )

    # Zipf-ish fixture with one explicit mega-hub (vertex 0 touches all)
    rng = random.Random(77)
    n = 120
    pairs = [(0, v) for v in range(1, n)]
    for _ in range(300):
        a = 1 + int((rng.random() ** 2) * (n - 1))
        b = 1 + rng.randrange(n - 1)
        pairs.append((a, b))
    cap = 40
    adj = _adj(_und(pairs))
    assert len(adj[0]) > cap  # the hub really exceeds the cap

    want = _cn_brute(pairs, k=15, max_degree=cap)
    got = [
        ((r.id_a, r.id_b), r.cn)
        for r in common_neighbor_pairs(
            edges_df(spark, pairs), k=15, max_degree=cap
        ).collect()
    ]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == want

    # candidate relation is bounded: capped <= sum_{deg<=cap} d(d-1)/2,
    # strictly fewer rows than the uncapped relation that the hub inflates
    sym = symmetrize(normalize_edges(edges_df(spark, pairs)))
    inc = sym.select(F.col("src").alias("key"), F.col("dst").alias("item"))
    capped = wedge_pairs(inc, max_key_deg=cap).count()
    uncapped = wedge_pairs(inc).count()
    bound = sum(
        len(ns) * (len(ns) - 1) // 2 for ns in adj.values() if len(ns) <= cap
    )
    assert capped <= bound
    assert capped < uncapped


def test_link_prediction_hub_salting_is_exact(spark, monkeypatch):
    from wedge_parallel_triangle_counting_spark.operators import graph
    from wedge_parallel_triangle_counting_spark.operators.linkpred import (
        common_neighbor_pairs,
    )

    pairs = _random_graph(43, 30, 150)
    want = _cn_brute(pairs, k=10)
    # force the salted hub lane on for essentially every center
    monkeypatch.setattr(graph, "WEDGE_SALT_MIN_DEG", 2)
    monkeypatch.setattr(graph, "WEDGE_SALT_SPLITS", 5)
    got = [
        ((r.id_a, r.id_b), r.cn)
        for r in common_neighbor_pairs(edges_df(spark, pairs), k=10).collect()
    ]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == want


def test_link_prediction_scores_match_brute(spark, monkeypatch):
    import math

    from wedge_parallel_triangle_counting_spark.operators import graph
    from wedge_parallel_triangle_counting_spark.operators.linkpred import (
        link_prediction_scores,
    )

    pairs = _random_graph(43, 30, 130)
    adj = _adj(_und(pairs))
    verts = sorted(adj)
    aa, jac = {}, {}
    for i, x in enumerate(verts):
        for y in verts[i + 1 :]:
            if y in adj[x]:
                continue
            common = adj[x] & adj[y]
            if common:
                aa[(x, y)] = sum(1.0 / math.log(len(adj[z])) for z in common)
                jac[(x, y)] = len(common) / len(adj[x] | adj[y])
    df = edges_df(spark, pairs)
    for method, want_scores in (("adamic_adar", aa), ("jaccard", jac)):
        got = link_prediction_scores(df, k=15, method=method).collect()
        want = sorted(
            ((round(s, 6), p) for p, s in want_scores.items()),
            key=lambda t: (-t[0], t[1]),
        )[:15]
        assert [(r.score, (r.id_a, r.id_b)) for r in got] == want, method
        # cn column consistent with the set intersection
        for r in got:
            assert r.cn == len(adj[r.id_a] & adj[r.id_b])
    # hub salting keeps weighted scores exact too: star + clique fixture
    star = [(0, i) for i in range(1, 40)] + [(1, 2), (2, 3)]
    monkeypatch.setattr(graph, "WEDGE_SALT_MIN_DEG", 8)
    hub_got = link_prediction_scores(
        edges_df(spark, star), k=5, method="resource_allocation"
    ).collect()
    sadj = _adj(_und(star))
    for r in hub_got:
        want_ra = round(
            sum(1.0 / len(sadj[z]) for z in sadj[r.id_a] & sadj[r.id_b]), 6
        )
        assert r.score == want_ra
