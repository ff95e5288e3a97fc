"""Property-based tests (hypothesis) for the graph invariants of
SURVEY §5 / FIXTURES §5, plus a Zipf-skew test that exercises the hub
lane for real."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wedge_parallel_triangle_counting_spark.operators import graph as G
from wedge_parallel_triangle_counting_spark.operators.triangles import triangle_count

from .conftest import edges_df


def _brute(pairs):
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return sum(1 for a, b in und for c in adj[a] & adj[b] if c > b)


edge_lists = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=120
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=edge_lists)
def test_wedge_count_matches_bruteforce(spark, pairs):
    df = edges_df(spark, pairs)
    got = triangle_count(df, strategy="wedge").collect()[0][0]
    assert got == _brute(pairs)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=edge_lists)
def test_degree_sum_and_orientation_invariants(spark, pairs):
    df = edges_df(spark, pairs)
    sym = G.symmetrize(df).persist()
    m_sym = sym.count()
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    assert m_sym == 2 * len(und)  # Σ degree = 2·|undirected edges|
    if m_sym:
        oriented, _, n = G.prepare_oriented(df)
        assert oriented.count() == m_sym // 2  # orientation halves (tc.cu:729)
        verts = {x for p in und for x in p}
        assert n == len(verts)


def test_zipf_skew_hub_lane(spark):
    # power-law graph: hub lane + splitting must engage and stay exact
    rng = random.Random(42)
    n = 400
    pairs = []
    for _ in range(6000):
        # Zipf-ish: quadratic skew toward low ids
        a = int((rng.random() ** 2) * n)
        b = rng.randrange(n)
        pairs.append((a, b))
    expected = _brute(pairs)
    df = edges_df(spark, pairs)
    # split_budget small enough that top oriented out-degrees exceed it
    # (orientation bounds out-degree to ~sqrt(2m), so the budget must be tiny)
    got = triangle_count(df, strategy="wedge", split_budget=128).collect()[0][0]
    assert got == expected
    got_join = triangle_count(df, strategy="join").collect()[0][0]
    assert got_join == expected


def test_zipf_hub_lane_actually_engages(spark):
    # guard: the previous test must actually route vertices through the
    # hub lane — verify a hub exists at that budget
    rng = random.Random(42)
    n = 400
    pairs = []
    for _ in range(6000):
        a = int((rng.random() ** 2) * n)
        b = rng.randrange(n)
        pairs.append((a, b))
    oriented, _, _ = G.prepare_oriented(edges_df(spark, pairs))
    hub_min_deg = int((2 * 128) ** 0.5) + 2  # mirrors _wedge_count
    max_odeg = (
        oriented.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_odeg >= hub_min_deg


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=edge_lists)
def test_truss_invariants(spark, pairs):
    """Invariants tying the r4 motif layer to the triangle kernel:
    Σ support = 3·T (each triangle has 3 edges), triangle listing
    cardinality = T, and the 3-truss contains every edge with
    support > 0 post-peel-stability checks."""
    from wedge_parallel_triangle_counting_spark.operators.truss import (
        edge_support,
        enumerate_triangles,
        canonical_edges,
    )
    from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
        loop_partitions,
    )

    t_brute = _brute(pairs)
    sup = edge_support(edges_df(spark, pairs)).collect()
    assert sum(r.support for r in sup) == 3 * t_brute
    und = canonical_edges(edges_df(spark, pairs), loop_partitions(spark))
    assert enumerate_triangles(und).count() == t_brute


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=edge_lists)
def test_butterfly_wedge_identity(spark, pairs):
    """Σ_{u<v} codeg(u,v) over endpoint pairs equals the total wedge
    count Σ_c C(deg(c), 2) — the two ways of counting wedges — and the
    co-neighbor pairs and 4-cycles of butterfly_count and
    quadrilateral_count match brute-force codegrees."""
    from wedge_parallel_triangle_counting_spark.operators.motifs import (
        butterfly_count,
        quadrilateral_count,
    )

    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    r = butterfly_count(edges_df(spark, pairs)).collect()[0]
    assert r.wedge_pairs == wedges
    # brute codegrees: quadrilateral_count is the same computation
    # under its own column names
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    vs = sorted(adj)
    codeg = [len(adj[u] & adj[v]) for i, u in enumerate(vs) for v in vs[i + 1 :]]
    coneighbor_pairs = sum(1 for w in codeg if w)
    quads = sum(w * (w - 1) // 2 for w in codeg) // 2
    assert (r.coneighbor_pairs, r.four_cycles) == (coneighbor_pairs, quads)
    q = quadrilateral_count(edges_df(spark, pairs)).collect()[0]
    assert (q.endpoint_pairs, q.quads) == (coneighbor_pairs, quads)


incidences = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 30)), min_size=0, max_size=150
)


@pytest.mark.parametrize("salted", [False, True])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=incidences, cap=st.one_of(st.none(), st.integers(1, 12)))
def test_wedge_pairs_matches_bruteforce(spark, monkeypatch, salted, rows, cap):
    """graph.wedge_pairs against a brute force over random bipartite
    (key, item) incidences: n = shared keys of degree in [2, cap],
    wsum = Σ 1/deg over them, each pair a < b once. `salted` forces
    every key with >= 2 items through the salted hub lane."""
    import math

    if salted:
        monkeypatch.setattr(G, "WEDGE_SALT_MIN_DEG", 2)
        monkeypatch.setattr(G, "WEDGE_SALT_SPLITS", 3)
    inc = spark.createDataFrame(sorted(set(rows)), "key long, item long")
    got = G.wedge_pairs(
        inc, max_key_deg=cap, key_weight=lambda d: 1.0 / d.cast("double")
    ).collect()
    items = {}
    for k, i in set(rows):
        items.setdefault(k, set()).add(i)
    want = {}
    for its in items.values():
        if cap is not None and len(its) > cap:
            continue
        for a in its:
            for b in its:
                if a < b:
                    n, w = want.get((a, b), (0, 0.0))
                    want[(a, b)] = (n + 1, w + 1.0 / len(its))
    assert {(r.a, r.b): r.n for r in got} == {p: n for p, (n, _) in want.items()}
    for r in got:
        assert math.isclose(r.wsum, want[(r.a, r.b)][1], rel_tol=1e-12)
