"""Triangle-count correctness: golden graphs, cross-strategy agreement
(the reference's 12 binaries cross-check, SURVEY §5), relabel
invariance, and random-graph differential tests."""

from __future__ import annotations

import logging
import random
import uuid

import pytest

import wedge_parallel_triangle_counting_spark.operators.triangles as T
from wedge_parallel_triangle_counting_spark.operators import checkpointing as CP
from wedge_parallel_triangle_counting_spark.operators.triangles import (
    triangle_count,
    wedge_stats,
)

from .conftest import GOLDEN_TRIANGLES, K4, edges_df

STRATEGIES = ["wedge", "arrow", "vertex", "edge", "join"]


@pytest.mark.parametrize("name", sorted(GOLDEN_TRIANGLES))
@pytest.mark.parametrize("strategy", STRATEGIES)
def test_golden(spark, name, strategy):
    pairs, expected = GOLDEN_TRIANGLES[name]
    got = triangle_count(edges_df(spark, pairs), strategy=strategy).collect()[0][0]
    assert got == expected, (name, strategy)


def _brute_triangles(pairs):
    adj = {}
    und = set()
    for a, b in pairs:
        if a != b:
            und.add((min(a, b), max(a, b)))
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return sum(
        1
        for a, b in und
        for c in adj[a] & adj[b]
        if c > b
    )


def _random_graph(seed, n, m):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


@pytest.mark.parametrize("seed", [1, 7])
def test_random_graph_all_strategies_agree(spark, seed):
    pairs = _random_graph(seed, 60, 400)
    expected = _brute_triangles(pairs)
    df = edges_df(spark, pairs)
    for strategy in STRATEGIES:
        got = triangle_count(df, strategy=strategy).collect()[0][0]
        assert got == expected, strategy


def test_relabel_invariance(spark):
    # count invariant under vertex relabeling (SURVEY §5 property test)
    pairs = _random_graph(3, 40, 200)
    base = triangle_count(edges_df(spark, pairs)).collect()[0][0]
    shifted = [(a * 13 + 1000, b * 13 + 1000) for a, b in pairs]
    assert triangle_count(edges_df(spark, shifted)).collect()[0][0] == base


def test_wedge_small_split_budget(spark):
    # hub splitting correctness: force many chunks per vertex
    pairs = _random_graph(11, 30, 300)
    expected = _brute_triangles(pairs)
    got = triangle_count(
        edges_df(spark, pairs), strategy="wedge", split_budget=4
    ).collect()[0][0]
    assert got == expected


def test_wedge_range_chosen_by_input(spark, monkeypatch):
    # the wedge-balanced range partitioning (tc.cu:348-361 analogue) is
    # picked from the input: a graph whose max degree reaches the hub
    # threshold gets a RangePartitioning flat lane, a hub-free graph
    # keeps the prep's clustering with no extra exchange
    import wedge_parallel_triangle_counting_spark.operators.triangles as T

    seen = []
    close = T._close

    def recording_close(spark_, oriented, *args, **kwargs):
        lanes = args[3] if len(args) > 3 else kwargs["lanes"]
        plan = lambda df: df._jdf.queryExecution().executedPlan().toString()
        seen.append((plan(lanes[0][0]), plan(oriented)))
        return close(spark_, oriented, *args, **kwargs)

    monkeypatch.setattr(T, "_close", recording_close)
    hub = _random_graph(17, 40, 500)
    got = triangle_count(
        edges_df(spark, hub), strategy="wedge", closure="join", split_budget=8
    ).collect()[0][0]
    assert got == _brute_triangles(hub)
    flat_plan, _ = seen[-1]
    assert "rangepartitioning" in flat_plan.lower(), flat_plan

    hub_free = _random_graph(5, 200, 150)
    got = triangle_count(
        edges_df(spark, hub_free), strategy="wedge", closure="join"
    ).collect()[0][0]
    assert got == _brute_triangles(hub_free)
    flat_plan, oriented_plan = seen[-1]
    assert "rangepartitioning" not in flat_plan.lower(), flat_plan
    assert flat_plan.count("Exchange") == oriented_plan.count("Exchange"), flat_plan


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_relabel_chosen_by_input(spark, monkeypatch, strategy):
    # ids past 3·10⁹ overflow int64 edge keys ((max_id+1)² > 2⁶²), so
    # every strategy must take the rank-space relabel prep on its own
    import wedge_parallel_triangle_counting_spark.operators.triangles as T

    calls = []
    relabel = T._relabel

    def recording_relabel(*args):
        calls.append(1)
        return relabel(*args)

    monkeypatch.setattr(T, "_relabel", recording_relabel)
    pairs = _random_graph(19, 50, 400)
    base = 3_000_000_000
    shifted = [(a + base, b + base) for a, b in pairs]
    got = triangle_count(edges_df(spark, shifted), strategy=strategy).collect()[0][0]
    assert got == _brute_triangles(pairs)
    assert calls, strategy


def test_no_cached_blocks_leak(spark):
    # ADVICE round 1: triangle_count must release its persisted
    # intermediates after the terminal action (other tests' module
    # fixtures may hold persists, so assert on the DELTA)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    pairs = _random_graph(23, 30, 200)
    triangle_count(edges_df(spark, pairs)).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_arrow_join_closure(spark):
    pairs = _random_graph(29, 50, 350)
    expected = _brute_triangles(pairs)
    got = triangle_count(
        edges_df(spark, pairs), strategy="arrow", closure="join"
    ).collect()[0][0]
    assert got == expected


def test_wedge_join_closure(spark):
    pairs = _random_graph(13, 50, 350)
    expected = _brute_triangles(pairs)
    got = triangle_count(
        edges_df(spark, pairs), strategy="wedge", closure="join"
    ).collect()[0][0]
    assert got == expected


def test_wedge_stats_k3(spark):
    row = wedge_stats(edges_df(spark, [(0, 1), (1, 2), (0, 2)])).collect()[0]
    assert row.n == 3
    assert row.m_oriented == 3
    # oriented K3: out-degrees 2,1,0 -> wedges 1
    assert row.total_wedges == 1
    assert row.max_degree == 2


def test_sampled_exact_when_k_covers_all_wedges(spark):
    # sampled == W => the estimator degenerates to the exact count
    from wedge_parallel_triangle_counting_spark.operators.approx import (
        triangle_count_sampled,
    )

    pairs = _random_graph(31, 25, 120)
    exact = _brute_triangles(pairs)
    row = triangle_count_sampled(edges_df(spark, pairs), k=100000).collect()[0]
    assert row.sampled == row.total_wedges
    assert row.closed == exact  # every wedge probed, one closure per triangle
    assert row.estimate == exact


def test_sampled_estimate_within_tolerance(spark):
    from wedge_parallel_triangle_counting_spark.operators.approx import (
        triangle_count_sampled,
    )

    pairs = _random_graph(37, 50, 900)  # dense: stable closure rate
    exact = _brute_triangles(pairs)
    row = triangle_count_sampled(edges_df(spark, pairs), k=256).collect()[0]
    assert row.sampled == 256
    # quantile sampling of a dense random graph: generous 50% band
    assert abs(row.estimate - exact) <= max(10, exact * 0.5)


def test_sampled_empty_graph(spark):
    from wedge_parallel_triangle_counting_spark.operators.approx import (
        triangle_count_sampled,
    )

    row = triangle_count_sampled(edges_df(spark, [(1, 2)])).collect()[0]
    assert (row.estimate, row.closed, row.sampled, row.total_wedges) == (0, 0, 0, 0)


def _zipf_hub_graph():
    rng = random.Random(41)
    pairs = [(0, rng.randrange(1, 80)) for _ in range(400)]  # hub 0
    return pairs + _random_graph(43, 80, 300)


def _lanes(caplog) -> list[str]:
    """The lane verdicts triangle_count logged, oldest first."""
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == CP.__name__ and r.getMessage().startswith("triangle_count: ")
    ]


def test_fused_matches_distributed_on_zipf_hubs(spark, local_lane, spark_count, caplog):
    # the collect-first path's Spark count (driver-built oriented CSR
    # split into equal-wedge parts, one task each) must agree with the
    # fully distributed closure, whose hub lane is active on this graph
    caplog.set_level(logging.INFO, logger=CP.__name__)
    pairs = _zipf_hub_graph()
    expected = _brute_triangles(pairs)
    df = edges_df(spark, pairs)
    fused = triangle_count(df, split_budget=16).collect()[0][0]
    assert _lanes(caplog)[-1].startswith("triangle_count: spark lane ")
    dist = triangle_count(df, closure="join", split_budget=16).collect()[0][0]
    assert fused == dist == expected


PARITY_GRAPHS = {
    "zipf_hubs": _zipf_hub_graph(),
    "k4": K4,
    "random": _random_graph(53, 70, 500),
}


@pytest.mark.parametrize("path", ["local", "spark"])
@pytest.mark.parametrize("graph", sorted(PARITY_GRAPHS))
def test_count_paths_match_bruteforce(spark, local_lane, monkeypatch, caplog, graph, path):
    """Both count paths of the collect-first lane — the driver threads
    and the Spark count job — give the brute-force count."""
    caplog.set_level(logging.INFO, logger=CP.__name__)
    if path == "spark":
        monkeypatch.setattr(CP, "LOCAL_LANE_MAX_WEDGES", 0)
    pairs = PARITY_GRAPHS[graph]
    got = triangle_count(edges_df(spark, pairs), split_budget=16).collect()[0][0]
    assert got == _brute_triangles(pairs), (graph, path)
    lanes = _lanes(caplog)
    assert len(lanes) == 1 and f": {path} lane " in lanes[0], lanes


K12_STAR = [(a, b) for a in range(12) for b in range(a + 1, 12)] + [
    (0, 100 + i) for i in range(30)
]


def _oriented_csr_of(pairs):
    """The oriented CSR (flat, starts, degs) the collect-first lane
    builds from an edge list."""
    import numpy as np

    und = np.array(sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b}))
    base = int(und.max()) + 1
    return T._oriented_csr(und[:, 0] * base + und[:, 1], base)


def _check_parts(flat, starts, degs, parts):
    """The self-contained part format: each part's own slice of `flat`
    reproduces exactly its pairs — in part order they are every pair of
    the whole CSR, once each, in row-major order — and the slices hold
    at most m + (P - 1) · max out-degree values (a part boundary cuts at
    most one row)."""
    import numpy as np

    from wedge_parallel_triangle_counting_spark.functions import wedge as wk

    whole = wk.enumerate_pairs(flat, starts, degs, np.zeros_like(degs), degs - 1)
    got = [wk.enumerate_pairs(*part) for part in parts]
    for i in (0, 1):
        assert np.array_equal(np.concatenate([g[i] for g in got]), whole[i])
    sliced = sum(len(part[0]) for part in parts)
    assert sliced <= len(flat) + (len(parts) - 1) * int(degs.max())


def test_local_count_splits_heavy_rows(spark, local_lane, monkeypatch):
    """A row with more pairs than a block is cut into i-range chunks:
    K12 plus a star on vertex 0 (its oriented rows hold up to 11
    vertices, 55 pairs) with a 10-pair block still counts exactly,
    through rows cut into chunks, on the driver threads and in the
    Spark count. On the driver the parts' slices are views of the one
    oriented CSR."""
    import numpy as np

    from wedge_parallel_triangle_counting_spark.functions import wedge as wk

    monkeypatch.setattr(wk, "DEFAULT_BLOCK_PAIRS", 10)
    seen = []
    split = T._wedge_parts

    def recording_parts(*args):
        seen.append((args, split(*args)))
        return seen[-1][1]

    monkeypatch.setattr(T, "_wedge_parts", recording_parts)
    df = edges_df(spark, K12_STAR)
    assert triangle_count(df).collect()[0][0] == _brute_triangles(K12_STAR) == 220
    (flat, starts, degs, _n, _block), parts = seen[-1]
    _check_parts(flat, starts, degs, parts)
    assert int(degs.max()) ** 2 <= 2 * len(flat)
    assert all(np.shares_memory(part[0], flat) for part in parts)
    assert sum(len(part[2]) for part in parts) > int((degs >= 2).sum())  # rows were cut
    monkeypatch.setattr(CP, "LOCAL_LANE_MAX_WEDGES", 0)
    assert triangle_count(df).collect()[0][0] == 220


def test_wedge_parts_cover_every_pair_once():
    """`_wedge_parts` keeps every pair of every row exactly once,
    balances the parts by pair count and bounds every chunk that is
    wider than one first index by the share — on zipf-distributed row
    lengths, and on the oriented CSRs of the zipf-hub and K12+star
    graphs, whose rows degree orientation keeps within sqrt(2m)."""
    import numpy as np

    from wedge_parallel_triangle_counting_spark.functions import wedge as wk

    rng = np.random.default_rng(5)
    degs = rng.zipf(1.6, size=300).clip(max=400).astype(np.int64)
    csrs = [(np.arange(int(degs.sum())), np.cumsum(degs) - degs, degs)]
    for pairs in (_zipf_hub_graph(), K12_STAR):
        flat, starts, degs = _oriented_csr_of(pairs)
        assert int(degs.max()) ** 2 <= 2 * len(flat)
        csrs.append((flat, starts, degs))
    for flat, starts, degs in csrs:
        total = int((degs * (degs - 1) // 2).sum())
        for parts_n, block in ((1, 10**9), (4, 10**9), (4, 50), (7, 3), (32, 10**9)):
            parts = T._wedge_parts(flat, starts, degs, parts_n, block)
            assert 1 <= len(parts) <= parts_n
            _check_parts(flat, starts, degs, parts)
            share = max(1, min(block, -(-total // parts_n)))
            pairs = []
            for _, st, d, lo, hi in parts:
                n = wk.pair_count(d, lo, hi)
                wide = hi - lo > 1
                assert (n[wide] <= share).all()
                pairs.append(int(n.sum()))
                assert ((0 <= lo) & (lo < hi) & (hi <= d - 1)).all()
            assert sum(pairs) == total


def _python_worker_metrics(spark, run) -> tuple[int, int, list[str]]:
    """Run `run()` and return (the Spark jobs it ran, the shuffle bytes
    their stages wrote, the plan nodes of its SQL executions that send
    data to Python workers)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def newest():
        n = store.executionsCount()
        return store.executionsList(max(0, n - 20), 20)

    seen = newest()
    last = max((seen.apply(i).executionId() for i in range(seen.size())), default=-1)
    group = uuid.uuid4().hex  # a group of its own: job ids are never reset
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = sc._jsc.sc().statusStore()
    shuffle = sum(
        stages.lastStageAttempt(sid).shuffleWriteBytes()
        for j in job_ids
        for sid in tracker.getJobInfo(j).stageIds
    )
    execs = newest()
    py_nodes = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.executionId() <= last:
            continue
        metrics = ex.metrics()
        for j in range(metrics.size()):
            if metrics.apply(j).name() == "data sent to Python workers":
                py_nodes.append(ex.description())
    return len(job_ids), shuffle, py_nodes


def test_local_lane_runs_one_job_and_no_python_worker(spark, local_lane):
    """The driver count's only Spark job is the Arrow collect: no
    shuffle, no count job and no Python worker."""
    df = edges_df(spark, _random_graph(59, 60, 400))
    out = []
    got = _python_worker_metrics(
        spark, lambda: out.append(triangle_count(df).collect()[0][0])
    )
    assert got == (1, 0, [])
    assert out == [_brute_triangles(_random_graph(59, 60, 400))]


def test_spark_count_path_uses_python_workers(spark, local_lane, spark_count):
    """The lane's Spark count reuses the driver's parts: two jobs (the
    collect and the count, one task per part) and no shuffle. The
    probe of the job-count tests can see Python workers: the vertex
    strategy plans one (its count UDF)."""
    df = edges_df(spark, _random_graph(59, 60, 400))
    out = []
    jobs, shuffle, _ = _python_worker_metrics(
        spark, lambda: out.append(triangle_count(df).collect()[0][0])
    )
    assert (jobs, shuffle) == (2, 0)
    assert out == [_brute_triangles(_random_graph(59, 60, 400))]
    _, shuffle, py_nodes = _python_worker_metrics(
        spark, lambda: triangle_count(df, strategy="vertex").collect()
    )
    assert shuffle > 0 and py_nodes


@pytest.mark.parametrize("closure", ["auto", "broadcast"])
@pytest.mark.parametrize("strategy", ["wedge", "vertex", "arrow"])
def test_negative_ids_do_not_collide_in_edge_keys(spark, strategy, closure):
    """With key_base = max_id + 1 = 4, the keys of (-4, 3) and (-3, -1)
    were both -13, so this triangle-free graph counted 3 triangles on
    the vertex strategy and on the wedge strategy without a hub bitmap.
    Negative ids now take the rank-space relabel."""
    pairs = [(0, -4), (0, 3), (-4, 1), (-4, 2), (3, 1), (3, 2), (-3, -1)]
    df = edges_df(spark, pairs)
    got = triangle_count(df, strategy=strategy, closure=closure).collect()[0][0]
    assert got == 0, (strategy, closure)
    # a real triangle among negative ids still counts
    tri = edges_df(spark, pairs + [(-3, -4), (-1, -4)])
    assert triangle_count(tri, strategy=strategy, closure=closure).collect()[0][0] == 1


def test_bench_exec_phase_private_calls(spark):
    """bench.py's amplified exec phase builds the probe through
    `_build_probe` with a fourth positional argument (the size of the
    retired hub bitmap) and counts through `_flat_count_udf`: that exact
    sequence still gives the count."""
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators import graph as G

    pairs = _random_graph(61, 60, 400)
    oriented, _deg, _n, max_id, _stats = G.prepare_oriented_fast(edges_df(spark, pairs))
    flat = oriented.sortWithinPartitions("src", "dst").persist()
    probe = T._build_probe(spark, flat, max_id + 1, 8192)
    got = (
        flat.mapInPandas(T._flat_count_udf(probe), schema=T.COUNT_SCHEMA)
        .agg(F.coalesce(F.sum("tri"), F.lit(0)).alias("triangles"))
        .collect()[0][0]
    )
    flat.unpersist()
    assert got == _brute_triangles(pairs)


def test_fused_id_overflow_falls_back_to_relabel(spark):
    # vertex ids too large for int64 edge keys: the fused path must
    # decline and the relabel pipeline must still produce the count
    base = 3_000_000_000  # (max_id+1)^2 > 2^62
    pairs = [(base, base + 1), (base + 1, base + 2), (base, base + 2), (base + 2, base + 3)]
    got = triangle_count(edges_df(spark, pairs)).collect()[0][0]
    assert got == 1


def test_phase_metrics_enumerate_probe_split(spark):
    # VERDICT r2 item 8: the get/evaluate wedge split (tc_cycles'
    # accounting) must be surfaced for the wedge AND arrow strategies
    pairs = _random_graph(47, 50, 400)
    df = edges_df(spark, pairs)
    for strategy in ("wedge", "arrow", "vertex"):
        phases: dict = {}
        triangle_count(df, strategy=strategy, phase_metrics=phases)
        assert {"prep_sec", "build_sec", "exec_sec"} <= set(phases), (strategy, phases)
        assert "enumerate_cpu_sec" in phases and "probe_cpu_sec" in phases, (
            strategy,
            phases,
        )
        # >= 0, not > 0: on fast hardware a 50-vertex probe is sub-µs
        # and legitimately measures 0 (ADVICE r3 flake fix)
        assert phases["enumerate_cpu_sec"] >= 0 and phases["probe_cpu_sec"] >= 0


def test_hub_routing_never_collects_id_lists():
    # VERDICT r1 item 2: hub-lane routing must be a join, never a
    # driver-side id list — no collect_list / isin-literal routing in
    # the triangles module source
    import inspect

    import wedge_parallel_triangle_counting_spark.operators.triangles as T

    src = inspect.getsource(T)
    assert "F.collect_list" not in src  # docstring mentions are fine
    assert ".isin(" not in src


def test_wedge_stats_gate_row_overflow_falls_back(spark, monkeypatch, caplog):
    """r6 fused gate: an optimistic statistics-gated entry whose ACTUAL
    canonical edge count exceeds the broadcast budget must abort to the
    distributed lane (fast prep + semi-join closure) and still count
    exactly. BROADCAST_MAX_EDGES is shrunk below K4's 6 canonical edges
    and the size estimate spoofed to 1 byte, so the tiny fixture enters
    on the estimate and takes the overflow path."""
    caplog.set_level(logging.INFO, logger=CP.__name__)
    monkeypatch.setattr(T, "BROADCAST_MAX_EDGES", 4)
    monkeypatch.setattr(CP, "plan_size_bytes", lambda df: 1)
    out = T.triangle_count(edges_df(spark, K4), strategy="wedge").collect()[0][0]
    assert out == 4
    assert _lanes(caplog) == [
        "triangle_count: distributed lane (estimate=1, rows=6, cap 4 rows)"
    ]
