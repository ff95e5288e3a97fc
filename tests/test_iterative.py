"""PageRank / connected components / label propagation: numpy oracle,
golden graphs, checkpoint/resume, cross-strategy agreement."""

from __future__ import annotations

import json
import logging
import os
import random

import numpy as np
import pytest

from wedge_parallel_triangle_counting_spark.operators import checkpointing as CP
from wedge_parallel_triangle_counting_spark.operators.components import (
    connected_components,
)
from wedge_parallel_triangle_counting_spark.operators.labelprop import (
    label_propagation,
)
from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank

from .conftest import BARBELL, K3, TWO_COMP, edges_df


def numpy_pagerank(pairs, num_iters, damping=0.85):
    e = sorted(set(pairs))
    vs = sorted({a for a, _ in e} | {b for _, b in e})
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    outdeg = np.zeros(n)
    for a, _ in e:
        outdeg[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(num_iters):
        dangling = r[outdeg == 0].sum()
        contrib = np.zeros(n)
        for a, b in e:
            contrib[idx[b]] += r[idx[a]] / outdeg[idx[a]]
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {v: r[idx[v]] for v in vs}


def _random_directed(seed, n, m):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


@pytest.mark.parametrize("seed", [2, 9])
def test_pagerank_matches_numpy(spark, seed):
    pairs = _random_directed(seed, 40, 200)
    want = numpy_pagerank(pairs, 8)
    got = {r.v: r.pr for r in pagerank(edges_df(spark, pairs), num_iters=8).collect()}
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_dangling_mass(spark):
    # 0 -> 1, 1 has no out-edges: dangling redistribution must kick in
    got = {r.v: r.pr for r in pagerank(edges_df(spark, [(0, 1)]), num_iters=20).collect()}
    want = numpy_pagerank([(0, 1)], 20)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12


def test_pagerank_tol_early_stop(spark):
    both = K3 + [(b, a) for a, b in K3]  # symmetric directed closure
    df = edges_df(spark, both)
    got = pagerank(df, num_iters=50, tol=1e-12).collect()
    # symmetric K3: uniform 1/3 fixpoint
    for r in got:
        assert abs(r.pr - 1.0 / 3) < 1e-9


def test_pagerank_resume(spark, tmp_path):
    pairs = _random_directed(5, 30, 120)
    df = edges_df(spark, pairs)
    ckpt = str(tmp_path / "pr")
    # crash after 3 iterations (durable snapshots at it 0 and 2)
    pagerank(df, num_iters=3, checkpoint_dir=ckpt, checkpoint_every=2)
    resumed = {
        r.v: r.pr
        for r in pagerank(
            df, num_iters=6, checkpoint_dir=ckpt, checkpoint_every=2, resume=True
        ).collect()
    }
    direct = {r.v: r.pr for r in pagerank(df, num_iters=6).collect()}
    assert set(resumed) == set(direct)
    for v in direct:
        assert abs(resumed[v] - direct[v]) < 1e-12


def test_pagerank_resume_after_kill(spark, tmp_path):
    """Resume after a HARD process death (SIGKILL mid-loop), not a
    clean early stop: a child JVM runs pagerank with per-iteration
    durable checkpoints, the parent kills -9 it as soon as the
    manifest records iteration >= 1, and this session resumes from the
    on-disk manifest. Final ranks must match an uninterrupted run
    (bench-scale twin: tools/bench_resume.py, BENCH/RUNS.md r4-b)."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ckpt = str(tmp_path / "pr_kill")
    iters = 30  # high enough that the child cannot finish before the kill
    child_src = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from wedge_parallel_triangle_counting_spark.session import get_spark\n"
        "from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank\n"
        "from wedge_parallel_triangle_counting_spark.operators import checkpointing\n"
        # the Spark lane: the driver-local one would finish before the kill
        "checkpointing.LOCAL_LANE_MAX_EDGES = 0\n"
        "spark = get_spark(app_name='kill-child', master='local[4]',\n"
        "                  extra_conf={'spark.ui.showConsoleProgress': 'false'})\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "e = spark.read.parquet('/root/testdata/sf0.001/orders.parquet').selectExpr(\n"
        "    'o_custkey % 1000 AS src', 'o_orderkey % 1000 AS dst')\n"
        f"pagerank(e, num_iters={iters}, checkpoint_dir={ckpt!r},\n"
        "         checkpoint_every=1).count()\n"
    )
    child = subprocess.Popen(
        [sys.executable, "-c", child_src],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    manifest = os.path.join(ckpt, "pagerank.manifest.json")
    deadline = time.time() + 300
    killed_at = None
    try:
        while time.time() < deadline:
            if child.poll() is not None:
                raise AssertionError("child finished before the kill")
            try:
                with open(manifest) as f:
                    it = json.load(f).get("iteration", -1)
                if it >= 1:
                    killed_at = it
                    break
            except (FileNotFoundError, json.JSONDecodeError):
                pass
            time.sleep(0.2)
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()
    assert killed_at is not None and killed_at < iters - 1

    e = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").selectExpr(
        "o_custkey % 1000 AS src", "o_orderkey % 1000 AS dst"
    )
    # finish well past the kill point regardless of where the poll
    # caught the manifest (killed_at can drift on a slow host)
    total = killed_at + 5
    resumed = {
        r.v: r.pr
        for r in pagerank(
            e, num_iters=total, checkpoint_dir=ckpt, checkpoint_every=1, resume=True
        ).collect()
    }
    direct = {r.v: r.pr for r in pagerank(e, num_iters=total).collect()}
    assert set(resumed) == set(direct)
    for v in direct:
        assert abs(resumed[v] - direct[v]) < 1e-12


def test_pagerank_personalized_matches_numpy(spark):
    pairs = _random_directed(21, 30, 90)
    srcs = [0, 1, 2]
    d = 0.85
    # brute force, mirroring the operator's semantics exactly
    e = {(a, b) for a, b in pairs}
    verts = sorted({x for p in e for x in p})
    out = {v: 0 for v in verts}
    for a, _ in e:
        out[a] += 1
    s = {v: (1.0 / len(srcs) if v in srcs else 0.0) for v in verts}
    pr = dict(s)
    for _ in range(5):
        dangling = sum(pr[v] for v in verts if out[v] == 0)
        contrib = {v: 0.0 for v in verts}
        for a, b in e:
            contrib[b] += pr[a] / out[a]
        pr = {
            v: (1 - d) * s[v] + d * (contrib[v] + dangling * s[v]) for v in verts
        }
    got = {
        r.v: r.pr
        for r in pagerank(edges_df(spark, pairs), num_iters=5, sources=srcs).collect()
    }
    assert set(got) == set(verts)
    for v in verts:
        assert abs(got[v] - pr[v]) < 1e-12, v
    # probability mass conserved
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_topics_matches_independent_runs(spark):
    """The batched loop's per-topic fixed point must equal T
    independent personalized runs (same graph, same iterations)."""
    from wedge_parallel_triangle_counting_spark.operators.pagerank import (
        pagerank_topics,
    )

    pairs = _random_directed(33, 30, 90)
    topics = {"a": [0, 1, 2], "b": [3, 4], "c's": [5]}  # quote in a name
    got = pagerank_topics(edges_df(spark, pairs), topics, num_iters=5).collect()
    by_topic: dict[str, dict[int, float]] = {}
    for r in got:
        by_topic.setdefault(r.topic, {})[r.v] = r.pr
    assert set(by_topic) == set(topics)
    for t, seeds in topics.items():
        want = {
            r.v: r.pr
            for r in pagerank(
                edges_df(spark, pairs), num_iters=5, sources=seeds
            ).collect()
        }
        assert set(by_topic[t]) == set(want)
        for v, pr in want.items():
            assert abs(by_topic[t][v] - pr) < 1e-12, (t, v)
        # each topic vector is a probability distribution
        assert abs(sum(by_topic[t].values()) - 1.0) < 1e-9


def test_pagerank_topics_work_independent_of_topic_count(spark):
    """The batching claim: T topic vectors ride ONE loop — the number
    of Spark jobs and stages must not grow with T (a per-topic loop
    would multiply both). Compared via the status tracker on job
    groups around a T=1 and a T=4 run of the same graph/iterations."""
    from wedge_parallel_triangle_counting_spark.operators.pagerank import (
        pagerank_topics,
    )

    pairs = _random_directed(7, 40, 120)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(tag, topics):
        sc.setJobGroup(tag, tag)
        try:
            pagerank_topics(edges_df(spark, pairs), topics, num_iters=3).count()
        finally:
            sc.setJobGroup(None, None)
        jobs = tracker.getJobIdsForGroup(tag)
        stages = sum(
            len(tracker.getJobInfo(j).stageIds)
            for j in jobs
            if tracker.getJobInfo(j) is not None
        )
        return len(jobs), stages

    j1, s1 = run("topics_t1", {"a": [0]})
    j4, s4 = run("topics_t4", {"a": [0], "b": [1], "c": [2], "d": [3]})
    assert j1 > 0 and s1 > 0
    assert j4 == j1, (j4, j1)
    # stage count: AQE re-plans at runtime on the (slightly wider at
    # T=4) shuffle payloads, which can split/merge a boundary — allow
    # that jitter, reject anything resembling per-topic growth (a
    # per-topic loop would be ~4x the loop stages)
    assert abs(s4 - s1) <= 3, (s4, s1)


def test_pagerank_topics_guards(spark):
    import pytest as _pytest

    from wedge_parallel_triangle_counting_spark.operators.pagerank import (
        pagerank_topics,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank_topics(empty, {"a": [1]}, num_iters=2).count() == 0
    assert (
        pagerank_topics(edges_df(spark, [(1, 2)]), {}, num_iters=2).count() == 0
    )
    with _pytest.raises(ValueError):
        pagerank_topics(edges_df(spark, [(1, 2)]), {"a": []}, num_iters=2)


def test_components_golden(spark):
    comp = {
        r.v: r.component
        for r in connected_components(edges_df(spark, TWO_COMP)).collect()
    }
    assert comp == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}
    comp_b = {
        r.v: r.component
        for r in connected_components(edges_df(spark, BARBELL)).collect()
    }
    assert set(comp_b.values()) == {0}


def test_components_round_cap_warns(spark):
    """A hashmin run that stops at max_iters while labels still change
    says so; a converged run stays silent."""
    import warnings

    path = edges_df(spark, [(i, i + 1) for i in range(11)])  # 12 vertices
    with pytest.warns(RuntimeWarning, match=r"max_iters=3 with \d+ labels"):
        capped = connected_components(path, max_iters=3).collect()
    assert len(capped) == 12
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        comp = {r.v: r.component for r in connected_components(path).collect()}
    assert set(comp.values()) == {0}
    assert not [w for w in seen if "round cap" in str(w.message)]


@pytest.mark.parametrize("seed", [4, 17])
def test_components_strategies_agree(spark, seed):
    pairs = _random_directed(seed, 80, 90)  # sparse -> several components
    df = edges_df(spark, pairs)
    a = {r.v: r.component for r in connected_components(df, strategy="hashmin").collect()}
    b = {r.v: r.component for r in connected_components(df, strategy="star").collect()}
    assert a == b
    # oracle: min id per component via union-find
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        if s != d:
            parent[find(s)] = find(d)
    comp_min = {}
    verts = {x for p in pairs if p[0] != p[1] for x in p}
    for v in verts:
        root = find(v)
        comp_min[root] = min(comp_min.get(root, v), v)
    want = {v: comp_min[find(v)] for v in verts}
    assert a == want


def test_star_round_impls_agree(spark):
    """Star rounds (window neighborhood min) and hashmin produce
    identical labels."""
    pairs = _random_directed(11, 70, 85)
    df = edges_df(spark, pairs)
    got = {r.v: r.component for r in connected_components(df, strategy="star").collect()}
    want = {
        r.v: r.component
        for r in connected_components(df, strategy="hashmin").collect()
    }
    assert got == want


def test_components_resume(spark, tmp_path):
    pairs = _random_directed(8, 60, 70)
    df = edges_df(spark, pairs)
    ckpt = str(tmp_path / "cc")
    connected_components(df, max_iters=2, checkpoint_dir=ckpt, checkpoint_every=1)
    resumed = {
        r.v: r.component
        for r in connected_components(
            df, checkpoint_dir=ckpt, checkpoint_every=1, resume=True
        ).collect()
    }
    direct = {r.v: r.component for r in connected_components(df).collect()}
    assert resumed == direct


def test_resume_refuses_changed_input(spark, tmp_path):
    # ADVICE r1: the manifest stores an input fingerprint; resuming
    # against a DIFFERENT graph must fail loudly, not silently continue
    pairs = _random_directed(9, 40, 60)
    df = edges_df(spark, pairs)
    ckpt = str(tmp_path / "cc_fp")
    connected_components(df, max_iters=2, checkpoint_dir=ckpt, checkpoint_every=1)
    other = edges_df(spark, pairs + [(1000, 1001)])
    with pytest.raises(ValueError, match="fingerprint"):
        connected_components(
            other, checkpoint_dir=ckpt, checkpoint_every=1, resume=True
        )


def test_labelprop_k3_converges_to_min(spark):
    got = {r.v: r.label for r in label_propagation(edges_df(spark, K3), 3).collect()}
    assert got == {0: 0, 1: 0, 2: 0}


def test_labelprop_two_components_independent(spark):
    got = {
        r.v: r.label for r in label_propagation(edges_df(spark, TWO_COMP), 4).collect()
    }
    assert set(got[v] for v in (0, 1, 2)) == {0}
    assert set(got[v] for v in (10, 11, 12)) == {10}


def test_labelprop_deterministic_across_runs(spark):
    pairs = _random_directed(21, 50, 200)
    df = edges_df(spark, pairs)
    a = {r.v: r.label for r in label_propagation(df, 3).collect()}
    b = {r.v: r.label for r in label_propagation(df, 3).collect()}
    assert a == b


def test_components_auto_choice_and_metrics(spark):
    # auto picks hashmin under the edge threshold, records the choice,
    # and produces the same labels as both explicit strategies
    pairs = _random_directed(13, 40, 80)
    df = edges_df(spark, pairs)
    metrics: dict = {}
    auto = {
        r.v: r.component
        for r in connected_components(df, metrics=metrics).collect()
    }
    assert metrics["strategy"] == "hashmin"  # tiny graph
    assert metrics["canonical_edges"] > 0
    explicit = {
        r.v: r.component
        for r in connected_components(df, strategy="star").collect()
    }
    assert auto == explicit


def test_pagerank_resume_refuses_different_sources(spark, tmp_path):
    # ADVICE r2: the fingerprint must pin the edge set and source set —
    # a personalized run must not resume a plain run's checkpoint
    pairs = _random_directed(11, 30, 50)
    df = edges_df(spark, pairs)
    ckpt = str(tmp_path / "pr_fp")
    pagerank(df, num_iters=2, checkpoint_dir=ckpt, checkpoint_every=1)
    with pytest.raises(ValueError, match="fingerprint"):
        pagerank(
            df,
            num_iters=4,
            checkpoint_dir=ckpt,
            checkpoint_every=1,
            resume=True,
            sources=[pairs[0][0]],
        )
    other = edges_df(spark, pairs + [(77, 78)])
    with pytest.raises(ValueError, match="fingerprint"):
        pagerank(other, num_iters=4, checkpoint_dir=ckpt, resume=True)


def test_pagerank_weighted_matches_numpy(spark):
    # weighted: link share = w / sum outgoing w; duplicate rows sum
    rng = random.Random(33)
    rows = [
        (rng.randrange(25), rng.randrange(25), float(rng.randrange(1, 5)))
        for _ in range(120)
    ]
    agg: dict = {}
    for a, b, w in rows:
        agg[(a, b)] = agg.get((a, b), 0.0) + w
    verts = sorted({x for p in agg for x in p})
    out = {v: 0.0 for v in verts}
    for (a, _), w in agg.items():
        out[a] += w
    d, n = 0.85, len(verts)
    pr = {v: 1.0 / n for v in verts}
    for _ in range(6):
        dangling = sum(pr[v] for v in verts if out[v] == 0.0)
        contrib = {v: 0.0 for v in verts}
        for (a, b), w in agg.items():
            contrib[b] += pr[a] * w / out[a]
        pr = {v: (1 - d) / n + d * (contrib[v] + dangling / n) for v in verts}
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {
        r.v: r.pr for r in pagerank(df, num_iters=6, weight_col="w").collect()
    }
    assert set(got) == set(pr)
    for v in pr:
        assert abs(got[v] - pr[v]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_weighted_uniform_weights_match_unweighted(spark):
    # equivalence holds on a duplicate-free edge set (weighted mode SUMS
    # duplicate rows, unweighted dedups them)
    pairs = sorted(set(_random_directed(29, 30, 100)))
    df = edges_df(spark, pairs)
    dfw = df.withColumn("w", df.src * 0 + 2.5)  # constant weight
    a = {r.v: r.pr for r in pagerank(df, num_iters=5).collect()}
    b = {r.v: r.pr for r in pagerank(dfw, num_iters=5, weight_col="w").collect()}
    for v in a:
        assert abs(a[v] - b[v]) < 1e-9


@pytest.mark.usefixtures("local_lane")
class TestPagerankLocalLane:
    """The pagerank tests above, on the driver-local lane (the tests'
    inputs, built from Python rows, take the Spark lane)."""

    test_pagerank_matches_numpy = staticmethod(test_pagerank_matches_numpy)
    test_pagerank_dangling_mass = staticmethod(test_pagerank_dangling_mass)
    test_pagerank_tol_early_stop = staticmethod(test_pagerank_tol_early_stop)
    test_pagerank_resume = staticmethod(test_pagerank_resume)
    test_pagerank_personalized_matches_numpy = staticmethod(
        test_pagerank_personalized_matches_numpy
    )
    test_pagerank_resume_refuses_different_sources = staticmethod(
        test_pagerank_resume_refuses_different_sources
    )
    test_pagerank_weighted_matches_numpy = staticmethod(
        test_pagerank_weighted_matches_numpy
    )
    test_pagerank_weighted_uniform_weights_match_unweighted = staticmethod(
        test_pagerank_weighted_uniform_weights_match_unweighted
    )


def _lanes(caplog) -> list[str]:
    """The lane verdicts pagerank logged, oldest first."""
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == CP.__name__ and r.getMessage().startswith("pagerank: ")
    ]


def _pin_lane(m, lane: str) -> None:
    """Pin pagerank's lane on the monkeypatch `m`: "local" gives every
    input a zero size estimate, "spark" a zero row cap."""
    if lane == "local":
        m.setattr(CP, "plan_size_bytes", lambda df: 0)
    else:
        m.setattr(CP, "LOCAL_LANE_MAX_EDGES", 0)


def test_pagerank_lanes_agree(spark, monkeypatch, caplog):
    """Every pagerank mode gives the same ranks on both lanes, to the
    last few ulps (the lanes sum in different orders). The sources list
    repeats an id and names one absent from the graph: both count
    towards 1/len(sources)."""
    caplog.set_level(logging.INFO, logger=CP.__name__)
    pairs = _random_directed(41, 50, 260)
    df = edges_df(spark, pairs)
    rng = random.Random(41)
    dfw = spark.createDataFrame(
        [(a, b, float(rng.randrange(1, 6))) for a, b in pairs],
        "src long, dst long, w double",
    )
    warm = spark.createDataFrame(
        [(v, 0.05) for v in range(0, 50, 3)] + [(99, 0.5), (4, None)],
        "v long, pr double",
    )
    modes = [
        (df, {}),
        (df, {"sources": [0, 1, 1, 77]}),
        (dfw, {"weight_col": "w"}),
        (df, {"init_ranks": warm}),
        (df, {"tol": 1e-6, "num_iters": 60}),
    ]
    for edges, kw in modes:
        kw = {"num_iters": 7, **kw}
        runs = []
        for lane in ("local", "spark"):
            with monkeypatch.context() as m:
                _pin_lane(m, lane)
                frames: list = []
                got = pagerank(edges, residuals_out=frames, **kw).collect()
                residuals = [f.collect()[0] for f in frames]
            runs.append(({r.v: r.pr for r in got}, residuals))
        (local, res_l), (dist, res_s) = runs
        assert local.keys() == dist.keys(), kw
        assert max(abs(local[v] - dist[v]) for v in local) < 1e-12, kw
        assert res_l == res_s, kw
    assert [m.split(" (")[0] for m in _lanes(caplog)] == [
        "pagerank: local lane",
        "pagerank: spark lane",
    ] * len(modes)


@pytest.mark.parametrize("first", ["local", "spark"])
def test_pagerank_resume_across_lanes(spark, tmp_path, monkeypatch, first):
    """A snapshot one lane wrote resumes in the other: same path, same
    manifest and fingerprint; the manifest records the lane."""
    pairs = _random_directed(8, 30, 120)
    df = edges_df(spark, pairs)
    ckpt = str(tmp_path / "pr")
    direct = {r.v: r.pr for r in pagerank(df, num_iters=6).collect()}
    second = "spark" if first == "local" else "local"
    with monkeypatch.context() as m:
        _pin_lane(m, first)
        pagerank(df, num_iters=3, checkpoint_dir=ckpt, checkpoint_every=2)
    with open(os.path.join(ckpt, "pagerank.manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["iteration"] == 2 and manifest["lane"]["lane"] == first
    with monkeypatch.context() as m:
        _pin_lane(m, second)
        resumed = {
            r.v: r.pr
            for r in pagerank(
                df, num_iters=6, checkpoint_dir=ckpt, checkpoint_every=2, resume=True
            ).collect()
        }
    with open(os.path.join(ckpt, "pagerank.manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["iteration"] == 4 and manifest["lane"]["lane"] == second
    lanes = [h["extra"]["lane"]["lane"] for h in manifest["history"]]
    assert lanes == [first] * 3 + [second] * 2
    assert resumed.keys() == direct.keys()
    assert max(abs(resumed[v] - direct[v]) for v in direct) < 1e-12


def test_pagerank_spoofed_estimate_aborts_to_spark_lane(spark, monkeypatch, caplog):
    """A size estimate far under the real input enters the local lane
    without a count; the collected rows are over the cap, so the run
    aborts to the Spark lane and still gives the right ranks."""
    caplog.set_level(logging.INFO, logger=CP.__name__)
    pairs = _random_directed(2, 40, 200)
    monkeypatch.setattr(CP, "plan_size_bytes", lambda df: 1)
    monkeypatch.setattr(CP, "LOCAL_LANE_MAX_EDGES", 50)
    got = {r.v: r.pr for r in pagerank(edges_df(spark, pairs), num_iters=8).collect()}
    assert _lanes(caplog) == ["pagerank: spark lane (collected=200, cap 50 rows)"]
    want = numpy_pagerank(pairs, 8)
    assert got.keys() == want.keys()
    assert max(abs(got[v] - want[v]) for v in want) < 1e-12


def test_pagerank_null_endpoint_takes_spark_lane(spark, monkeypatch, caplog):
    """numpy cannot carry a null id, so an input holding one runs on the
    Spark lane, whose answer it is — even when its estimate fits."""
    caplog.set_level(logging.INFO, logger=CP.__name__)
    monkeypatch.setattr(CP, "plan_size_bytes", lambda df: 0)
    rows = [(0, 1), (1, 2), (2, 0), (2, None)]
    df = spark.createDataFrame(rows, "src long, dst long")
    got = pagerank(df, num_iters=4).collect()
    cap = CP.LOCAL_LANE_MAX_EDGES
    assert _lanes(caplog) == [f"pagerank: spark lane (nulls, cap {cap} rows)"]
    assert len(got) == 4  # the null endpoint is a vertex of the Spark lane


def test_size_gate_jobs(spark, monkeypatch):
    """`size_gate` runs a job only in its gray zone, and only when the
    caller asks for the count. A frame built from Python rows has no
    size estimate (Catalyst reports Long.MaxValue): it reads as huge,
    with no job — the triangle fused gate and `loop_layout` skip it
    without looking, and pagerank takes the Spark lane."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rows = edges_df(spark, _random_directed(3, 30, 100))

    def gate(tag, df, cap, **kw):
        sc.setJobGroup(tag, tag)
        try:
            got = CP.size_gate(df, cap, **kw)
        finally:
            sc.setJobGroup(None, None)
        return got, len(tracker.getJobIdsForGroup(tag))

    huge, jobs = gate("gate_rows", rows, 10**6)
    assert (huge.fits, huge.basis, jobs) == (False, "estimate", 0)
    assert huge.value >= 64 * 10**6
    assert CP.loop_layout(rows) == ("dst", False)
    monkeypatch.setattr(CP, "plan_size_bytes", lambda df: 1000)
    counted, jobs = gate("gate_count", rows, 100)
    assert counted == CP.SizeGate(True, "count", 100) and jobs >= 1
    assert gate("gate_est", rows, 100, count=False) == (
        CP.SizeGate(False, "estimate", 1000),
        0,
    )
    assert gate("gate_small", rows, 1000, count=False) == (
        CP.SizeGate(True, "estimate", 1000),
        0,
    )


def test_pagerank_gray_zone_takes_spark_lane_without_a_job(spark, monkeypatch, caplog):
    """An edge table whose estimate is over the lane's bound (here 4
    B/row of the cap, over the 3 B/row floor and inside the 64x gray
    zone where the triangle gate would count) takes the Spark lane on
    the estimate: pagerank never counts its input to choose, so the
    verdict's basis is the estimate."""
    caplog.set_level(logging.INFO, logger=CP.__name__)
    pairs = _random_directed(4, 30, 120)
    monkeypatch.setattr(CP, "plan_size_bytes", lambda df: 2000)
    monkeypatch.setattr(CP, "LOCAL_LANE_MAX_EDGES", 500)
    got = {r.v: r.pr for r in pagerank(edges_df(spark, pairs), num_iters=5).collect()}
    assert _lanes(caplog) == ["pagerank: spark lane (estimate=2000, cap 500 rows)"]
    want = numpy_pagerank(pairs, 5)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-12


def test_pagerank_entry_trusts_the_bytes_per_row_floor(spark, monkeypatch, caplog):
    """The lane admits an estimate up to 3 B/row of its cap (parquet
    int pairs measure >= 3.7 B/row): an estimate of 2.5 B/row enters
    without a job and, its rows under the cap, runs on the driver."""
    caplog.set_level(logging.INFO, logger=CP.__name__)
    pairs = _random_directed(6, 30, 120)
    monkeypatch.setattr(CP, "LOCAL_LANE_MAX_EDGES", 200)
    monkeypatch.setattr(CP, "plan_size_bytes", lambda df: 500)
    got = {r.v: r.pr for r in pagerank(edges_df(spark, pairs), num_iters=5).collect()}
    assert _lanes(caplog) == ["pagerank: local lane (estimate=500, cap 200 rows)"]
    want = numpy_pagerank(pairs, 5)
    assert got.keys() == want.keys()
    assert max(abs(got[v] - want[v]) for v in want) < 1e-12


def test_pagerank_entry_at_the_floor_aborts_over_the_cap(spark, monkeypatch, caplog):
    """An estimate at exactly 3 B/row of the cap enters, but a denser
    encoding hides more rows than the cap: the collected-row re-check
    aborts to the Spark lane, which gives the right ranks."""
    caplog.set_level(logging.INFO, logger=CP.__name__)
    pairs = _random_directed(7, 30, 120)
    monkeypatch.setattr(CP, "LOCAL_LANE_MAX_EDGES", 100)
    monkeypatch.setattr(CP, "plan_size_bytes", lambda df: 300)
    got = {r.v: r.pr for r in pagerank(edges_df(spark, pairs), num_iters=5).collect()}
    assert _lanes(caplog) == ["pagerank: spark lane (collected=120, cap 100 rows)"]
    want = numpy_pagerank(pairs, 5)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-12


def numpy_hits(pairs, num_iters):
    import numpy as np

    e = sorted({(a, b) for a, b in pairs if a != b})
    vs = sorted({x for p in e for x in p})
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    h = np.ones(n)
    a = np.ones(n)
    for _ in range(num_iters):
        a = np.zeros(n)
        for s, d in e:
            a[idx[d]] += h[idx[s]]
        nrm = np.sqrt((a * a).sum())
        a = a / nrm if nrm > 0 else a
        h = np.zeros(n)
        for s, d in e:
            h[idx[s]] += a[idx[d]]
        nrm = np.sqrt((h * h).sum())
        h = h / nrm if nrm > 0 else h
    return {v: (h[idx[v]], a[idx[v]]) for v in vs}


def test_hits_matches_numpy(spark):
    from wedge_parallel_triangle_counting_spark.operators.hits import hits

    pairs = _random_directed(13, 40, 160)
    got = {r.v: (r.hub, r.authority) for r in hits(edges_df(spark, pairs), 4).collect()}
    want = numpy_hits(pairs, 4)
    assert set(got) == set(want)
    for v, (hb, au) in want.items():
        assert abs(got[v][0] - hb) < 1e-9 and abs(got[v][1] - au) < 1e-9
    # a pure sink has authority > 0 but hub 0; a pure source the reverse
    star = [(i, 99) for i in range(5)] + [(99, 100)]
    rows = {r.v: r for r in hits(edges_df(spark, star), 3).collect()}
    assert rows[0].hub > 0 and rows[0].authority == 0.0
    assert rows[100].authority > 0 and rows[100].hub == 0.0


def test_hits_resume(spark, tmp_path):
    from wedge_parallel_triangle_counting_spark.operators.hits import hits

    pairs = _random_directed(29, 25, 90)
    df = edges_df(spark, pairs)
    ckpt = str(tmp_path / "hits")
    hits(df, num_iters=2, checkpoint_dir=ckpt, checkpoint_every=1)
    resumed = {
        r.v: (r.hub, r.authority)
        for r in hits(
            df, num_iters=4, checkpoint_dir=ckpt, checkpoint_every=1, resume=True
        ).collect()
    }
    direct = {r.v: (r.hub, r.authority) for r in hits(df, num_iters=4).collect()}
    assert set(resumed) == set(direct)
    for v in direct:
        assert abs(resumed[v][0] - direct[v][0]) < 1e-12
        assert abs(resumed[v][1] - direct[v][1]) < 1e-12


def numpy_eigencentrality(pairs, num_iters):
    import numpy as np

    e = sorted({(a, b) for a, b in pairs if a != b} | {(b, a) for a, b in pairs if a != b})
    vs = sorted({x for p in e for x in p})
    idx = {v: i for i, v in enumerate(vs)}
    x = np.ones(len(vs))
    for _ in range(num_iters):
        nxt = np.zeros(len(vs))
        for s, d in e:
            nxt[idx[d]] += x[idx[s]]
        nrm = np.sqrt((nxt * nxt).sum())
        x = nxt / nrm if nrm > 0 else nxt
    return {v: x[idx[v]] for v in vs}


def test_eigencentrality_matches_numpy(spark):
    from wedge_parallel_triangle_counting_spark.operators.eigencentrality import (
        eigenvector_centrality,
    )

    pairs = _random_directed(17, 40, 160)
    got = {
        r.v: r.score
        for r in eigenvector_centrality(edges_df(spark, pairs), 4).collect()
    }
    want = numpy_eigencentrality(pairs, 4)
    assert set(got) == set(want)
    for v, s in want.items():
        assert abs(got[v] - s) < 1e-9
    # triangle + pendant (non-bipartite, so the iteration converges):
    # the triangle vertex holding the pendant dominates, the pendant trails
    tri = [(0, 1), (1, 2), (0, 2), (2, 3)]
    rows = {r.v: r.score for r in eigenvector_centrality(edges_df(spark, tri), 8).collect()}
    assert rows[2] > rows[0] and rows[3] < rows[0]
    assert abs(rows[0] - rows[1]) < 1e-12  # symmetric pair
    # empty graph (all self loops) -> empty frame, not a crash
    empty = eigenvector_centrality(edges_df(spark, [(3, 3), (4, 4)]), 3)
    assert empty.count() == 0


def test_eigencentrality_resume(spark, tmp_path):
    from wedge_parallel_triangle_counting_spark.operators.eigencentrality import (
        eigenvector_centrality,
    )

    pairs = _random_directed(31, 25, 90)
    df = edges_df(spark, pairs)
    ckpt = str(tmp_path / "eigen")
    eigenvector_centrality(df, num_iters=2, checkpoint_dir=ckpt, checkpoint_every=1)
    resumed = {
        r.v: r.score
        for r in eigenvector_centrality(
            df, num_iters=4, checkpoint_dir=ckpt, checkpoint_every=1, resume=True
        ).collect()
    }
    direct = {r.v: r.score for r in eigenvector_centrality(df, 4).collect()}
    assert set(resumed) == set(direct)
    for v in direct:
        assert abs(resumed[v] - direct[v]) < 1e-12


def _louvain_replay(edge_list, num_rounds):
    """Pure-python replay of community.py::louvain_move_rounds."""
    sym = set()
    for a, b in edge_list:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    verts = sorted({v for e in sym for v in e})
    deg = {v: sum(1 for s, _ in sym if s == v) for v in verts}
    m2 = len(sym)
    comm = {v: v for v in verts}
    for _ in range(num_rounds):
        sigma = {}
        for v in verts:
            sigma[comm[v]] = sigma.get(comm[v], 0) + deg[v]
        nxt = {}
        for v in verts:
            kvc = {}
            for s, d in sym:
                if s == v:
                    kvc[comm[d]] = kvc.get(comm[d], 0) + 1
            best = max(
                (
                    m2 * k
                    - deg[v] * (sigma[c] - (deg[v] if c == comm[v] else 0)),
                    -c,
                )
                for c, k in kvc.items()
            )
            nxt[v] = -best[1] if best[0] > 0 else v
        comm = nxt
    return comm


def test_louvain_move_matches_python_replay(spark):
    import random

    rng = random.Random(5)
    edge_list = [(rng.randrange(40), rng.randrange(40)) for _ in range(160)]
    df = spark.createDataFrame(edge_list, "src long, dst long")

    from wedge_parallel_triangle_counting_spark.operators.community import (
        louvain_move_rounds,
    )

    got = {
        r.v: r.community for r in louvain_move_rounds(df, num_rounds=2).collect()
    }
    assert got == _louvain_replay(edge_list, 2)


def test_louvain_move_improves_modularity_on_cliques(spark):
    from wedge_parallel_triangle_counting_spark.operators.community import (
        louvain_move_rounds,
    )
    from wedge_parallel_triangle_counting_spark.operators.quality import modularity

    edges = []
    for base in (0, 10):  # two 6-cliques + one bridge
        ids = list(range(base, base + 6))
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges.append((0, 10))
    df = spark.createDataFrame(edges, "src long, dst long")
    asg = louvain_move_rounds(df, num_rounds=2)
    q = modularity(df, asg).collect()[0]
    # singleton partition scores q_ppm < 0; grouping the cliques must
    # land clearly positive
    assert q.q_ppm > 100_000, q


def test_contract_communities_conserves_edges(spark):
    import random

    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.community import (
        contract_communities,
        louvain_move_rounds,
    )

    rng = random.Random(9)
    edge_list = [(rng.randrange(30), rng.randrange(30)) for _ in range(90)]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    clean = {
        (min(a, b), max(a, b)) for a, b in edge_list if a != b
    }
    asg = louvain_move_rounds(df, num_rounds=2)
    sup = contract_communities(df, asg)
    rows = sup.collect()
    # every clean undirected edge lands in exactly one supergraph cell
    assert sum(r.weight for r in rows) == len(clean)
    assert all(r.ca <= r.cb for r in rows)
    # contracting with an EMPTY assignment is the identity graph
    ident = contract_communities(
        df, spark.createDataFrame([], "v long, community long")
    )
    assert {(r.ca, r.cb, r.weight) for r in ident.collect()} == {
        (a, b, 1) for a, b in clean
    }


def _ppr_replay(edge_list, seed, rounds, an=15, ad=100, eps_deg_factor=10_000):
    """Pure-python replay of localcluster.py::ppr_push."""
    UNIT = 10**12
    sym = {}
    for a, b in edge_list:
        if a != b:
            sym.setdefault(a, set()).add(b)
            sym.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in sym.items()}
    epsu = max(1, UNIT // (eps_deg_factor * deg[seed]))
    p, r = {}, {seed: UNIT}
    for _ in range(rounds):
        frontier = {v: rv for v, rv in r.items() if rv >= deg[v] * epsu}
        inc = {}
        for v, rv in frontier.items():
            gain = rv * an // ad
            spread = rv - gain
            share = spread // deg[v]
            p[v] = p.get(v, 0) + gain
            r[v] = spread - share * deg[v]
            if share > 0:
                for u in sym[v]:
                    inc[u] = inc.get(u, 0) + share
        for u, x in inc.items():  # synchronous merge AFTER all pushes
            r[u] = r.get(u, 0) + x
    return p, r


def test_ppr_push_matches_python_replay_and_conserves_mass(spark):
    import random

    from wedge_parallel_triangle_counting_spark.operators.localcluster import (
        UNIT,
        ppr_push,
    )

    rng = random.Random(3)
    edge_list = [(rng.randrange(25), rng.randrange(25)) for _ in range(70)]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    rows = ppr_push(df, num_rounds=4).collect()
    # seed = max-degree vertex, min id tie-break
    sym = {}
    for a, b in edge_list:
        if a != b:
            sym.setdefault(a, set()).add(b)
            sym.setdefault(b, set()).add(a)
    seed = min(sym, key=lambda v: (-len(sym[v]), v))
    p, r = _ppr_replay(edge_list, seed, 4)
    got_p = {row.v: row.p for row in rows if row.p}
    got_r = {row.v: row.r for row in rows if row.r}
    assert got_p == {v: x for v, x in p.items() if x}
    assert got_r == {v: x for v, x in r.items() if x}
    assert sum(row.p for row in rows) + sum(row.r for row in rows) == UNIT


def test_sweep_cut_finds_planted_clique_cut(spark):
    from wedge_parallel_triangle_counting_spark.operators.localcluster import (
        ppr_push,
        sweep_cut,
    )

    edges = []
    for base in (0, 20):  # two 8-cliques, one bridge; seed lands in
        ids = list(range(base, base + 8))  # the 0-clique (max-deg tie -> 0)
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges.append((0, 20))
    df = spark.createDataFrame(edges, "src long, dst long")
    sweep = sweep_cut(df, ppr_push(df, num_rounds=6)).collect()
    best = min(sweep, key=lambda r: (r.cond_ppm, r.rank))
    # the planted best cut: the seed's whole clique, one crossing edge
    assert best.cut == 1
    prefix = {r.v for r in sweep if r.rank <= best.rank}
    assert prefix == set(range(8))


def test_louvain_level2_coarsens_and_improves_modularity(spark):
    """Full multilevel pipeline on a 3-clique-cluster graph: level-2
    communities are no finer than level-1 groups projected down, and
    modularity does not degrade."""
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.community import (
        contract_communities,
        louvain_move_rounds,
        louvain_move_rounds_weighted,
    )
    from wedge_parallel_triangle_counting_spark.operators.quality import modularity

    edges = []
    for base in (0, 10, 20):  # three 5-cliques in a ring of bridges
        ids = list(range(base, base + 5))
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges += [(0, 10), (10, 20), (20, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")

    lvl1 = louvain_move_rounds(df, num_rounds=2)
    sup = contract_communities(df, lvl1)
    lvl2 = louvain_move_rounds_weighted(sup, num_rounds=2)
    # project level-2 labels down to original vertices
    flat = (
        lvl1.withColumnRenamed("community", "c1")
        .join(lvl2.withColumnRenamed("v", "c1"), "c1")
        .select("v", "community")
    )
    q1 = modularity(df, lvl1).collect()[0].q_ppm
    q2 = modularity(df, flat).collect()[0].q_ppm
    assert q2 >= q1 > 0
    # supergraph loop weight equals intra-community edges: conservation
    total_w = sup.agg(F.sum("weight")).first()[0]
    assert total_w == len(edges)


@pytest.mark.parametrize("bcast", [True, False])
def test_components_pointer_jumping_contracts_chains(spark, bcast, monkeypatch):
    """r6 hashmin pointer jumping (HASHMIN_JUMP, opt-in for
    high-diameter inputs): an 80-edge chain converges within 12 rounds
    (plain hashmin needs ~80 — the max_iters cap would return a
    partial labeling and the all-zero assertion would fail), in both
    the broadcast-state and shuffled-state regimes, with the exact
    min-id fixpoint."""
    import wedge_parallel_triangle_counting_spark.operators.checkpointing as CP
    import wedge_parallel_triangle_counting_spark.operators.components as C

    monkeypatch.setattr(C, "HASHMIN_JUMP", True)
    if not bcast:
        monkeypatch.setattr(CP, "LOOP_BROADCAST_INPUT_MAX", 0)
        monkeypatch.setattr(C, "LOOP_BROADCAST_INPUT_MAX", 0)
    chain = [(i, i + 1) for i in range(80)]
    got = {
        r.v: r.component
        for r in connected_components(
            edges_df(spark, chain), strategy="hashmin", max_iters=12
        ).collect()
    }
    assert len(got) == 81
    assert set(got.values()) == {0}


def test_localcheckpoint_sanitizer_caps_size_estimate(spark):
    """r6: Dataset.localCheckpoint snapshots the pre-checkpoint plan's
    size estimate into the LogicalRDD leaf, and join estimates are the
    PRODUCT of child sizes — so a loop whose round references the
    carried state k>1 times multiplies the estimate's bit length by k
    every round. Unchecked, the driver ends up doing BigInteger
    multiplication on multi-megabit numbers inside every stats walk
    (measured: a 500-vertex hashmin loop's round wall went 0.5 s ->
    120 s by round 11). `checkpoint()` rebuilds the leaf without
    origin stats whenever the captured estimate exceeds 2^64 bytes;
    this pins (a) the estimate stays <= 64 bits through an 8-round
    triple-self-join chain and (b) the data is untouched. A silent
    revert of the py4j reflection fails (a)."""
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
        checkpoint,
    )

    df = spark.range(100).select(F.col("id").alias("v"), F.col("id").alias("c"))
    state = checkpoint(df, eager=True)
    for _ in range(8):
        a = state.select(F.col("v").alias("av"), F.col("c").alias("ac"))
        b = state.select(F.col("v").alias("bv"), F.col("c").alias("bc"))
        rnd = (
            state.join(a, state.v == F.col("av"))
            .join(b, state.v == F.col("bv"))
            .select("v", "c")
        )
        state = checkpoint(rnd, eager=True)
    plan = state._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    size = plan.stats().sizeInBytes()  # py4j converts sane BigInts to int
    assert isinstance(size, int) and size.bit_length() <= 64, size
    assert state.count() == 100
    assert state.agg(F.sum("c")).first()[0] == 4950


def test_lazy_localcheckpoint_defused_but_persisted(spark):
    """r6: a LAZY `checkpoint()`'s RDD must carry NO checkpointData
    (its doCheckpoint on a broadcast-exchange thread deadlocks the JVM
    against DAGScheduler.getCacheLocs — lock-order inversion on the
    global RDDCheckpointData$ monitor, jstack-confirmed) while keeping
    the persistence that localCheckpoint sets BEFORE marking, so
    caching behavior is unchanged. Eager checkpoints are untouched.
    A silent revert of the py4j reflection fails the first assert."""
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
        checkpoint,
    )

    df = spark.range(500).select(F.col("id").alias("v"))
    lazy = checkpoint(df)
    plan = lazy._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert not plan.rdd().checkpointData().isDefined()
    assert plan.rdd().getStorageLevel().useMemory()
    assert plan.rdd().getStorageLevel().useDisk()
    assert lazy.count() == 500
    eager = checkpoint(df, eager=True)
    assert eager._jdf.queryExecution().analyzed().rdd().checkpointData().isDefined()


def test_checkpoint_eager_every_8th_round_of_each_chain(spark):
    """A katz-shaped loop checkpoints two chains per round. Each
    chain's round-8 frame is a real, materialized checkpoint (the RDD
    lineage depth bound), whatever else checkpoints in the process;
    every other round's frame, round 0 included, is defused."""
    from pyspark.sql import functions as F

    from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
        checkpoint,
    )

    walks = spark.range(50).select(F.col("id").alias("v"), F.lit(1).alias("w"))
    acc = walks.select("v", F.lit(0).alias("acc"))
    frames = []
    for k in range(9):
        walks = checkpoint(walks.select("v", (F.col("w") + 1).alias("w")), round=k)
        acc = checkpoint(
            acc.join(walks, "v").select("v", (F.col("acc") + F.col("w")).alias("acc")),
            round=k,
        )
        frames.append((k, walks, acc))
    for k, *chain_frames in frames:
        for df in chain_frames:
            rdd = df._jdf.queryExecution().analyzed().rdd()
            if k == 8:
                assert rdd.isCheckpointedAndMaterialized(), k
            else:
                assert not rdd.checkpointData().isDefined(), k
    # w is k+2 in round k, so acc sums 2..10 per vertex
    assert acc.agg(F.sum("acc")).first()[0] == 50 * sum(range(2, 11))


@pytest.mark.parametrize("eager", [False, True])
def test_localcheckpoint_forwards_storage_level(spark, eager):
    """Importing the package leaves PySpark's own
    `DataFrame.localCheckpoint` in place, on the public class and on
    the classic subclass, so user calls keep the stock contract: a
    lazy call keeps its checkpointData, and `storageLevel` reaches
    the method whether passed by keyword or positionally."""
    from pyspark import StorageLevel
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    import wedge_parallel_triangle_counting_spark  # noqa: F401

    for cls, module in (
        (DataFrame, "pyspark.sql.dataframe"),
        (ClassicDataFrame, "pyspark.sql.classic.dataframe"),
    ):
        assert cls.__dict__["localCheckpoint"].__module__ == module, cls
    df = spark.range(500).select(F.col("id").alias("v"))
    for ck in (
        df.localCheckpoint(eager, StorageLevel.DISK_ONLY),
        df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY),
    ):
        rdd = ck._jdf.queryExecution().analyzed().rdd()
        assert rdd.checkpointData().isDefined()
        assert rdd.getStorageLevel().useDisk()
        assert not rdd.getStorageLevel().useMemory()
        assert ck.count() == 500


def test_package_checkpoints_only_through_helper():
    """Package code never calls `.localCheckpoint(` outside
    `checkpointing.checkpoint`, so the safety fixes and the per-round
    depth bound cover every package checkpoint."""
    import ast
    import pathlib

    import wedge_parallel_triangle_counting_spark as pkg

    offenders = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "checkpointing.py":
            helper = next(
                n
                for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "checkpoint"
            )
            allowed = {id(n) for n in ast.walk(helper)}
        offenders += [
            f"{path.name}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and n.attr == "localCheckpoint"
            and id(n) not in allowed
        ]
    assert not offenders, offenders
