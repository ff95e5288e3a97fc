"""The round driver in `CheckpointedLoop`: resume, the round cap and the
convergence record, and the operators that stop at their cap."""

from __future__ import annotations

import ast
import pathlib
import warnings

import pytest

from wedge_parallel_triangle_counting_spark.operators.checkpointing import (
    CheckpointedLoop,
)
from wedge_parallel_triangle_counting_spark.operators.components import (
    connected_components,
)
from wedge_parallel_triangle_counting_spark.operators.kcore import k_core
from wedge_parallel_triangle_counting_spark.operators.matching import (
    maximal_matching,
)
from wedge_parallel_triangle_counting_spark.operators.mis import (
    luby_coloring,
    maximal_independent_set,
)
from wedge_parallel_triangle_counting_spark.operators.truss import k_truss

from .conftest import BARBELL, K5, edges_df

PATH100 = [(i, i + 1) for i in range(99)]  # 100 vertices
# triangle strip: consecutive triangles (i, i+1, i+2) share an edge
STRIP = [(i, i + 1) for i in range(59)] + [(i, i + 2) for i in range(58)]


# -- the driver itself --------------------------------------------------


def _run_rounds(loop, max_rounds, on_cap, pending):
    ran = []
    for it in loop.rounds(max_rounds, on_cap=on_cap):
        ran.append(it)
        if loop.settled(pending):
            break
    return ran


def test_rounds_resume_at_the_manifests_next_round(spark, tmp_path):
    ckpt = str(tmp_path / "ck")
    first = CheckpointedLoop(spark, "drv", ckpt, checkpoint_every=2)
    state = first.start(spark.range(3).withColumnRenamed("id", "v"))
    for it in first.rounds(5):
        state = first.step(state, it)
        first.settled(5 - it, note=it)
    assert [h["extra"]["pending"] for h in first.history] == [5, 4, 3, 2, 1]

    resumed = CheckpointedLoop(spark, "drv", ckpt, checkpoint_every=2, resume=True)
    init = spark.range(0).withColumnRenamed("id", "v")
    got = resumed.start(init)
    assert got is not init and got.count() == 3
    assert resumed.first_round == 5  # the snapshot was round 4
    assert list(resumed.rounds(8)) == [5, 6, 7]
    # without resume=True the snapshot is ignored
    fresh = CheckpointedLoop(spark, "drv", ckpt, checkpoint_every=2)
    assert fresh.start(init) is init and list(fresh.rounds(2)) == [0, 1]


def test_rounds_resumed_finished_run_is_silent(spark, tmp_path):
    ckpt = str(tmp_path / "ck")
    first = CheckpointedLoop(spark, "drv", ckpt, checkpoint_every=1)
    state = first.start(spark.range(3).withColumnRenamed("id", "v"))
    with pytest.warns(RuntimeWarning, match="max_iters=2 with 7 rows"):
        for it in first.rounds(2, on_cap="warn"):
            state = first.step(state, it)
            first.settled(7)
    again = CheckpointedLoop(spark, "drv", ckpt, checkpoint_every=1, resume=True)
    again.start(None)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _run_rounds(again, 2, "warn", 7) == []
        assert _run_rounds(again, 2, "raise", 7) == []


def test_rounds_cap_policies(spark):
    loop = CheckpointedLoop(spark, "capped")
    with pytest.raises(RuntimeError, match=r"capped: .*round cap max_iters=3 with 2 rows"):
        _run_rounds(loop, 3, "raise", 2)
    with pytest.warns(RuntimeWarning, match="max_iters=3 with 2 rows"):
        assert _run_rounds(loop, 3, "warn", 2) == [0, 1, 2]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _run_rounds(loop, 3, None, 2) == [0, 1, 2]  # a budget
        assert _run_rounds(loop, 3, "raise", 0) == [0]  # settled
    # settled() without a step() this round appends its own record
    assert loop.history[-1]["iteration"] == 0
    assert loop.history[-1]["extra"] == {"pending": 0}


def test_no_hand_written_round_loop_outside_the_driver():
    """Operators reach resume and the round index only through the
    driver: no `.resume()` call, no `history[-1]` access and no
    `range(start, ...)` round loop outside checkpointing.py."""
    import wedge_parallel_triangle_counting_spark as pkg

    offenders = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        if path.name == "checkpointing.py":
            continue
        for n in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "resume"
            ):
                offenders.append(f"{path.name}:{n.lineno} .resume()")
            if (
                isinstance(n, ast.Subscript)
                and isinstance(n.value, ast.Attribute)
                and n.value.attr == "history"
            ):
                offenders.append(f"{path.name}:{n.lineno} history[...]")
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Name)
                and n.func.id == "range"
                and len(n.args) == 2
                and isinstance(n.args[0], ast.Name)
                and n.args[0].id == "start"
            ):
                offenders.append(f"{path.name}:{n.lineno} range(start, ...)")
    assert not offenders, offenders


# -- operators at their cap ----------------------------------------------
# Each test runs the operator once at a cap it cannot meet (it must
# warn) and once where it converges (it must not warn: RuntimeWarning is
# an error there).


def test_kcore_round_cap_warns(spark):
    """The 2-core of a path is empty, but the peel removes only the two
    end vertices per round: at the default 30 rounds it is unfinished."""
    path = edges_df(spark, PATH100)
    with pytest.warns(RuntimeWarning, match=r"kcore2: .*max_iters=30 with \d+ edges"):
        assert k_core(path, k=2).count() > 0
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert k_core(edges_df(spark, BARBELL), k=3).count() == 8


def test_star_round_cap_warns(spark):
    path = edges_df(spark, PATH100)
    with pytest.warns(RuntimeWarning, match=r"components_star: .*max_iters=2 with \d+ edges"):
        capped = connected_components(path, strategy="star", max_iters=2)
        assert capped.select("component").distinct().count() > 1
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        comp = connected_components(path, strategy="star").collect()
    assert {r.component for r in comp} == {0} and len(comp) == 100


def test_ktruss_round_cap_warns(spark):
    strip = edges_df(spark, STRIP)
    with pytest.warns(RuntimeWarning, match=r"ktruss4: .*max_iters=1 with \d+ edges"):
        k_truss(strip, k=4, max_iters=1).count()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert k_truss(strip, k=4).count() == 0
        assert k_truss(edges_df(spark, K5), k=5).count() == 10


def test_mis_round_cap_warns(spark):
    path = edges_df(spark, PATH100)
    with pytest.warns(RuntimeWarning, match=r"mis: .*max_rounds=1 with \d+ active vertices"):
        maximal_independent_set(path, max_rounds=1).count()
    with pytest.warns(RuntimeWarning, match=r"coloring: .*max_rounds=1 with \d+ active"):
        luby_coloring(path, max_rounds=1).count()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        mis = {r.v for r in maximal_independent_set(path).collect()}
        colors = {r.v: r.round for r in luby_coloring(path).collect()}
    assert all(v + 1 not in mis for v in mis)
    assert all(v in mis or v - 1 in mis or v + 1 in mis for v in range(100))
    assert len(colors) == 100 and all(colors[a] != colors[b] for a, b in PATH100)


def _luby_reference(pairs, drop_neighbors):
    """Deterministic Luby in plain Python: the operator's md5 priority,
    one selection per round, {v: round}."""
    import hashlib

    adj: dict = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    prio = {
        v: int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) * 2**31 + v
        for v in adj
    }
    act, out, rnd = set(adj), {}, 0
    while act:
        rnd += 1
        sel = {v for v in act if all(prio[v] < prio[u] for u in adj[v] & act)}
        out.update((v, rnd) for v in sel)
        act -= sel
        if drop_neighbors:
            act -= {u for v in sel for u in adj[v]}
    return out


def test_mis_round_jobs_and_output(spark):
    """A round runs 12 Spark jobs for MIS and 10 for coloring (the
    eager selection and active-set checkpoints with their AQE stages,
    and the active count) — 2 fewer than when every round also checked
    `sel.limit(1).count() == 0`, which could never fire. The per-round
    figure is the job difference between a 2-round and a 1-round run;
    the output is the plain-Python Luby's."""
    import random

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rng = random.Random(5)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(150)]
    edges = edges_df(spark, pairs)

    def jobs(tag, op, rounds):
        sc.setJobGroup(tag, tag)
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                op(edges, max_rounds=rounds).count()
        finally:
            sc.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(tag))

    for op, per_round in ((maximal_independent_set, 12), (luby_coloring, 10)):
        name = op.__name__
        assert jobs(f"{name}_2", op, 2) - jobs(f"{name}_1", op, 1) == per_round
        got = {r.v: r.round for r in op(edges).collect()}
        assert got == _luby_reference(pairs, op is maximal_independent_set)


def test_matching_round_cap_warns(spark):
    path = edges_df(spark, PATH100)
    with pytest.warns(RuntimeWarning, match=r"matching: .*max_rounds=1 with \d+ active edges"):
        maximal_matching(path, max_rounds=1).count()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        matched = maximal_matching(path).collect()
    ends = [x for r in matched for x in (r.a, r.b)]
    assert len(ends) == len(set(ends))
    assert all(a in ends or b in ends for a, b in PATH100)
