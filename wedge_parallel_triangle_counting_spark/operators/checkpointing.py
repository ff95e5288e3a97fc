"""Checkpointed iterative-loop runner (north rule: iterative
algorithms run as checkpointed DataFrame loops with per-partition
lineage and metrics so any run is resumable mid-iteration).

Two layers:
- every iteration: `checkpoint()` truncates lineage so the plan
  doesn't grow linearly with iteration count (the distributed analogue
  of the reference's multi-launch chunking, tc_base.cu:332-356 —
  bounded work per "launch"). It is the one place package code
  checkpoints: stock `localCheckpoint` plus a cap on bogus size
  estimates and a defused lazy mark (two Spark-internal hazards, see
  the functions below). Depth rule: a loop passes its round index, and
  every `_EAGER_EVERY`-th (8th) round is a real eager checkpoint, so
  each chain's RDD lineage spans at most 8 rounds of its own loop;
- every `checkpoint_every` iterations (when a directory is given):
  durable parquet snapshot + a JSON manifest recording iteration
  number, row count, per-partition row counts (lineage of the physical
  partitioning), and metric history. A loop built with `resume=True`
  restarts from the last snapshot after a crash.

Round driver. Every round loop is written the same way:

    loop = CheckpointedLoop(spark, "name", checkpoint_dir, every,
                            fingerprint=..., resume=resume)
    state = loop.start(init)          # resumed snapshot, or init
    for it in loop.rounds(max_iters, on_cap="warn"):
        state = loop.step(round_body(state), it, eager=False)
        if loop.settled(changed_count(state)):
            break

`rounds()` yields round indices from the resumed one (0 on a fresh
run); `settled(pending)` records the round's change count in `history`
and returns `pending == 0`. The driver adds no Spark action: the count
is the one the round already takes. When `rounds()` runs out and the
last `settled()` count is non-zero, the loop stopped at its round cap
with the result still changing, and `on_cap` decides what happens, with
one message naming the loop, the cap and the count:

| on_cap   | loops                                   | why                       |
|----------|-----------------------------------------|---------------------------|
| "warn"   | hashmin, star, k-core, k-truss, MIS /   | a partial answer is still |
|          | coloring, matching                      | usable, but must be known |
| "raise"  | densest, scc (outer, colour and mark)   | a truncated answer is     |
|          |                                         | silently wrong            |
| None     | bfs/harmonic `max_hops`, sssp           | the cap is a documented   |
|          | `max_rounds`, pagerank `tol`, labelprop,| budget, or the loop runs a|
|          | eigencentrality, hits, salsa            | fixed number of rounds    |

A resumed run whose snapshot is already at the cap yields no round and
says nothing: this call ran no round that could have been cut short.

Driver-local lane. A small iterative run is bound by Spark's per-stage
cost, not by its data (a 2-round durable PageRank over 168 k links ran
25 jobs), so a loop whose input fits one machine may run its rounds in
numpy on the driver instead, through the same driver:

    arrays, lane = local_input(edges.select(...))   # None: Spark lane
    loop = CheckpointedLoop(..., lane=lane)         # logs the verdict
    state = loop.start_local(init)                  # numpy columns
    for it in loop.rounds(max_iters):
        state = round_body(state)
        loop.step_local(state, it)

`local_input` takes the lane when the size estimate alone places the
input under `LOCAL_LANE_MAX_EDGES` rows at the measured floor of
`_MIN_BYTES_PER_ROW` (no job either way), collects it once through
Arrow, and falls back to the Spark lane when the collected rows are
over the cap or hold a null. `step_local` writes the same
`<name>.iterNNNNN.parquet` snapshot `step` writes (with pyarrow) and
swaps the same manifest, so a run snapshotted by one lane resumes in
the other. The verdict and the number behind it (the size estimate, or
the collected rows on an abort) go into every round's `history`
record, the manifest and one INFO log event (`lane_event`). Operators
on the lane: pagerank, and triangle_count — a one-shot count, not a
loop: it collects its edges behind `size_gate`, counts on the driver
up to `LOCAL_LANE_MAX_WEDGES` oriented wedges and logs its verdict
through the same `lane_event`.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import warnings
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


# 2^64 bytes = 16 EiB. Any plan-size ESTIMATE above this is provably
# bogus (no input is that large); see _sanitize_checkpoint_stats.
_SANE_SIZE_BITS = 64

# Every _EAGER_EVERY-th round of a loop checkpoints for real, bounding
# each defused chain's RDD lineage depth (see _defuse_lazy_checkpoint's
# depth-bound note). N=8 keeps a 4x margin under the ~60-round depth
# where task deserialization was measured to survive, at the cost of
# one extra job per chain per 8 rounds.
_EAGER_EVERY = 8


def _sanitize_checkpoint_stats(df: DataFrame) -> DataFrame:
    """Cap the size estimate a localCheckpoint'ed frame carries forward.

    Spark's `Dataset.localCheckpoint` snapshots the pre-checkpoint
    plan's statistics into the `LogicalRDD` leaf it returns
    (`LogicalRDD.fromDataset` -> `rewriteStatsAndConstraints`). The
    size estimate for a join is the PRODUCT of its children's
    `sizeInBytes` (SizeInBytesOnlyStatsPlanVisitor.default), so in an
    iterative loop whose round references the carried state k>1 times
    (hashmin pointer jumping: 5; SCC coloring: 4; h-index doubling: 3)
    the estimate's BIT LENGTH multiplies by k every round. After ~10
    rounds the driver is doing Toom-Cook multiplication on multi-
    megabit BigIntegers inside every stats walk (InjectRuntimeFilter,
    join selection, the next checkpoint's own snapshot) and a 500-row
    round that executes in 0.4 s takes minutes to PLAN — jstack shows
    `java.math.BigInteger.multiplyToomCook3` under
    `SizeInBytesOnlyStatsPlanVisitor` (round walls measured 0.5 s ->
    2.7 -> 16 -> 120 s on a 12-round doc-graph fixture; the identical
    loop with this fix: 0.4 s flat, same per-round change counts).

    The fix: when the captured estimate exceeds 2^64 bytes (16 EiB —
    physically impossible, purely estimation compounding), rebuild the
    `LogicalRDD` leaf WITHOUT originStats/originConstraints, keeping
    the rdd, output, partitioning and ordering. The leaf then reports
    `spark.sql.defaultSizeInBytes` like any unknown-size relation;
    explicit broadcast() hints and AQE's runtime-measured sizes are
    unaffected. Sane estimates (every non-degenerate case, including
    all single-pass plans) are returned untouched, so plan choices do
    not change anywhere else. Data is never touched — only planner
    metadata; per-round change counts and final labels are
    bit-identical (regression-tested in test_iterative.py).
    """
    try:
        jdf = df._jdf
        plan = jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return df
        try:
            size = plan.stats().sizeInBytes()
            if isinstance(size, int) and size.bit_length() <= _SANE_SIZE_BITS:
                return df
        except Exception:
            # py4j cannot even convert the BigInt (>4300 digits) —
            # definitely in the compounding regime
            pass
        sess = df.sparkSession
        jvm = sess.sparkContext._jvm
        none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        stripped = jvm.org.apache.spark.sql.execution.LogicalRDD(
            plan.output(),
            plan.rdd(),
            plan.outputPartitioning(),
            plan.outputOrdering(),
            plan.isStreaming(),
            plan.stream(),
            sess._jsparkSession,
            none,
            none,
        )
        new_jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            sess._jsparkSession, stripped
        )
        return df.__class__(new_jdf, sess)
    except Exception:  # pragma: no cover — non-classic sessions, API drift
        return df


def _defuse_lazy_checkpoint(df: DataFrame) -> DataFrame:
    """Un-mark a LAZY localCheckpoint's RDD-level checkpoint machinery,
    keeping its persistence — closes a Spark-internal deadlock window.

    `RDD.localCheckpoint()` persists the RDD (MEMORY_AND_DISK, disk-
    backed) and THEN marks `checkpointData`. When the first job that
    computes such an RDD is launched from a broadcast-exchange thread
    (e.g. PageRank's dangling-mass broadcast reading the previous
    iteration's lazily-checkpointed ranks), `RDD.doCheckpoint` runs on
    that thread and takes the global `RDDCheckpointData$` monitor then
    the RDD's own monitor, while `DAGScheduler.getCacheLocs`
    concurrently takes them in the OPPOSITE order — a lock-order
    inversion that deadlocks the JVM (observed this round in a
    partest run: jstack "Found one Java-level deadlock" between
    `dag-scheduler-event-loop` and `broadcast-exchange-48`, the same
    mechanism as the r5 bloom_probe deadlock fixed in
    checkpointing.finish_with_caches). Every lazy checkpoint consumed
    under a broadcast before any other action is a standing instance
    of this race.

    Clearing `checkpointData` (public-in-bytecode `checkpointData_$eq`)
    removes the only party that ever locks `RDDCheckpointData$`, while:
    - the persistence set BEFORE marking stays, so blocks still cache
      on first compute exactly as before (lazy localCheckpoint IS
      persist-based) — execution and results are bit-identical;
    - the LOGICAL plan stays truncated at the LogicalRDD leaf (the
      Catalyst-level growth localCheckpoint exists to stop);
    - RDD-level lineage is retained instead of truncated, which is
      strictly SAFER under block eviction (recompute instead of
      "checkpoint block not found") at the cost of a linear driver
      DAG walk per job — microseconds at realistic round counts.

    Eager checkpoints are left untouched: their materialization (and
    doCheckpoint) completes inside the call on the action thread.

    Depth bound: defused frames retain RDD lineage, so an unbounded
    chain of them grows the serialized task object graph without limit
    — at ~120 chained PageRank iterations Java task DESERIALIZATION
    overflows the executor thread stack (ObjectInputStream recursion;
    reproduced, ~60 iterations survive). `checkpoint()` therefore leaves
    every `_EAGER_EVERY`-th round's checkpoint as a REAL eager one:
    eager materialization runs on the action thread while every other
    frame in the plan is unmarked, so it cannot hit the broadcast-
    thread deadlock, and the completed checkpoint truncates RDD
    lineage, bounding chain depth to `_EAGER_EVERY` rounds."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return df
        jrdd = plan.rdd()
        if jrdd.checkpointData().isDefined() and not (
            jrdd.isCheckpointedAndMaterialized()
        ):
            jvm = df.sparkSession.sparkContext._jvm
            none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
            getattr(jrdd, "checkpointData_$eq")(none)
    except Exception:  # pragma: no cover — non-classic sessions, API drift
        pass
    return df


def checkpoint(
    df: DataFrame, eager: bool = False, round: int | None = None
) -> DataFrame:
    """Truncate `df`'s lineage: the one way package code checkpoints.

    Stock `localCheckpoint` plus the two Spark-internal fixes above:
    the size-estimate cap always, and a lazy checkpoint is defused
    (persisted, not marked) — unless `round` is a positive multiple of
    `_EAGER_EVERY`, when it is a real eager checkpoint. A loop passes
    the index of the loop that carries the chain, so every chain's RDD
    lineage is cut at least once per `_EAGER_EVERY` of its own rounds,
    whatever else runs in the process; a one-shot call passes nothing.
    """
    if round is not None and round > 0 and round % _EAGER_EVERY == 0:
        eager = True
    if eager:
        return _sanitize_checkpoint_stats(df.localCheckpoint(eager=True))
    return _sanitize_checkpoint_stats(
        _defuse_lazy_checkpoint(df.localCheckpoint(eager=False))
    )


def finish_with_caches(
    df: DataFrame, own_caches: list, caches: list | None = None
) -> DataFrame:
    """Standard tail for a one-shot operator that persisted scratch
    frames: if the caller passed a `caches` list (composition mode),
    hand the persisted frames over and return the LAZY result; else
    materialize the result eagerly and release the scratch frames
    immediately, so a session running many queries (the correctness
    harness runs 155) never accumulates dead cached blocks.

    Materialization is persist+count, NOT `localCheckpoint(eager=True)`:
    eager localCheckpoint of a plan containing a broadcast join can
    deadlock the JVM — the broadcast-exchange thread and the DAG
    scheduler take the global `RDDCheckpointData$` monitor and an RDD
    partitions monitor in opposite orders (observed as a Java-level
    deadlock between `dag-scheduler-event-loop` and
    `broadcast-exchange-*` under bloom_probe; jstack-confirmed). The
    one-shot results here are small (sketch/report tables), so lineage
    truncation buys nothing and persist carries no plan-growth risk."""
    if caches is not None:
        caches.extend(own_caches)
        return df
    out = df.persist()
    out.count()
    for c in own_caches:
        c.unpersist()
    return out


def loop_partitions(spark: SparkSession) -> int:
    """Partition count for an iterative loop's static (persisted)
    sides. Must equal spark.sql.shuffle.partitions — per-iteration
    aggregation outputs and checkpointed state use the shuffle count,
    so a defaultParallelism mismatch re-exchanges the static edge table
    every iteration (found while profiling PageRank scaling, r3).

    The rule that sizes it lives in `session.get_spark`: on `local[N]`
    the shuffle count defaults to N, one partition per core, unless
    `shuffle_partitions=` or `SPARK_GRAFT_SHUFFLE` sets it; other
    masters default to 32. The explicit `repartition(n, ...)` calls
    that use this count are outside AQE's coalescing, so it is also
    the task count of every loop stage over the static sides."""
    return int(
        spark.conf.get(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    )


# Largest input, in rows, that the triangle engine takes whole: its
# broadcast closure is ~240 MB of int64 keys per executor.
BROADCAST_MAX_EDGES = 30_000_000

# Largest edge table, in rows, that the driver-local loop lane
# collects: the largest measured size (tools/bench_lanes.py --op pagerank).
# 10-round PageRank on R-MAT parquet, 4 vCPU, medians of 3, local lane
# vs Spark lane at local[4] / local[32]: 4.2 M edges 4.1 vs 17.3 / 33.0
# s, 8.4 M 8.9 vs 36.8 / 58.2 s, 16.8 M 18.0 vs 82.4 / 113.2 s. At
# 16.8 M the driver's Python peaks at ~2.0 GB RSS and its JVM at ~3 GB.
# Above this size, and on hosts with more than 4 cores, the crossover
# is unmeasured.
LOCAL_LANE_MAX_EDGES = 16_000_000

# Largest oriented wedge count W = sum d+(d+-1)/2 that triangle_count
# enumerates on the driver (one thread per CPU) once it has collected
# the edges; beyond it one Spark count job runs instead. The largest
# measured W (tools/bench_lanes.py --op triangles), rounded up: R-MAT
# parquet, seed 1, local[4] on 4 vCPU, fresh JVM per run, lanes
# interleaved, median wall local vs Spark count: 262 k edges (5.2 M
# wedges) 0.53 vs 2.45 s, 1.0 M (33 M) 1.91 vs 5.65 s, 4.2 M (205 M)
# 7.13 vs 18.92 s, 8.4 M (502 M) 15.98 vs 38.60 s, with the driver's
# Python at 1.9 GB peak RSS. Above it, and against a cluster of many
# executors, the crossover is unmeasured.
LOCAL_LANE_MAX_WEDGES = 510_000_000

# Lowest size estimate per row measured on parquet int-pair scans (3.7
# B/row; `size_gate`), rounded down: `local_input` admits an estimate
# up to this many bytes per row of its cap. A denser encoding collects
# more rows than the cap and aborts on the row re-check.
_MIN_BYTES_PER_ROW = 3


class SizeGate(NamedTuple):
    """`size_gate`'s verdict: whether the input fits the cap, and on
    what evidence — basis "estimate" (`value` is Catalyst's size
    estimate in bytes, no job ran) or "count" (`value` is the exact row
    count, one job ran)."""

    fits: bool
    basis: str
    value: int | None


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated size of the optimized plan in bytes —
    metadata-only, no job. None when the estimate is unavailable. A
    leaf of unknown size (a frame built from Python rows or an RDD)
    reports `spark.sql.defaultSizeInBytes`, Long.MaxValue by default,
    so it reads as huge."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover — py4j/plan edge cases
        return None


def size_gate(df: DataFrame, cap: int, count: bool = True) -> SizeGate:
    """Whether `df` has at most `cap` rows, in three regimes (r6,
    VERDICT item 3: the gates before ran a full count() job on the
    derived input every time). The size estimate is metadata-only:
    - estimate <= cap bytes: fits, no job. The bound is 1 byte/row
      (measured parquet int-pair scans estimate 3.7-22 B/row), so only
      a sub-byte-per-row encoding can overshoot; a caller that collects
      the input re-checks the rows it got and falls back to its
      distributed plan, so a wrong estimate costs memory headroom,
      never correctness;
    - estimate >= 64 x cap bytes: does not fit, no job;
    - in between, or no estimate: one exact count() job — or, with
      `count=False`, does not fit, no job."""
    est = plan_size_bytes(df)
    if est is not None and est <= cap:
        return SizeGate(True, "estimate", est)
    if not count or (est is not None and est >= 64 * cap):
        return SizeGate(False, "estimate", est)
    rows = df.count()
    return SizeGate(rows <= cap, "count", rows)


def collect_arrays(df: DataFrame, *cols: str) -> list[np.ndarray] | None:
    """`cols` of `df` as numpy arrays through one Arrow collect (no
    pandas object overhead — ADVICE round 1, _build_probe item). None
    when a column holds a null, which a numpy array cannot carry."""
    tbl = df.select(*cols).toArrow()
    if any(c.null_count for c in tbl.columns):
        return None
    return [c.to_numpy() for c in tbl.columns]


def local_input(edges: DataFrame) -> tuple[list[np.ndarray] | None, dict]:
    """The driver-local lane's entry: (every column of `edges` as a
    numpy array, the lane verdict) when the input fits one machine,
    else (None, the verdict). The gate is the size estimate alone
    (`size_gate(..., count=False)` at `_MIN_BYTES_PER_ROW` bytes per
    row of `LOCAL_LANE_MAX_EDGES`): an input the estimate cannot place
    under the cap takes the Spark lane without a job, so the choice
    adds no job to a Spark-lane run. An entry re-checks the rows it
    collected and aborts to the Spark lane over the cap, and a null
    anywhere (an id that does not cast to long comes out null) also
    takes the Spark lane."""
    cap = LOCAL_LANE_MAX_EDGES
    gate = size_gate(edges, _MIN_BYTES_PER_ROW * cap, count=False)
    lane = {"lane": "spark", "basis": gate.basis, "value": gate.value, "cap": cap}
    if not gate.fits:
        return None, lane
    got = collect_arrays(edges, *edges.columns)
    if got is None:
        lane.update(basis="nulls", value=None)
    elif len(got[0]) > cap:
        lane.update(basis="collected", value=len(got[0]))
    else:
        return got, dict(lane, lane="local")
    return None, lane


def lane_event(name: str, lane: dict) -> None:
    """Log a lane verdict as one INFO event, `<name>: <lane> lane
    (<basis>=<value>, <key>=<value>..., cap <cap> <unit>)`: the basis
    and value say what decided it (the size estimate, an exact count,
    the collected rows), any further keys the numbers taken after the
    collect, and the unit defaults to rows."""
    why = [lane["basis"] + ("" if lane["value"] is None else f"={lane['value']}")]
    why += [
        f"{k}={v}"
        for k, v in lane.items()
        if k not in ("lane", "basis", "value", "cap", "unit")
    ]
    _log.info(
        "%s: %s lane (%s, cap %s %s)",
        name, lane["lane"], ", ".join(why), lane["cap"], lane.get("unit", "rows"),
    )


# A label-propagation/HashMin round reads the edge table by one
# endpoint (the join) and writes by the other (the aggregation), so the
# optimal static clustering is REGIME-DEPENDENT:
# - small state (vertex table fits a per-round broadcast): cluster by
#   the AGGREGATION key (src) and broadcast the state — the broadcast
#   join preserves the clustering, the vote aggregation and the argmax
#   window reuse it, and the round runs with ZERO edge-sized exchanges;
# - big state: cluster by the JOIN key (dst) — the shuffle join is then
#   co-partitioned with the checkpointed state and only the inherent
#   aggregation exchange remains (one per round).
# The input row count bounds the vertex count (n ≤ 2·rows), giving a
# cheap gate with the same ceiling as graph.RELABEL_BROADCAST_MAX.
LOOP_BROADCAST_INPUT_MAX = 2_500_000


def loop_layout(edges) -> tuple[str, bool]:
    """(clustering key for the symmetric edge table, broadcast the
    per-round state?) — see the regime note above. `size_gate` decides
    at `LOOP_BROADCAST_INPUT_MAX` rows, with no job outside its gray
    zone (r6: on DERIVED inputs like the registry's projected lineitem
    scans the old count() was a real scan job paid at the top of every
    loop operator). The broadcast gate errs safe either way: a
    wrongly-big verdict costs one co-partitioned shuffle per round,
    never correctness."""
    small = size_gate(edges, LOOP_BROADCAST_INPUT_MAX).fits
    return ("src" if small else "dst", small)


# NOTE on AQE partition coalescing inside loops: an r3 experiment
# disabled it for every iterative loop on the theory that coalescing
# collapses vertex-stage parallelism. Interleaved A/Bs refuted this in
# BOTH regimes (local[32] small-state: consistently ~1.5x WORSE with
# coalescing off — 32 tiny tasks × many stages × many rounds is pure
# overhead; pinned 8-core amplified graph: no win either), because
# spark.sql.adaptive.coalescePartitions.parallelismFirst (default true)
# already prevents coalescing below the cluster's parallelism. Keep
# coalescing ON; see BENCH/RUNS.md r3-b/r3-c.


@dataclass
class IterationMetrics:
    iteration: int
    rows: int
    partitions: int
    partition_rows: list[int]
    extra: dict = field(default_factory=dict)
    wall_sec: float = 0.0


class CheckpointedLoop:
    def __init__(
        self,
        spark: SparkSession,
        name: str,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
        collect_partition_stats: bool = False,
        fingerprint: dict | None = None,
        resume: bool = False,
        lane: dict | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        self.dir = checkpoint_dir
        self.every = max(checkpoint_every, 1)
        self.collect_partition_stats = collect_partition_stats
        # input/parameter fingerprint stored in the manifest; start()
        # refuses a snapshot whose fingerprint differs (resuming an
        # iteration over a CHANGED input would silently continue from
        # stale state)
        self.fingerprint = fingerprint
        self.resume = resume
        # `local_input`'s verdict for a loop that has the driver-local
        # lane: kept in every round's record and in the manifest
        self.lane = lane
        if lane is not None:
            lane_event(name, lane)
        # round rounds() starts from: 0, or the one after the resumed
        # snapshot's
        self.first_round = 0
        self.history: list[dict] = []
        self._t0 = time.time()
        self._round = 0
        self._round_records = 0  # len(history) when the round began
        self._pending = None  # last settled() count of the running rounds()

    # -- manifest helpers -------------------------------------------------
    def _manifest_path(self) -> str:
        assert self.dir is not None
        return os.path.join(self.dir, f"{self.name}.manifest.json")

    def _manifest(self) -> dict | None:
        """The last durable snapshot's manifest (its history becomes
        this loop's), or None if there is nothing to resume from."""
        if not self.dir:
            return None
        mp = self._manifest_path()
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            manifest = json.load(f)
        stored = manifest.get("fingerprint")
        if self.fingerprint is not None and stored is not None and stored != self.fingerprint:
            raise ValueError(
                f"checkpoint '{self.name}' was written for a different "
                f"input/parameters (manifest fingerprint {stored!r} != "
                f"current {self.fingerprint!r}); refusing to resume — "
                "delete the checkpoint directory to start fresh"
            )
        self.history = manifest.get("history", [])
        return manifest

    def _commit(self, iteration: int, path: str) -> None:
        """Point the manifest at the snapshot just written at `path`."""
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "iteration": iteration,
                    "path": path,
                    "history": self.history,
                    "fingerprint": self.fingerprint,
                    "lane": self.lane,
                },
                f,
            )
        os.replace(tmp, self._manifest_path())  # atomic manifest swap

    def _record(self, iteration: int, rows: int, partitions: int,
                partition_rows: list[int], extra: dict) -> None:
        if self.lane is not None:
            extra = {"lane": self.lane, **extra}
        self.history.append(
            IterationMetrics(
                iteration=iteration,
                rows=rows,
                partitions=partitions,
                partition_rows=partition_rows,
                extra=extra,
                wall_sec=time.time() - self._t0,
            ).__dict__
        )

    # -- round driver -----------------------------------------------------
    def start(self, init: DataFrame) -> DataFrame:
        """The loop's initial state: the last durable snapshot when
        built with `resume=True` and one exists (`first_round` then
        points past it), else `init`."""
        manifest = self._manifest() if self.resume else None
        if manifest is None:
            return init
        self.first_round = manifest["iteration"] + 1
        return self.spark.read.parquet(manifest["path"])

    def start_local(self, init: dict[str, np.ndarray], key: str = "v") -> dict[str, np.ndarray]:
        """`start` for the driver-local lane: `init` is the state as
        numpy columns, sorted by the unique `key` column. A resumed
        snapshot — written by either lane, in any row order — comes back
        as `init`'s columns in `init`'s key order; a snapshot over other
        keys is refused."""
        manifest = self._manifest() if self.resume else None
        if manifest is None:
            return init
        snap = pq.read_table(manifest["path"])
        keys = snap.column(key).to_numpy()
        order = np.argsort(keys, kind="stable")
        if not np.array_equal(keys[order], init[key]):
            raise ValueError(
                f"checkpoint '{self.name}': the snapshot's {key} values "
                "differ from the input's; refusing to resume — delete the "
                "checkpoint directory to start fresh"
            )
        self.first_round = manifest["iteration"] + 1
        return {c: snap.column(c).to_numpy()[order] for c in init}

    def rounds(
        self,
        max_rounds: int,
        on_cap: str | None = None,
        *,
        cap: str = "max_iters",
        unit: str = "rows",
    ):
        """Yield round indices `first_round` .. `max_rounds - 1`; the
        caller breaks out when a round settles. Running out with the
        last `settled()` count non-zero applies `on_cap`: "warn" (a
        RuntimeWarning), "raise" (a RuntimeError) or None (the cap is a
        budget). `cap` and `unit` name the operator's cap parameter and
        what the count counts, for the message."""
        self._pending = None
        for it in range(self.first_round, max_rounds):
            self._round, self._round_records = it, len(self.history)
            yield it
        if on_cap is None or not self._pending:
            return
        msg = (
            f"{self.name}: stopped at the round cap {cap}={max_rounds} "
            f"with {self._pending} {unit} still changing in the last "
            "round; the result is not converged"
        )
        if on_cap == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    def settled(self, pending: int, **extra) -> bool:
        """Record this round's change count (and `extra`) in `history`
        and return `pending == 0`. Adds no Spark action."""
        extra["pending"] = pending
        if len(self.history) > self._round_records:  # step() ran this round
            self.history[-1]["extra"].update(extra)
        else:
            self._record(self._round, -1, 0, [], extra)
        self._pending = pending
        return pending == 0

    # -- per-iteration hook ------------------------------------------------
    def _snapshot_path(self, iteration: int) -> str:
        return os.path.join(self.dir, f"{self.name}.iter{iteration:05d}.parquet")

    def step(self, df: DataFrame, iteration: int, eager: bool = True, **extra) -> DataFrame:
        """Truncate lineage; snapshot durably on cadence; record metrics.

        Returns the (possibly re-read) state DataFrame to carry forward.
        `eager=False` defers checkpoint materialization to the caller's
        next action (e.g. a convergence count) — one job per round
        instead of two when the caller counts immediately after."""
        df = checkpoint(df, eager=eager, round=iteration)
        if self.collect_partition_stats:
            pstats = (
                df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
            )
            partition_rows = [r["count"] for r in sorted(pstats, key=lambda r: r["pid"])]
            rows = sum(partition_rows)
        else:
            partition_rows = []
            rows = -1
        self._record(iteration, rows, df.rdd.getNumPartitions(), partition_rows, extra)

        if self.dir and iteration % self.every == 0:
            path = self._snapshot_path(iteration)
            df.write.mode("overwrite").parquet(path)
            self._commit(iteration, path)
            df = self.spark.read.parquet(path)
        return df

    def step_local(self, state: dict[str, np.ndarray], iteration: int) -> None:
        """`step` for the driver-local lane: record the round (one
        partition) and, on the snapshot cadence, write `state` with
        pyarrow to the parquet path `step` uses and swap the manifest."""
        rows = len(next(iter(state.values())))
        if self.collect_partition_stats:
            self._record(iteration, rows, 1, [rows], {})
        else:
            self._record(iteration, -1, 1, [], {})
        if self.dir and iteration % self.every == 0:
            path = self._snapshot_path(iteration)
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            pq.write_table(pa.table(state), os.path.join(path, "part-00000.parquet"))
            self._commit(iteration, path)
