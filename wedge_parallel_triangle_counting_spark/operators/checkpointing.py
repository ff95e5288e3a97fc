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
"""

from __future__ import annotations

import json
import os
import time
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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
    per-round state?) — see the regime note above.

    The regime gate first consults Catalyst's size estimate
    (metadata-only, no job — r6: on DERIVED inputs like the registry's
    projected lineitem scans the old count() was a real scan job paid
    at the top of every loop operator). An estimate at or below the row
    cap in BYTES proves the row bound at >= 1 byte/row (measured
    parquet int-pair scans estimate 3.7-22 B/row); 64x the cap proves
    the big regime; only the gray zone pays the exact count. The
    broadcast gate errs safe either way: a wrongly-big verdict costs
    one co-partitioned shuffle per round, never correctness."""
    est = None
    try:
        est = int(edges._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover — py4j/plan edge cases
        pass
    if est is not None and est <= LOOP_BROADCAST_INPUT_MAX:
        return "src", True
    if est is not None and est >= 64 * LOOP_BROADCAST_INPUT_MAX:
        return "dst", False
    small = edges.count() <= LOOP_BROADCAST_INPUT_MAX
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

    def _snapshot(self) -> tuple[DataFrame, int] | None:
        """(state, next_iteration) from the last durable snapshot, or
        None if there is nothing to resume from."""
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
        df = self.spark.read.parquet(manifest["path"])
        return df, manifest["iteration"] + 1

    # -- round driver -----------------------------------------------------
    def start(self, init: DataFrame) -> DataFrame:
        """The loop's initial state: the last durable snapshot when
        built with `resume=True` and one exists (`first_round` then
        points past it), else `init`."""
        got = self._snapshot() if self.resume else None
        if got is None:
            return init
        df, self.first_round = got
        return df

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
            self.history.append(
                IterationMetrics(
                    iteration=self._round,
                    rows=-1,
                    partitions=0,
                    partition_rows=[],
                    extra=extra,
                    wall_sec=time.time() - self._t0,
                ).__dict__
            )
        self._pending = pending
        return pending == 0

    # -- per-iteration hook ------------------------------------------------
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
        m = IterationMetrics(
            iteration=iteration,
            rows=rows,
            partitions=df.rdd.getNumPartitions(),
            partition_rows=partition_rows,
            extra=extra,
            wall_sec=time.time() - self._t0,
        )
        self.history.append(m.__dict__)

        if self.dir and iteration % self.every == 0:
            path = os.path.join(self.dir, f"{self.name}.iter{iteration:05d}.parquet")
            df.write.mode("overwrite").parquet(path)
            tmp = self._manifest_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "iteration": iteration,
                        "path": path,
                        "history": self.history,
                        "fingerprint": self.fingerprint,
                    },
                    f,
                )
            os.replace(tmp, self._manifest_path())  # atomic manifest swap
            df = self.spark.read.parquet(path)
        return df
