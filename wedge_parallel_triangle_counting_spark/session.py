"""SparkSession factory with engine defaults.

Defaults chosen for the target deployment (multi-executor cluster over
~100 TB of pages): AQE on (runtime re-plan + skew-join mitigation),
Arrow transfer for the vectorized-UDF boundary, and a shuffle
partition count that AQE may coalesce downward.

Partition rule: on a `local[N]` master the default
`spark.sql.shuffle.partitions` is N, one partition per core (the
distributed analogue of the reference sizing each launch to the
device, tc_base.cu:332-356). Iterative operators repartition their
static sides to that same count (`checkpointing.loop_partitions`) with
explicit `repartition(n, ...)` calls AQE cannot coalesce, so a fixed 32
on a 4-core host ran 8 waves of tiny tasks per loop stage. An explicit
`shuffle_partitions=` or `SPARK_GRAFT_SHUFFLE` overrides the rule;
every other master keeps the fixed default of 32.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

# 2^64 bytes = 16 EiB. Any plan-size ESTIMATE above this is provably
# bogus (no input is that large); see _sanitize_checkpoint_stats.
_SANE_SIZE_BITS = 64

# Every Nth LAZY localCheckpoint process-wide stays a real eager
# checkpoint, bounding defused-chain RDD lineage depth (see
# _defuse_lazy_checkpoint's depth-bound note). Sequential loops are the
# only producers of long chains, so the process-wide counter bounds
# each chain's depth to ~N rounds; N=8 keeps a 4x margin under the
# ~60-round depth where task deserialization was measured to survive,
# at the cost of one extra job per 8 lazy rounds.
_EAGER_EVERY = 8
_lazy_counter = [0]


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
    reproduced, ~60 iterations survive). The wrapper therefore leaves
    every `_EAGER_EVERY`-th lazy checkpoint as a REAL eager checkpoint:
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


def _install_localcheckpoint_sanitizer() -> None:
    """Wrap `DataFrame.localCheckpoint` with the stats sanitizer.

    Installed once at package import (session.py is imported by the
    package `__init__`), on every class that defines its own
    `localCheckpoint`, so all ~90 call sites — including streaming
    foreachBatch state that chains across micro-batches — are covered
    without per-site edits. The wrapper is semantics-preserving: it
    only rewrites leaf statistics metadata, and only when the estimate
    is provably bogus (> 2^64 bytes)."""
    targets = [DataFrame]
    try:  # classic implementation class (PySpark >= 4)
        from pyspark.sql.classic.dataframe import DataFrame as _ClassicDF

        targets.append(_ClassicDF)
    except ImportError:  # pragma: no cover
        pass
    for cls in targets:
        # NB: own-__dict__ checks, not getattr — the classic subclass
        # inherits the parent's marker attribute, which must not stop
        # its own (actually dispatched) method from being wrapped
        if (
            "localCheckpoint" not in cls.__dict__
            or "_wptc_ckpt_sanitized" in cls.__dict__
        ):
            continue
        cls.localCheckpoint = _wrap_local_checkpoint(cls.__dict__["localCheckpoint"])
        cls._wptc_ckpt_sanitized = True


def _wrap_local_checkpoint(orig):
    """The sanitizing `localCheckpoint`; any argument after `eager`
    (PySpark 4's `storageLevel`, positional or keyword) is forwarded to
    the stock method unchanged."""

    def _local_checkpoint(self, eager: bool = True, *args, **kwargs):
        if not eager:
            _lazy_counter[0] += 1
            if _lazy_counter[0] % _EAGER_EVERY == 0:
                # periodic REAL eager checkpoint: bounds the defused
                # chains' RDD lineage depth (see _defuse_lazy_checkpoint)
                return _sanitize_checkpoint_stats(orig(self, True, *args, **kwargs))
            return _sanitize_checkpoint_stats(
                _defuse_lazy_checkpoint(orig(self, False, *args, **kwargs))
            )
        return _sanitize_checkpoint_stats(orig(self, True, *args, **kwargs))

    _local_checkpoint.__doc__ = orig.__doc__
    return _local_checkpoint


# Kill-switch for A/B and debugging: SPARK_GRAFT_NO_CKPT_SANITIZER=1
# leaves the stock localCheckpoint untouched (read once at import).
if os.environ.get("SPARK_GRAFT_NO_CKPT_SANITIZER", "") != "1":
    _install_localcheckpoint_sanitizer()


# Shuffle partition count on any master other than `local[N]`.
_DEFAULT_SHUFFLE = 32
_LOCAL_N = re.compile(r"local\[(\d+)\]")

# 8 MB thread stacks: deep-but-bounded RDD graphs (iterative loops
# between periodic checkpoints) recurse in Java task (de)serialization
# and DAG walks; the JVM default (~1 MB) has little margin. The
# deserialization runs on executor threads, so both JVM roles get it.
# Virtual reservation only — no runtime cost.
_THREAD_STACK = "-Xss8m"
_JAVA_OPTIONS = ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")


def _default_shuffle_partitions(master: str) -> int:
    """`SPARK_GRAFT_SHUFFLE` when set, else N for a `local[N]` master,
    else 32 (the partition rule in the module docstring)."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE", "").strip()
    if env:
        return int(env)
    m = _LOCAL_N.fullmatch(master)
    return int(m.group(1)) if m else _DEFAULT_SHUFFLE


def _with_thread_stack(extra_conf: dict[str, str] | None) -> dict[str, str]:
    """`extra_conf` with `-Xss8m` appended to the driver and executor
    `extraJavaOptions`; a value that already sets `-Xss` is kept as is."""
    conf = dict(extra_conf or {})
    for key in _JAVA_OPTIONS:
        opts = conf.get(key, "").strip()
        if "-Xss" not in opts:
            conf[key] = f"{opts} {_THREAD_STACK}".lstrip()
    return conf


def get_spark(
    app_name: str = "wetric-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[32]``
    when unset); on a real cluster it is left to spark-submit.
    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_SHUFFLE``, else to
    N for a ``local[N]`` master, else to 32.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = _default_shuffle_partitions(master)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in _with_thread_stack(extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
