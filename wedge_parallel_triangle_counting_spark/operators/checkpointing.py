"""Checkpointed iterative-loop runner (north rule: iterative
algorithms run as checkpointed DataFrame loops with per-partition
lineage and metrics so any run is resumable mid-iteration).

Two layers:
- every iteration: `localCheckpoint()` truncates lineage so the plan
  doesn't grow linearly with iteration count (the distributed analogue
  of the reference's multi-launch chunking, tc_base.cu:332-356 —
  bounded work per "launch");
- every `checkpoint_every` iterations (when a directory is given):
  durable parquet snapshot + a JSON manifest recording iteration
  number, row count, per-partition row counts (lineage of the physical
  partitioning), and metric history. `resume()` restarts from the last
  snapshot after a crash.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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
    ) -> None:
        self.spark = spark
        self.name = name
        self.dir = checkpoint_dir
        self.every = max(checkpoint_every, 1)
        self.collect_partition_stats = collect_partition_stats
        # input/parameter fingerprint stored in the manifest; resume()
        # refuses a snapshot whose fingerprint differs (resuming an
        # iteration over a CHANGED input would silently continue from
        # stale state)
        self.fingerprint = fingerprint
        self.history: list[dict] = []
        self._t0 = time.time()

    # -- manifest helpers -------------------------------------------------
    def _manifest_path(self) -> str:
        assert self.dir is not None
        return os.path.join(self.dir, f"{self.name}.manifest.json")

    def resume(self) -> tuple[DataFrame, int] | None:
        """Return (state, next_iteration) from the last durable
        snapshot, or None if there is nothing to resume from."""
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

    # -- per-iteration hook ------------------------------------------------
    def step(self, df: DataFrame, iteration: int, eager: bool = True, **extra) -> DataFrame:
        """Truncate lineage; snapshot durably on cadence; record metrics.

        Returns the (possibly re-read) state DataFrame to carry forward.
        `eager=False` defers checkpoint materialization to the caller's
        next action (e.g. a convergence count) — one job per round
        instead of two when the caller counts immediately after."""
        df = df.localCheckpoint(eager=eager)
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
