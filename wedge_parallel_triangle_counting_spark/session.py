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

Importing the package changes nothing in PySpark itself: loop lineage
truncation, with its Spark-internal safety fixes, is an explicit call
to `operators.checkpointing.checkpoint`, and user code keeps PySpark's
own `DataFrame.localCheckpoint`.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

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
