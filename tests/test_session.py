"""session.get_spark: the shuffle-partition rule (one partition per
core on `local[N]`, overridable) and the merged JVM thread-stack
option."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from wedge_parallel_triangle_counting_spark import session as S

REPO = Path(__file__).resolve().parents[1]

# Each case starts a fresh session in ONE child process (the test
# process already holds a session, and getOrCreate would return it).
_PROBE = """
import json, os, sys
from wedge_parallel_triangle_counting_spark.session import get_spark
out = {}
for label, env, master in json.loads(sys.argv[1]):
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.environ.update(env)
    spark = get_spark(app_name="partition-rule", master=master)
    out[label] = [
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    ]
    spark.stop()
print("RULE " + json.dumps(out))
"""


def test_get_spark_partition_rule_subprocess():
    cases = [
        ["cpus", {"SPARK_GRAFT_CPUS": "3"}, None],
        ["shuffle", {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_SHUFFLE": "5"}, None],
        ["master", {}, "local[6]"],
    ]
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE")
    }
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, json.dumps(cases)],
        cwd=str(REPO),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("RULE "))
    got = json.loads(line[len("RULE "):])
    assert got == {"cpus": [3, 3], "shuffle": [5, 3], "master": [6, 6]}


def test_partition_rule_masters(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    assert S._default_shuffle_partitions("local[6]") == 6
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]"):
        assert S._default_shuffle_partitions(master) == 32
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "5")
    assert S._default_shuffle_partitions("local[6]") == 5
    assert S._default_shuffle_partitions("yarn") == 5


def test_thread_stack_merged_into_java_options():
    drv, exe = "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"
    assert S._with_thread_stack(None) == {drv: "-Xss8m", exe: "-Xss8m"}
    given = {drv: "-Dlog4j.configuration=x.properties", "spark.ui.enabled": "true"}
    merged = S._with_thread_stack(given)
    assert merged == {
        drv: "-Dlog4j.configuration=x.properties -Xss8m",
        exe: "-Xss8m",
        "spark.ui.enabled": "true",
    }
    assert given == {drv: "-Dlog4j.configuration=x.properties", "spark.ui.enabled": "true"}
    # an explicit stack size is the caller's choice and stays alone
    assert S._with_thread_stack({exe: "-Xss16m"})[exe] == "-Xss16m"
