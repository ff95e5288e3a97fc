"""Driver-local lane crossover: the numpy lane against the Spark lane of
one operator on R-MAT edge tables (edge factor 16, seed 1) read back
from parquet — the measurement behind `checkpointing.LOCAL_LANE_MAX_EDGES`
(--op pagerank) and `checkpointing.LOCAL_LANE_MAX_WEDGES` (--op
triangles).

- pagerank: 10-round `pagerank(e).toPandas()`; the local lane runs the
  rounds in numpy, the Spark lane the DataFrame loop.
- triangles: `triangle_count(e).collect()`; both lanes collect the edges
  once, then the local lane counts on the driver threads and the Spark
  lane in its one count job.

Each run is a fresh child process: a session at the given master, one
untimed warm-up of the operator on the scale-14 table, then one timed
run with the lane pinned. Lanes alternate order from rep to rep. Prints
one RESULT JSON line per run (wall time, the driver's Python peak RSS,
its JVM's peak RSS and the operator's lane verdict) and a median table
at the end.

Usage: python tools/bench_lanes.py WORK_DIR [--op pagerank|triangles]
           [--reps N] [--masters local[4],local[32]] SCALE [SCALE ...]
WORK_DIR holds the generated parquet (made once, reused).
"""

from __future__ import annotations

import argparse
import collections
import json
import logging
import os
import resource
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ITERS = 10
WARM_SCALE = 14


def table(work: str, scale: int) -> str:
    return os.path.join(work, f"rmat_s{scale}_e16.parquet")


def generate(work: str, scales: list[int]) -> None:
    from wedge_parallel_triangle_counting_spark.session import get_spark
    from wedge_parallel_triangle_counting_spark.sources.rmat import synth_rmat

    missing = [s for s in scales if not os.path.exists(table(work, s))]
    if not missing:
        return
    spark = get_spark(app_name="lanes-gen", master="local[4]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    for s in missing:
        synth_rmat(spark, scale=s, edge_factor=16, seed=1).write.parquet(table(work, s))
    spark.stop()


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def pin(op: str, lane: str) -> None:
    """Pin `op` to `lane` through the checkpointing module's gates."""
    from wedge_parallel_triangle_counting_spark.operators import checkpointing as CP

    if op == "pagerank":
        if lane == "local":
            CP.plan_size_bytes = lambda df: 0
            CP.LOCAL_LANE_MAX_EDGES = 1 << 40
        else:
            CP.LOCAL_LANE_MAX_EDGES = 0
    else:
        CP.plan_size_bytes = lambda df: 0  # both lanes collect first
        CP.LOCAL_LANE_MAX_WEDGES = 1 << 62 if lane == "local" else 0


def run_op(op: str, e):
    if op == "pagerank":
        from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank

        return len(pagerank(e, num_iters=ITERS).toPandas())
    from wedge_parallel_triangle_counting_spark.operators.triangles import triangle_count

    return triangle_count(e).collect()[0][0]


def child(work: str, op: str, scale: int, master: str, lane: str) -> None:
    from wedge_parallel_triangle_counting_spark.operators import checkpointing as CP
    from wedge_parallel_triangle_counting_spark.session import get_spark

    verdicts: list[str] = []
    handler = logging.Handler()
    handler.emit = lambda r: verdicts.append(r.getMessage())
    logging.getLogger(CP.__name__).addHandler(handler)
    logging.getLogger(CP.__name__).setLevel(logging.INFO)
    pin(op, lane)
    spark = get_spark(app_name="lanes", master=master,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    run_op(op, spark.read.parquet(table(work, WARM_SCALE)))
    e = spark.read.parquet(table(work, scale))
    rows = e.count()
    t0 = time.perf_counter()
    out = run_op(op, e)
    wall = time.perf_counter() - t0
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    print("RESULT " + json.dumps({
        "op": op, "scale": scale, "rows": rows, "master": master, "lane": lane,
        "wall_s": round(wall, 3), "result": out,
        "py_peak_mb": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
        "jvm_peak_mb": round(peak_rss_mb(jvm)),
        "verdict": verdicts[-1] if verdicts else None,
    }), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("work")
    ap.add_argument("scales", nargs="+", type=int)
    ap.add_argument("--op", choices=("pagerank", "triangles"), default="pagerank")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--masters", default="local[4],local[32]")
    ap.add_argument("--child", nargs=2, metavar=("MASTER", "LANE"))
    a = ap.parse_args()
    if a.child:
        child(a.work, a.op, a.scales[0], *a.child)
        return
    os.makedirs(a.work, exist_ok=True)
    generate(a.work, sorted({WARM_SCALE, *a.scales}))
    walls = collections.defaultdict(list)
    for scale in a.scales:
        for master in a.masters.split(","):
            for rep in range(a.reps):
                for lane in ("local", "spark") if rep % 2 == 0 else ("spark", "local"):
                    p = subprocess.run(
                        [sys.executable, __file__, a.work, str(scale), "--op", a.op,
                         "--child", master, lane],
                        capture_output=True, text=True,
                    )
                    got = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
                    if not got:
                        sys.exit(f"run failed: {scale} {master} {lane}\n{p.stderr[-2000:]}")
                    print(got[-1], flush=True)
                    rec = json.loads(got[-1][7:])
                    walls[(rec["rows"], master, lane)].append(rec["wall_s"])
    print(f"| {a.op} edges | master | local s | spark s |\n|---|---|---|---|")
    for rows, master in sorted({(r, m) for r, m, _ in walls}):
        med = {lane: statistics.median(walls[(rows, master, lane)]) for lane in ("local", "spark")}
        print(f"| {rows} | {master} | {med['local']:.2f} | {med['spark']:.2f} |")


if __name__ == "__main__":
    main()
