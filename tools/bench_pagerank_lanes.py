"""PageRank lane crossover: the driver-local numpy lane against the Spark
lane on R-MAT edge tables (edge factor 16) read back from parquet — the
measurement behind `checkpointing.LOCAL_LANE_MAX_EDGES`.

Each run is a fresh child process: a session at the given master, one
untimed warm-up PageRank on the scale-14 table, then one timed
10-round `pagerank(e).toPandas()` with the lane pinned. Lanes alternate
order from rep to rep. Prints one RESULT JSON line per run (wall time,
the driver's Python peak RSS and its JVM's peak RSS) and a median
table at the end.

Usage: python tools/bench_pagerank_lanes.py WORK_DIR [--reps N]
           [--masters local[4],local[32]] SCALE [SCALE ...]
WORK_DIR holds the generated parquet (made once, reused).
"""

from __future__ import annotations

import argparse
import collections
import json
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


def child(work: str, scale: int, master: str, lane: str) -> None:
    from wedge_parallel_triangle_counting_spark.operators import checkpointing as CP
    from wedge_parallel_triangle_counting_spark.operators.pagerank import pagerank
    from wedge_parallel_triangle_counting_spark.session import get_spark

    if lane == "local":
        CP.plan_size_bytes = lambda df: 0
        CP.LOCAL_LANE_MAX_EDGES = 1 << 40
    else:
        CP.LOCAL_LANE_MAX_EDGES = 0
    spark = get_spark(app_name="lanes", master=master,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    pagerank(spark.read.parquet(table(work, WARM_SCALE)), num_iters=ITERS).toPandas()
    e = spark.read.parquet(table(work, scale))
    rows = e.count()
    t0 = time.perf_counter()
    out = pagerank(e, num_iters=ITERS).toPandas()
    wall = time.perf_counter() - t0
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    print("RESULT " + json.dumps({
        "scale": scale, "rows": rows, "master": master, "lane": lane,
        "wall_s": round(wall, 3), "vertices": len(out),
        "py_peak_mb": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
        "jvm_peak_mb": round(peak_rss_mb(jvm)),
    }), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("work")
    ap.add_argument("scales", nargs="+", type=int)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--masters", default="local[4],local[32]")
    ap.add_argument("--child", nargs=2, metavar=("MASTER", "LANE"))
    a = ap.parse_args()
    if a.child:
        child(a.work, a.scales[0], *a.child)
        return
    os.makedirs(a.work, exist_ok=True)
    generate(a.work, sorted({WARM_SCALE, *a.scales}))
    walls = collections.defaultdict(list)
    for scale in a.scales:
        for master in a.masters.split(","):
            for rep in range(a.reps):
                for lane in ("local", "spark") if rep % 2 == 0 else ("spark", "local"):
                    p = subprocess.run(
                        [sys.executable, __file__, a.work, str(scale), "--child", master, lane],
                        capture_output=True, text=True,
                    )
                    got = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
                    if not got:
                        sys.exit(f"run failed: {scale} {master} {lane}\n{p.stderr[-2000:]}")
                    print(got[-1], flush=True)
                    rec = json.loads(got[-1][7:])
                    walls[(rec["rows"], master, lane)].append(rec["wall_s"])
    print("| edges | master | local s | spark s |\n|---|---|---|---|")
    for rows, master in sorted({(r, m) for r, m, _ in walls}):
        med = {lane: statistics.median(walls[(rows, master, lane)]) for lane in ("local", "spark")}
        print(f"| {rows} | {master} | {med['local']:.2f} | {med['spark']:.2f} |")


if __name__ == "__main__":
    main()
