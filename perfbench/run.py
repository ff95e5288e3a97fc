"""Benchmark of the link-graph engine: one workload per process.

    python3 perfbench/run.py --workload rmat_triangles --seed 1 --seconds 10 --trace 0

Run from the root of a checkout; the engine package is imported from
there. One client issues one query at a time (a closed loop) on
`local[<cpus available>]`; every other engine setting keeps its
default. Every query's answer is checked against a DuckDB oracle
computed once per seed, outside the timed regions.

--trace 0 prints the end-to-end metrics:
  setup_s      median over several session starts of (session start +
               input generation and materialization), plus the warm-up
               queries that follow the last one
  pass_s       sum over the workload's queries of each query's median
               wall time, from the DataFrame going in to the
               driver-side result
  edges_per_s  input edge rows / pass_s
--trace 1 runs a session with the Spark event log on, rolls the log up
per job group (one group per query), and prints per-layer metrics:
counts (jobs, stages, tasks) from the first timed query of each type,
which repeat exactly for one seed, and medians of everything else.
A second, untraced session then times the same window, and
trace.overhead = traced pass_s / untraced pass_s - 1. The untraced
session runs second on a warmer JVM, so the figure leans high.

The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}; the lines before it
name every metric with its unit, the per-query sample counts and the
host context.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from statistics import median

PACKAGE = "wedge_parallel_triangle_counting_spark"
SETUPS = 3
OPS_ALL = ("triangles", "pagerank", "components", "labelprop", "ingest", "pagerank_durable")
ENGINE = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("peak_exec_mem_mb", "MB"),
    ("skew", "ratio"),
    ("core_busy", "ratio"),
    ("driver_s", "s"),
    ("wall_s", "s"),
)
PY_OPS = ("triangles", "ingest")
PY = (("py_mb_in", "MB"), ("py_mb_out", "MB"), ("py_run_s", "s"), ("py_start_s", "s"))
LAYER = (
    ("session.start_s", "s"),
    ("sources.gen_s", "s"),
    ("sources.rows", "count"),
    ("sinks.write_s", "s"),
    ("sinks.mb", "MB"),
    ("ingest.links", "count"),
    ("ingest.vertices", "count"),
    ("triangles.prep_s", "s"),
    ("triangles.build_s", "s"),
    ("triangles.exec_s", "s"),
    ("wedge.enumerate_cpu_s", "s"),
    ("wedge.probe_cpu_s", "s"),
    ("wedge.closure_ratio", "ratio"),
    ("checkpoint.snapshot_mb", "MB"),
    ("trace.overhead", "ratio"),
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit; ops a workload does not
    run report 0."""
    from workloads import ROUNDS  # ops with a fixed round count

    units = dict(LAYER)
    for op in OPS_ALL:
        units.update({f"{op}.{k}": u for k, u in ENGINE})
    for op in PY_OPS:
        units.update({f"{op}.{k}": u for k, u in PY})
    units.update({f"{op}.jobs_per_round": "count" for op in ROUNDS})
    return units


END_TO_END = {"setup_s": "s", "pass_s": "s", "edges_per_s": "1/s"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(root: str, work: str) -> None:
    """Process environment the session and its Python workers inherit:
    the CPU count, scratch space inside the checkout, and the checkout
    on the workers' import path (pandas UDFs unpickle package code)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # the JVM's perf-data file would go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def source_digest(root: str) -> str:
    h = hashlib.sha1()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:12]


def git_rev(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def process_tree() -> list[list[str]]:
    """/proc/<pid>/stat fields (from the state field on) of this process
    and its descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stats[int(name)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, fields in stats.items():
            if int(fields[1]) == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return [stats[p] for p in tree if p in stats]


TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds this process tree has used: user + system time of the
    live processes and of the children they reaped (the JVM reaps the
    Python workers)."""
    return sum(sum(int(x) for x in f[11:15]) for f in process_tree()) / TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests, summed over
    this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


class TreeRss(threading.Thread):
    """Samples the summed RSS of this process and its descendants once a
    second; `peak_mb` is the largest sum seen."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._stop_ev = threading.Event()

    def _sample(self) -> float:
        pages = sum(int(f[21]) for f in process_tree())
        return pages * os.sysconf("SC_PAGE_SIZE") / 1e6

    def run(self) -> None:
        while not self._stop_ev.wait(1.0):
            self.peak_mb = max(self.peak_mb, self._sample())

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=10)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, work: str, smoke: bool):
        from workloads import WORKLOADS

        self.wl = WORKLOADS[workload](seed, work, smoke)
        self.seconds = seconds
        self.work = work
        self.cores = cpus()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.wall: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}
        self.queries: list[tuple[str, str, float, float]] = []  # (op, group, t0, t1)

    # -- sessions ---------------------------------------------------------
    def start(self, extra_conf: dict | None = None) -> tuple[float, float, int]:
        """Stop the current session, start a new one and build the inputs
        in it; returns (start_s, gen_s, input rows)."""
        from wedge_parallel_triangle_counting_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        rows = self.wl.setup(self.spark)
        return t1 - t0, time.perf_counter() - t1, rows

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def oracle(self) -> None:
        import oracle

        con = oracle.connect(self.cores)
        try:
            self.wl.expect(con)
        finally:
            con.close()

    # -- queries ----------------------------------------------------------
    def reset(self) -> None:
        self.wall = {op: [] for op in self.wl.ops}
        self.cpu = {op: [] for op in self.wl.ops}
        self.steal = {op: [] for op in self.wl.ops}
        self.layer = {}
        self.queries = []

    def query(self, op: str, phase: str, k: int) -> None:
        sc = self.spark.sparkContext
        self.wl.prepare(op)
        group = f"{op}/{phase}/{k}"
        self.attempted += 1
        try:
            sc.setJobGroup(group, op)
            c0, s0 = tree_cpu_s(), steal_s()
            t0 = time.time()
            p0 = time.perf_counter()
            try:
                result = self.wl.run(op)
            finally:
                wall = time.perf_counter() - p0
                t1 = time.time()
                cpu, steal = tree_cpu_s() - c0, steal_s() - s0
                sc.setLocalProperty("spark.jobGroup.id", None)
            value, layer = self.wl.settle(op, result)
            ok = self.wl.check(op, value)
            if not ok:
                print(f"oracle mismatch: {op} ({phase} {k})", file=sys.stderr)
        except Exception:  # a failed query is counted, and the run goes on
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            return
        if phase == "timed":
            self.wall[op].append(wall)
            self.cpu[op].append(cpu)
            self.steal[op].append(steal)
            self.queries.append((op, group, t0, t1))
            for name, v in layer.items():
                self.layer.setdefault(name, []).append(v)

    def warm_up(self) -> float:
        t = time.perf_counter()
        ops = self.wl.ops * self.wl.warmup_passes + self.wl.warmup_extra
        walls = []
        for k, op in enumerate(ops):
            q = time.perf_counter()
            self.query(op, "warmup", k)
            walls.append(round(time.perf_counter() - q, 3))
        print(f"warm-up {list(zip(ops, walls))}")
        return time.perf_counter() - t

    def window(self) -> None:
        """Closed loop over the pinned query order until `seconds` have
        passed and every query type has been issued."""
        self.reset()
        deadline = time.perf_counter() + self.seconds
        k = 0
        ops = self.wl.ops
        while time.perf_counter() < deadline or k < len(ops):
            self.query(ops[k % len(ops)], "timed", k)
            k += 1

    def pass_s(self) -> float:
        return sum(median(v) for v in self.wall.values() if v)

    # -- modes ------------------------------------------------------------
    def untraced(self) -> dict:
        setups = []
        for _ in range(SETUPS):
            start_s, gen_s, _rows = self.start()
            setups.append(start_s + gen_s)
        t = time.perf_counter()
        self.oracle()
        print(f"oracle {time.perf_counter() - t:.3f} s")
        warm = self.warm_up()
        self.window()
        self.report_queries()
        pass_s = self.pass_s()
        print(f"setup_s = median{[round(s, 3) for s in setups]} + warm-up {warm:.3f}")
        return {
            "setup_s": median(setups) + warm,
            "pass_s": pass_s,
            "edges_per_s": self.wl.input_rows() / pass_s if pass_s else 0.0,
        }

    def traced(self) -> dict:
        import eventlog
        from workloads import ROUNDS

        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        start_s, gen_s, rows = self.start(eventlog.event_log_conf(log_dir))
        self.oracle()
        self.warm_up()
        self.window()
        self.report_queries()
        traced_pass = self.pass_s()
        layer, queries = self.layer, self.queries
        self.spark.stop()  # flushes and closes the event log
        self.spark = None
        groups = eventlog.read_groups(log_dir)

        self.start()
        self.warm_up()
        self.window()
        plain_pass = self.pass_s()
        print(f"tracing overhead: traced pass {traced_pass:.4f} s, untraced {plain_pass:.4f} s")

        units = per_layer_units()
        m = {name: 0.0 for name in units}
        m["session.start_s"] = start_s
        m["sources.gen_s"] = gen_s
        m["sources.rows"] = rows
        m["trace.overhead"] = traced_pass / plain_pass - 1 if plain_pass else 0.0
        for name, vals in layer.items():
            m[name] = median(vals)
        if "wedges" in self.wl.expected:
            m["wedge.closure_ratio"] = self.wl.expected["triangles"] / max(
                self.wl.expected["wedges"], 1
            )
        for op in self.wl.ops:
            recs = [
                {**eventlog.query_record(groups[g], t0, t1, self.cores), "wall_s": t1 - t0}
                for o, g, t0, t1 in queries
                if o == op
            ]
            if not recs:
                continue
            r = eventlog.roll_up(recs)
            for k, _u in ENGINE:
                m[f"{op}.{k}"] = r[k]
            if op in PY_OPS:
                for k, _u in PY:
                    m[f"{op}.{k}"] = r[k]
            if op in ROUNDS:
                m[f"{op}.jobs_per_round"] = r["jobs"] / ROUNDS[op]
            if op == "ingest":
                m["sinks.write_s"] = r["write_s"]
        return m

    def report_queries(self) -> None:
        """Per-query medians with their sample counts; a tail percentile
        only where at least ten samples lie beyond it."""
        for op, vals in self.wall.items():
            n = len(vals)
            if not n:
                print(f"{op}_s n/a (no successful query)")
                continue
            line = f"{op}_s {median(vals):.4f} s (median of {n} queries"
            tails = [p for p in (99, 90) if n * (100 - p) / 100 >= 10]
            if tails:
                line += f"; p{tails[0]} {sorted(vals)[int(n * tails[0] / 100)]:.4f} s"
            print(line + ")")
            print(f"{op}_s samples {[round(v, 3) for v in vals]}")
            # CPU seconds of the whole process tree, and the share of the
            # cores' time the hypervisor gave to other guests: a run on a
            # busy host reads slow, and this says so
            print(f"{op} cpu_s samples {[round(v, 3) for v in self.cpu[op]]}")
            print(f"{op} steal_share {sum(self.steal[op]) / (sum(vals) * self.cores):.4f}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"run from a checkout root: {PACKAGE}/ not found in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(root, work)
    import pyspark

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus(),
        "loadavg_start": os.getloadavg(),
        "git_rev": git_rev(root),
        "source_digest": source_digest(root),
        "pyspark": pyspark.__version__,
    }
    rss = TreeRss() if args.trace else None
    if rss:
        rss.start()
    bench = Bench(args.workload, args.seed, args.seconds, work, args.smoke)
    try:
        metrics = bench.traced() if args.trace else bench.untraced()
    finally:
        bench.shutdown()
        if rss:
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    context["loadavg_end"] = os.getloadavg()
    context["expected"] = {
        k: v for k, v in bench.wl.expected.items() if isinstance(v, (int, dict))
    }
    if rss:
        context["peak_tree_rss_mb"] = round(rss.peak_mb, 1)
    context["failed_ratio"] = bench.failed / max(bench.attempted, 1)
    units = per_layer_units() if args.trace else END_TO_END
    for name, unit in units.items():
        print(f"{name} {metrics[name]:.6g} {unit}")
    print(f"failed_ratio {context['failed_ratio']:.6g} ({bench.failed}/{bench.attempted})")
    print("context " + json.dumps(context))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    name: {"value": float(metrics[name]), "unit": unit}
                    for name, unit in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
