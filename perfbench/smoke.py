"""Self-test of the benchmark on tiny inputs (R-MAT scale 8, 2,000 pages).

    python3 perfbench/smoke.py [workload ...]

Run from the checkout root. For every workload (default: all three) it
runs the benchmark once untraced and twice traced on one seed, and
checks that:
- every query matched its oracle and the result line is well formed;
- each mode prints exactly the metrics BENCHMARK.json lists, with the
  units it lists;
- the counts a later change may cite (`<op>.jobs`, `sources.rows`,
  `ingest.links`, `ingest.vertices`) repeat exactly across the two
  traced runs.
It also checks the numpy components oracle against
`plans/oracles.components_sql`, and that the benchmark exits non-zero
without a result in a directory that holds only the benchmark.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SEED = 3
REPEATABLE = ("sources.rows", "ingest.links", "ingest.vertices")


def bench(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result, proc.stderr


def run_workload(workload: str, spec: dict, failures: list[str]) -> None:
    def fail(msg: str) -> None:
        failures.append(f"{workload}: {msg}")

    common = ["--workload", workload, "--seed", str(SEED), "--seconds", "1", "--smoke"]
    traced = []
    for trace, section in ((0, "end_to_end"), (1, "per_layer"), (1, "per_layer")):
        rc, res, err = bench([*common, "--trace", str(trace)])
        if rc != 0 or res is None:
            fail(f"--trace {trace} exited {rc} without a result\n{err[-2000:]}")
            return
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"result keys {sorted(res)}")
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            fail(f"--trace {trace}: {res['failed']}/{res['attempted']} queries failed")
        want = {m["name"]: m["unit"] for m in spec[section]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            fail(f"--trace {trace} metrics differ from BENCHMARK.json {section}: "
                 f"{sorted(set(got) ^ set(want))}")
        if trace:
            traced.append({k: v["value"] for k, v in res["metrics"].items()})
    if len(traced) == 2:
        a, b = traced
        counts = [k for k in a if k.endswith(".jobs") or k in REPEATABLE]
        differ = {k: (a[k], b[k]) for k in counts if a[k] != b[k]}
        if differ:
            fail(f"counts differ across two traced runs of seed {SEED}: {differ}")
    print(f"{workload}: checked", flush=True)


def check_components_oracle(failures: list[str]) -> None:
    sys.path[:0] = [ROOT, HERE]
    import oracle

    con = oracle.connect(2)
    raw = oracle.load_rmat(con, 8, SEED)
    if not oracle.same_frame(
        oracle.components(con, raw), oracle.components_sql(con, raw), "component"
    ):
        failures.append("numpy components oracle disagrees with components_sql")
    con.close()


def check_bare_directory(failures: list[str]) -> None:
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, res, _err = bench(
            ["--workload", "rmat_triangles", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or res is not None:
        failures.append(f"outside a checkout the benchmark exited {rc} with result {res}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or ["rmat_triangles", "rmat_loops", "crawl_rank"]
    failures: list[str] = []
    check_bare_directory(failures)
    check_components_oracle(failures)
    for w in workloads:
        run_workload(w, spec, failures)
    for msg in failures:
        print("FAIL " + msg)
    print("smoke: " + ("FAILED" if failures else "all checks passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
