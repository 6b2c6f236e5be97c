"""The repository's benchmark: one seeded, oracle-checked run of a workload.

    python3 perfbench/run.py --workload rime_batch --seed 1 --seconds 10 --trace 0

Run from the checkout root. Steps:

1. generate the workload's input tables from the seed (DuckDB; cached in
   .perfbench_work/data/<workload>-<seed>/ with a rows/bytes manifest);
2. run the workload in a fresh Python process on local[nproc]
   (perfbench/child.py), which afterwards checks every execution's output
   against its DuckDB oracle (cached beside the inputs) and writes a
   report to .perfbench_work/reports/;
3. print one summary line and, last, the result JSON:
   {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
   metrics are the end-to-end ones of BENCHMARK.json, with --trace 1
   the per-layer ones (from a run with span wrappers installed).

Exits non-zero, printing no result, when the program is not beside it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # every run must end within 180 s

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)


def spec_file() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare(workload, seed: int) -> str:
    """The generated input set of (workload, seed); oracle results are
    cached inside it by the workload process."""
    import gen

    data_dir = os.path.join(WORK, "data", f"{workload.name}-{seed}")
    if not os.path.exists(os.path.join(data_dir, "manifest.json")):
        gen.generate(data_dir, seed, workload.spec)
    return data_dir


def child_env(run_dir: str) -> dict:
    """Tier switches stay at their defaults; cores, memory and every
    temporary directory are pinned to this host and this checkout."""
    import host

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(host.nproc()),
        SPARK_DRIVER_MEMORY=host.DRIVER_MEMORY,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # no hsperfdata file under /tmp
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    return env


def run_child(args, data_dir: str, report: str, budget_s: float) -> int:
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = child_env(run_dir)
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"), args.workload, data_dir,
        str(args.seed), str(args.seconds), str(args.trace), report,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {budget_s:.0f} s, stopping it", file=sys.stderr)
        return -1
    finally:
        # the JVM and Python workers share the child's process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def result_line(rep: dict, trace: bool) -> dict:
    values = rep["layers"] if trace else rep["e2e"]
    metrics = {}
    for m in spec_file()["per_layer" if trace else "end_to_end"]:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            raise SystemExit(f"perfbench: metric {m['name']} missing from the report")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {
        "correct": rep["failed"] == 0 and rep["mismatched"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": metrics,
    }


def main() -> int:
    t0 = time.monotonic()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "codex_africanus_spark")):
        print("perfbench: run from a checkout root that holds codex_africanus_spark/",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    data_dir = prepare(WORKLOADS[args.workload], args.seed)
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    report = os.path.join(WORK, "reports", f"{args.workload}-{args.seed}-t{args.trace}.json")
    if os.path.exists(report):
        os.remove(report)
    code = run_child(args, data_dir, report, DEADLINE_S - (time.monotonic() - t0))
    if code != 0 or not os.path.exists(report):
        print(f"perfbench: workload process exited with {code}", file=sys.stderr)
        return 1
    with open(report) as f:
        rep = json.load(f)
    with open(os.path.join(data_dir, "manifest.json")) as f:
        tables = json.load(f)["tables"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "mismatched": rep["mismatched"],
        "failed_ratio": rep["failed"] / rep["attempted"],
        "oracle_mismatch_ratio": rep["mismatched"] / rep["attempted"],
        "setup_wall_s": rep["setup_wall_s"], "first_result_s": rep["first_result_s"],
        "cold_pass_s": rep["cold_pass_s"], "warm_pass_s": rep["warm_pass_s"],
        "warm_passes": rep["warm_passes"],
        "host": rep["host"], "tiers": rep["tiers"], "input": tables,
        "report": os.path.relpath(report, ROOT),
    }))
    print(json.dumps(result_line(rep, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
