"""One measured run of one workload, in a fresh process.

Started by run.py with the checkout root as working directory:

    python3 perfbench/child.py WORKLOAD DATA_DIR SEED SECONDS TRACE REPORT

Order of a run:

1. session set-up;
2. the cold pass, then the driver JVM's peak RSS so far;
3. the calibration probe;
4. two settle passes, while the JIT still compiles and Python workers
   start;
5. warm passes until SECONDS have passed, at least three. A traced run
   instead makes four: wrappers off, on, on, off. The difference of the
   two pairs is the tracing overhead, and the last traced pass gives
   the per-layer numbers. It then replays the captured operator calls;
6. three session set-ups, each after stopping the previous session.
   Settle and warm passes and set-ups each start once the session's
   CPU use has died down (host.wait_quiet, at most 2 s);
7. with Spark stopped, the DuckDB oracles (cached per input set) and the
   check of every execution's output.

The report JSON goes to REPORT; run.py prints the result line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import nullcontext


def _process_start() -> float:
    """This process's start as a time.time() value, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


T_START = _process_start()
T0_PERF = time.perf_counter() - (time.time() - T_START)

sys.path.insert(0, os.getcwd())

import host  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPEATS = 3
SETTLE_PASSES = 2
MIN_WARM_PASSES = 3


def _warmup(spark) -> None:
    """The first job of a session: the session is ready once it returns."""
    spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()


class Runner:
    def __init__(self, argv: list[str]):
        (self.wname, self.data_dir, seed, seconds, trace, self.report_path) = argv
        self.workload = WORKLOADS[self.wname]
        self.seed, self.seconds, self.trace = int(seed), float(seconds), trace == "1"
        self.tracer = layers.Tracer(f"{self.wname}-{seed}-{os.getpid()}")
        self.records: list[dict] = []
        self.outputs: list = []  # (record, pandas output) pairs, checked at the end
        self.tiers: dict[str, dict] = {}
        self.cold_counters: dict[str, float] = {}
        self.warm_counters: dict[str, float] = {}

    @staticmethod
    def since_start() -> float:
        return time.perf_counter() - T0_PERF

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer.enabled else nullcontext()

    def execute(self, query: str, tag: str) -> dict:
        """One timed execution of a workload query, then (untimed) the plan
        reading and, in traced runs, the job counts."""
        group = f"perfbench:{tag}:{query}"
        self.sc.setJobGroup(group, group)
        self.tracer.tag = tag
        rec = {"query": query, "pass": tag, "ok": False}
        self.records.append(rec)
        try:
            cpu0, t0 = host.session_cpu_s(), time.perf_counter()
            with self.span("queries.build"):
                df = self.reg[query].fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            with self.span("queries.exec"):
                pdf = df.toPandas()
            t2, cpu2 = time.perf_counter(), host.session_cpu_s()
        except Exception as e:  # noqa: BLE001 - a failed query is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            print(f"perfbench: {tag} {query} failed: {rec['error']}", file=sys.stderr, flush=True)
            return rec
        rec.update(ok=True, build_s=t1 - t0, exec_s=t2 - t1, total_s=t2 - t0, cpu_s=cpu2 - cpu0,
                   end=t2, cpu_at_end=cpu2)
        self.outputs.append((rec, pdf))
        print(f"perfbench: {tag} {query} {t2 - t0:.2f} s, {cpu2 - cpu0:.2f} cpu-s",
              file=sys.stderr, flush=True)
        if tag in ("cold", "warm"):
            stats = layers.plan_stats(df, with_metrics=self.trace)
            if tag == "cold":
                self.tiers[query] = {k: v for k, v in stats.items() if k.startswith("plan.")}
            if self.trace:
                stats.update(layers.job_counts(self.sc, group))
                bucket = self.cold_counters if tag == "cold" else self.warm_counters
                for k, v in stats.items():
                    bucket[k] = bucket.get(k, 0) + v
        return rec

    def run_pass(self, tag: str) -> tuple[float, float]:
        """(wall seconds, session CPU seconds) of one pass over the queries."""
        if tag != "cold":
            host.wait_quiet()
        recs = [self.execute(q, tag) for q in self.workload.queries]
        return sum(r.get("total_s", 0.0) for r in recs), sum(r.get("cpu_s", 0.0) for r in recs)

    def replay(self) -> dict[str, float]:
        """Each captured call once more, on inputs already materialized:
        build plus full execution (noop sink) of what it returns."""
        from pyspark.sql import DataFrame

        out = {}
        self.tracer.enabled = False
        for stem, _mod, _attr, replay in layers.TARGETS:
            if not replay or stem not in self.tracer.captured:
                continue
            fn, args, kwargs = self.tracer.captured[stem]
            frames = [a for a in (*args, *kwargs.values()) if isinstance(a, DataFrame)]
            for a in frames:
                a.cache().count()
            t0 = time.perf_counter()
            res = fn(*args, **kwargs)
            for r in res if isinstance(res, tuple) else (res,):
                if isinstance(r, DataFrame):
                    r.write.format("noop").mode("overwrite").save()
            out[f"{stem}_s"] = time.perf_counter() - t0
            for a in frames:
                a.unpersist()
        return out

    def check_outputs(self) -> None:
        """Compare every execution's output with its (cached) oracle."""
        queries = self.workload.queries
        oracle_dir = os.path.join(self.data_dir, "oracle")
        oracle.compute(self.data_dir, oracle_dir, queries)
        want = {q: oracle.load(oracle_dir, q) for q in queries}
        for rec, pdf in self.outputs:
            rec["mismatch"] = oracle.compare(pdf, want[rec["query"]])
            if rec["mismatch"]:
                print(f"perfbench: {rec['pass']} {rec['query']} differs from its oracle: "
                      f"{rec['mismatch']}", file=sys.stderr, flush=True)

    def main(self) -> None:
        load_before = host.loadavg()
        if self.trace:
            self.tracer.install()
            self.tracer.enabled = True
        from codex_africanus_spark import session
        from codex_africanus_spark.queries import registry

        self.reg = registry()
        self.tracer.tag = "setup"
        self.spark = session.get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        _warmup(self.spark)
        fresh_setup_s = time.time() - T_START
        marks = {"setup": fresh_setup_s}
        cold_s, cold_cpu_s = self.run_pass("cold")
        marks["cold_pass"] = self.since_start()
        first = next((r for r in self.records if r["ok"]), None)
        first_result_s = first["end"] - T0_PERF if first else float("nan")
        first_result_cpu_s = first["cpu_at_end"] if first else float("nan")
        rss_mb = host.jvm_peak_rss_mb(self.spark)
        calib_s = host.calibrate(self.spark)

        # the passes right after the cold one still pay JIT compilation and
        # Python worker start-up; they settle the process and are reported
        # apart
        self.tracer.enabled = False
        settle = [self.run_pass("settle") for _ in range(SETTLE_PASSES)]
        warm: list[tuple[float, float]] = []
        overhead_s = None
        if self.trace:
            # untraced, traced, traced, untraced: a drift that is still
            # linear over the four passes cancels out of the overhead
            a1, _ = self.run_pass("untraced")
            self.tracer.enabled = True
            b1, _ = self.run_pass("traced")
            warm.append(self.run_pass("warm"))
            self.tracer.enabled = False
            a2, _ = self.run_pass("untraced")
            overhead_s = (b1 + warm[0][0] - a1 - a2) / 2
        else:
            t_end = time.perf_counter() + self.seconds
            while len(warm) < MIN_WARM_PASSES or time.perf_counter() < t_end:
                warm.append(self.run_pass("warm"))
        marks["warm_passes"] = self.since_start()
        replays = self.replay() if self.trace else {}

        setups, setups_cpu, get_spark_s = [], [], []
        for _ in range(SETUP_REPEATS):
            self.spark.stop()
            host.wait_quiet()
            self.tracer.tag = "restart"
            self.tracer.enabled = self.trace
            cpu0, t0 = host.session_cpu_s(), time.perf_counter()
            self.spark = session.get_spark("perfbench")
            get_spark_s.append(time.perf_counter() - t0)
            self.spark.sparkContext.setLogLevel("ERROR")
            _warmup(self.spark)
            setups.append(time.perf_counter() - t0)
            setups_cpu.append(host.session_cpu_s() - cpu0)
        self.spark.stop()
        marks["restarts"] = self.since_start()
        load_after = host.loadavg()
        self.check_outputs()
        marks["oracle_check"] = self.since_start()

        report = {
            "workload": self.wname,
            "seed": self.seed,
            "trace": self.trace,
            "attempted": len(self.records),
            "failed": sum(not r["ok"] for r in self.records),
            "mismatched": sum(bool(r.get("mismatch")) for r in self.records),
            "e2e": {
                "setup_s": statistics.median(setups_cpu),
                "first_result_cpu_s": first_result_cpu_s,
                "cold_pass_cpu_s": cold_cpu_s,
                "warm_pass_cpu_s": statistics.median(c for _, c in warm),
                "driver_peak_rss_mb": rss_mb,
            },
            "setup_wall_s": statistics.median(setups),
            "first_result_s": first_result_s,
            "cold_pass_s": cold_s,
            "warm_pass_s": statistics.median(w for w, _ in warm),
            "warm_passes": warm,
            "settle_passes": settle,
            "fresh_setup_s": fresh_setup_s,
            "setups_s": setups,
            "setups_cpu_s": setups_cpu,
            "timeline_s": marks,
            "host": {
                "nproc": host.nproc(),
                "master": self.sc.master,
                "driver_memory": self.sc.getConf().get("spark.driver.memory"),
                "loadavg_before": load_before,
                "loadavg_after": load_after,
                "calib_s": calib_s,
                "calib_quiet_max_s": host.CALIB_QUIET_MAX_S,
                "contaminated": calib_s > host.CALIB_QUIET_MAX_S,
            },
            "tiers": self.tiers,
            "records": [{k: v for k, v in r.items() if k not in ("end", "cpu_at_end")}
                        for r in self.records],
        }
        if self.trace:
            report["layers"] = self.layer_metrics(get_spark_s, replays, overhead_s, calib_s)
            report["self_time_s"] = self.tracer.self_times()
            report["spans"] = self.tracer.dump()
        with open(self.report_path, "w") as f:
            json.dump(report, f, indent=1)

    def layer_metrics(self, get_spark_s, replays, overhead_s, calib_s) -> dict:
        tr = self.tracer
        out = {
            "session.get_spark_s": statistics.median(get_spark_s),
            "queries.build_s": tr.total("queries.build", "warm"),
            "queries.exec_s": tr.total("queries.exec", "warm"),
            "trace.overhead_s": overhead_s,
            "host.calib_s": calib_s,
        }
        for stem, _mod, _attr, replay in layers.TARGETS:
            if replay:
                out[f"{stem}_s"] = replays.get(f"{stem}_s", 0.0)
        counters = dict(self.warm_counters)
        # Python workers boot and initialise in the cold pass
        for k in ("spark.python.boot_s", "spark.python.init_s"):
            counters[k] = self.cold_counters.get(k, 0.0)
        for plan_key, name in (
            ("plan.exchanges", "spark.exchange.count"),
            ("plan.broadcast_exchanges", "spark.broadcast.count"),
            ("plan.map_in_pandas", "spark.map_in_pandas.count"),
            ("plan.aqe_stages", "spark.aqe.stages"),
        ):
            counters[name] = counters.pop(plan_key, 0)
        out.update(counters)
        return out


if __name__ == "__main__":
    Runner(sys.argv[1:]).main()
