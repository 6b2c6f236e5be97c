"""Per-layer measurement from outside the program.

- `Tracer` keeps spans (name, start, end, parent, run id) in memory. In a
  traced run it wraps the public functions listed in `TARGETS` in every
  loaded `codex_africanus_spark` module that references them, so calls
  made by other modules are recorded too. The program's files are not
  touched; untraced runs never install the wrappers.
- `plan_stats` walks a DataFrame's executed (final AQE) plan after the
  DataFrame's own action ran, and returns node counts plus the summed SQL
  metrics of that plan.
- `job_counts` reads the status tracker for the jobs of one job group.
"""

from __future__ import annotations

import importlib
import sys
import time
from dataclasses import dataclass

# (metric stem, module, function, replayed on materialized inputs)
TARGETS = (
    ("session.get_spark", "codex_africanus_spark.session", "get_spark", False),
    ("sources.tpch_ms.vis_table", "codex_africanus_spark.sources.tpch_ms", "vis_table", True),
    ("sources.tables.load", "codex_africanus_spark.sources.tables", "load", True),
    ("operators.predict.predict_point_vis", "codex_africanus_spark.operators.predict", "predict_point_vis", True),
    ("operators.predict.apply_gains", "codex_africanus_spark.operators.predict", "apply_gains", True),
    ("operators.dedup.minhash_signatures", "codex_africanus_spark.operators.dedup", "minhash_signatures", True),
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    tag: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. `tag` labels the pass a span belongs to."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.tag = ""
        self.enabled = False
        self._stack: list[int] = []
        # first call of each replayable target: (fn, args, kwargs)
        self.captured: dict[str, tuple] = {}

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.id = len(tracer.spans)
                parent = tracer._stack[-1] if tracer._stack else None
                tracer.spans.append(Span(self.id, name, time.perf_counter(), 0.0, parent,
                                         tracer.run_id, tracer.tag))
                tracer._stack.append(self.id)
                return self

            def __exit__(self, *exc):
                tracer._stack.pop()
                tracer.spans[self.id].end = time.perf_counter()
                return False

        return _Ctx()

    def wrap(self, name: str, fn, replay: bool):
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if replay and name not in self.captured:
                self.captured[name] = (fn, args, kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        traced.__doc__ = fn.__doc__
        return traced

    def install(self) -> None:
        """Wrap every TARGETS function wherever a program module holds it."""
        for name, mod_name, attr, replay in TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            wrapped = self.wrap(name, fn, replay)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("codex_africanus_spark") \
                        and getattr(m, attr, None) is fn:
                    setattr(m, attr, wrapped)

    def total(self, name: str, tag: str | None = None) -> float:
        return sum(s.dur for s in self.spans if s.name == name and (tag is None or s.tag == tag))

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child[s.id]
        return out

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


# ---------------------------------------------------------------- plans

# SQL metric name -> counter it is summed into
PLAN_METRICS = {
    ("Exchange", "shuffleBytesWritten"): "spark.exchange.bytes_written",
    ("Exchange", "shuffleWriteTime"): "spark.exchange.write_time_s",
    ("BroadcastExchange", "dataSize"): "spark.broadcast.bytes",
    ("BroadcastExchange", "buildTime"): "spark.broadcast.build_s",
    ("*", "scanTime"): "spark.scan.time_s",
    ("*", "aggTime"): "spark.agg.time_s",
    ("*", "pythonBootTime"): "spark.python.boot_s",
    ("*", "pythonInitTime"): "spark.python.init_s",
    ("*", "pythonTotalTime"): "spark.python.total_s",
    ("*", "pythonDataSent"): "spark.python.bytes_sent",
    ("*", "pythonDataReceived"): "spark.python.bytes_received",
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _plan_children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    return _seq(node.children()) + _seq(node.subqueries())


def plan_stats(df, with_metrics: bool) -> dict:
    """Node counts of df's executed plan (tier visibility) and, with
    `with_metrics`, its SQL metrics summed into the PLAN_METRICS names.
    Reused exchanges are not descended into, so no metric counts twice."""
    out = {"plan.map_in_pandas": 0, "plan.exchanges": 0,
           "plan.broadcast_exchanges": 0, "plan.aqe_stages": 0}
    if with_metrics:
        out.update({v: 0.0 for v in PLAN_METRICS.values()})
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            continue
        name = node.nodeName()
        if cls in ("MapInPandasExec", "MapInArrowExec", "PythonMapInArrowExec"):
            out["plan.map_in_pandas"] += 1
        elif cls == "ShuffleExchangeExec":
            out["plan.exchanges"] += 1
        elif cls == "BroadcastExchangeExec":
            out["plan.broadcast_exchanges"] += 1
        elif cls.endswith("QueryStageExec"):
            out["plan.aqe_stages"] += 1
        if with_metrics:
            metrics = node.metrics()
            for key in str(metrics.keySet().mkString("\t")).split("\t"):
                target = PLAN_METRICS.get((name, key)) or PLAN_METRICS.get(("*", key))
                if target:
                    m = metrics.apply(key)
                    out[target] += m.value() * _SCALE.get(m.metricType(), 1)
        stack.extend(_plan_children(node))
    return out


def job_counts(sc, group: str) -> dict:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st and st.numCompletedTasks:
                stages += 1
                tasks += st.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}
