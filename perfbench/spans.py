"""Spans around the calls into each layer, plus Spark's own counters.

A span is (id, name, start, end, parent, run). Spans nest on one stack:
the benchmark is a single closed-loop client, so every call it makes runs
on the driver thread. While a span is open, Spark jobs run under the job
group ``<run>-<span id>``, so the status store attributes every job, and
through it every stage, to the innermost open span. After each top-level
operation the tracer waits for Spark's listener bus to drain and copies
the stage counters of that operation's jobs into its spans.

Tracing off (``enabled=False``) keeps only the span timings the
end-to-end metrics need and touches no job group or status store.
"""

from __future__ import annotations

import contextlib
import json
import time

from py4j.protocol import Py4JJavaError

# StageData getter → (counter name, scale to seconds or MB).
STAGE_COUNTERS = (
    ("numTasks", "tasks", 1),
    ("numFailedTasks", "failed_tasks", 1),
    ("executorRunTime", "run_s", 1e-3),
    ("executorCpuTime", "cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("inputBytes", "input_mb", 1 / 2**20),
    ("outputBytes", "output_mb", 1 / 2**20),
    ("outputRecords", "output_records", 1),
    ("shuffleReadBytes", "shuffle_read_mb", 1 / 2**20),
    ("shuffleWriteBytes", "shuffle_write_mb", 1 / 2**20),
    ("memoryBytesSpilled", "spill_mb", 1 / 2**20),
    ("diskBytesSpilled", "spill_mb", 1 / 2**20),
)
# SQL metrics of Python-evaluation plan nodes → (counter name, scale).
PYTHON_NODE_METRICS = {
    "pythonTotalTime": ("python_s", 1e-3),
    "pythonInitTime": ("python_init_s", 1e-3),
    "pythonBootTime": ("python_init_s", 1e-3),
    "pythonDataSent": ("arrow_sent_mb", 1 / 2**20),
    "pythonDataReceived": ("arrow_recv_mb", 1 / 2**20),
}


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


class Tracer:
    def __init__(self, spark, run_id: str, *, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []  # spans whose jobs are not read yet
        self.overhead_s = 0.0  # driver time spent setting job groups and reading counters

    # -- spans ----------------------------------------------------------------

    def begin(self, name: str, **attrs) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            t0 = time.perf_counter()
            self._set_group(rec)
            self._pending.append(rec)
            self.overhead_s += time.perf_counter() - t0
        return rec

    def end(self, rec: dict) -> None:
        """Close ``rec`` and any span still open inside it."""
        while self._stack:
            top = self._stack.pop()
            top["end"] = time.perf_counter()
            if top is rec:
                break
        if self.enabled:
            t0 = time.perf_counter()
            if self._stack:
                self._set_group(self._stack[-1])
            else:
                self.spark.sparkContext._jsc.clearJobGroup()
                self._collect()
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self.begin(name, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    def _group(self, rec: dict) -> str:
        return f"{self.run_id}-{rec['id']}"

    def _set_group(self, rec: dict) -> None:
        self.spark.sparkContext.setJobGroup(self._group(rec), rec["name"], False)

    # -- Spark counters -------------------------------------------------------

    def _collect(self) -> None:
        """Copy job and stage counters into every span closed since the
        last top-level span ended."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        for rec in self._pending:
            counters = dict.fromkeys(
                ["jobs", "stages", "input_tasks"] + [name for _, name, _ in STAGE_COUNTERS], 0.0)
            stage_ids: set[int] = set()
            for job_id in tracker.getJobIdsForGroup(self._group(rec)):
                counters["jobs"] += 1
                stage_ids.update(_seq(store.job(job_id).stageIds()))
            for stage_id in stage_ids:
                try:
                    stage = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                if str(stage.status()) == "SKIPPED":
                    continue
                counters["stages"] += 1
                if stage.inputBytes() > 0:
                    counters["input_tasks"] += stage.numTasks()
                for getter, name, scale in STAGE_COUNTERS:
                    counters[name] += getattr(stage, getter)() * scale
            rec["spark"] = counters
        self._pending = []

    def python_node_metrics(self, df) -> dict:
        """Sum the Python-evaluation SQL metrics of ``df``'s executed plan."""
        out = dict.fromkeys({name for name, _ in PYTHON_NODE_METRICS.values()}, 0.0)
        if not self.enabled:
            return out
        t0 = time.perf_counter()
        seen = set()

        def walk(node):
            if node is None or node.id() in seen:
                return
            seen.add(node.id())
            cls = node.getClass().getSimpleName()
            if "Python" in cls or "Pandas" in cls or "Arrow" in cls:
                for kv in _seq(node.metrics()):
                    if kv._1() in PYTHON_NODE_METRICS:
                        name, scale = PYTHON_NODE_METRICS[kv._1()]
                        out[name] += kv._2().value() * scale
            if cls == "AdaptiveSparkPlanExec":
                walk(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                walk(node.plan())
            elif cls == "ReusedExchangeExec":
                walk(node.child())
            for child in _seq(node.children()):
                walk(child)
            for sub in _seq(node.subqueries()):
                walk(sub)

        walk(df._jdf.queryExecution().executedPlan())
        self.overhead_s += time.perf_counter() - t0
        return out

    # -- reporting ------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def check_tree(self) -> list[str]:
        """Well-formedness problems: children outside their parents,
        negative self times, unclosed spans."""
        problems = []
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            if s["end"] is None or s["end"] < s["start"]:
                problems.append(f"span {s['id']} {s['name']} not closed in order")
                continue
            p = by_id.get(s["parent"]) if s["parent"] is not None else None
            if p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
                problems.append(f"span {s['id']} {s['name']} outside parent {p['id']}")
        for sid, t in self.self_times().items():
            if t < -1e-9:
                problems.append(f"span {sid} has negative self time {t}")
        return problems

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            json.dump([s | {"self_s": own[s["id"]]} for s in self.spans], f, indent=1, default=str)
