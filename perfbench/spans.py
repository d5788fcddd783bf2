"""Spans around calls into rios_spark, and Spark's own per-job metrics.

Spans are recorded in memory by the benchmark's own files around each
public call it makes (name, start, end, parent, trace id); nothing in
the engine is instrumented. Spark's job/stage and SQL status stores are
read per job group, which works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import re
import time


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every method a
    pass-through, so a workload runs the same code traced or not."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    def new_trace(self) -> None:
        self.trace_id += 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "trace": self.trace_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside the span ``layer``: the driver time of the
        public call that returns the lazy frame (``layer.plan_s``)."""
        with self.span(layer):
            return fn(*args, **kwargs)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def check_nesting(self) -> None:
        """Raise if a span is open or lies outside its parent."""
        for s in self.spans:
            if s["end"] is None:
                raise AssertionError(f"span {s['name']} never closed")
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                if not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
                    raise AssertionError(f"span {s['name']} escapes {p['name']}")
                if p["trace"] != s["trace"]:
                    raise AssertionError(f"span {s['name']} changes trace id")


def union_length(intervals) -> float:
    """Total length covered by a list of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

PY_METRICS = {
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
    "time to run Python workers": "py_time_s",
}


def parse_metric(text: str) -> float:
    """A SQL metric as Spark's status store formats it: either one
    value ("921.0 B", "23 ms", "1,000") or a per-task summary whose
    second line starts with the total."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME:
        return v * _TIME[unit]
    return v


def _opt(o):
    return o.get() if o.isDefined() else None


def group_stats(spark, group: str) -> dict:
    """Aggregate the completed jobs of one job group: job count, task
    count, executor cpu/GC time, shuffle write, spill, input bytes,
    job spans, and the Python-node SQL metrics of their executions."""
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out = {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_b": 0.0, "spill_b": 0.0, "input_b": 0.0,
           "py_sent_b": 0.0, "py_recv_b": 0.0, "py_time_s": 0.0, "spans": [],
           "cpu_over_run": 0}
    job_ids = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if _opt(j.jobGroup()) != group:
            continue
        job_ids.append(j.jobId())
        out["jobs"] += 1
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is not None and done is not None:
            out["spans"].append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
        sids = j.stageIds()
        for s in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(s))
            if st.status().toString() == "SKIPPED":
                continue
            run_s, cpu_s = st.executorRunTime() / 1e3, st.executorCpuTime() / 1e9
            # run time is whole milliseconds per task; allow that rounding
            if cpu_s > run_s + 1e-3 * st.numCompleteTasks():
                out["cpu_over_run"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["cpu_s"] += cpu_s
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_b"] += st.shuffleWriteBytes()
            out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_b"] += st.inputBytes()
    if not job_ids:
        return out
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        ejobs = e.jobs()
        if not any(ejobs.contains(jid) for jid in job_ids):
            continue
        values = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        for n in range(nodes.size()):
            ms = nodes.apply(n).metrics()
            for q in range(ms.size()):
                key = PY_METRICS.get(ms.apply(q).name())
                if key is None:
                    continue
                v = _opt(values.get(ms.apply(q).accumulatorId()))
                if v is not None:
                    out[key] += parse_metric(v)
    return out


@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
