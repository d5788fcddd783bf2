"""Per-layer figures for the traced run.

Each layer's output frame is forced to Spark's noop sink under its own
job group. ``L.self_s`` is that wall time minus the same figure for L's
input frame, and L's Spark counters (jobs, task cpu, shuffle, spill,
Python-node traffic) are the same difference of their group totals.
Differences of two noisy timings can dip below zero; they are clamped
at 0 and reported as measured otherwise.
"""

from __future__ import annotations

import statistics
import time

from metrics import LAYERS
from spans import group_stats, job_group

MB = 1e6
_ZERO = {"wall": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
         "shuffle_write_b": 0.0, "spill_b": 0.0, "input_b": 0.0,
         "py_sent_b": 0.0, "py_recv_b": 0.0, "py_time_s": 0.0, "spans": []}


def combine(*stats: dict) -> dict:
    """The sum of several run()/force() stats: a call that runs jobs
    itself, plus forcing the frame it returns."""
    out = {k: sum(s[k] for s in stats) for k in _ZERO if k != "spans"}
    out["spans"] = [sp for s in stats for sp in s["spans"]]
    return out


class Probe:
    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.metrics: dict[str, float] = {}
        self._n = 0
        self.cpu_over_run = 0  # stages whose cpu time exceeded run time

    def run(self, fn):
        """Run ``fn()`` under a fresh job group; returns (result, stats)
        where stats carries the wall time and the group's Spark totals."""
        self._n += 1
        group = f"perfbench-layer-{self._n}"
        with job_group(self.spark, group):
            t0 = time.perf_counter()
            result = fn()
            wall = time.perf_counter() - t0
        stats = group_stats(self.spark, group)
        stats["wall"] = wall
        self.cpu_over_run += stats["cpu_over_run"]
        return result, stats

    def force(self, df) -> dict:
        return self.run(lambda: df.write.format("noop").mode("overwrite").save())[1]

    def plan_s(self, layer: str) -> float:
        d = self.tracer.durations(layer)
        return statistics.median(d) if d else 0.0

    def record(self, layer: str, out: dict, base: dict | None = None, **extra) -> None:
        """Store ``layer``'s metrics: out/base are force() stats of the
        layer's output and input frames; ``extra`` adds layer-specific
        values (plan_s defaults to the median traced call time)."""
        b = base or _ZERO

        def d(key, scale=1.0):
            return max(0.0, (out[key] - b[key]) / scale)

        vals = {
            "plan_s": self.plan_s(layer),
            "self_s": d("wall"),
            "jobs": d("jobs"),
            "task_cpu_s": d("cpu_s"),
            "shuffle_write_mb": d("shuffle_write_b", MB),
            "spill_mb": d("spill_b", MB),
            "py_sent_mb": d("py_sent_b", MB),
            "py_recv_mb": d("py_recv_b", MB),
            "py_time_s": d("py_time_s"),
        }
        vals.update(extra)
        for name, _unit in LAYERS[layer]:
            if name in vals:
                self.metrics[f"{layer}.{name}"] = float(vals[name])
