"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_zonal --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout: generates the workload's inputs from
the seed, starts one local[nproc] Spark session, runs the workload in a
closed loop (one caller; each operation waits for the previous one) for
--seconds, checks every output against a reference built before the
loop and prints one JSON result as the last line of standard output.
--trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer ones.
--smoke runs toy input sizes without warm-up operations.
Exits 1 when any check failed and 2 when the engine is not present.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    WORK_DIRNAME, Monitor, clean_caches, configure_env, start_spark, stop_spark,
)
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

# input generation is repeated and its median counted in setup_s; the
# references the checks compare against are built once, outside setup_s
GEN_REPS = 3
# a fresh JVM keeps speeding up for several operations (JIT); the first
# three operations of a run are warm-up, checked and counted in setup_s
WARMUP_OPS = 3
# the measured window lasts --seconds and holds at least this many operations
MIN_OPS = 2
# job times in Spark's status store are whole milliseconds
JOB_CLOCK_SLACK_S = 0.002


def load_workload(name: str):
    if name == "tile_zonal":
        from wl_tile_zonal import TileZonal as W
    else:
        from wl_text_checkpoint import TextCheckpoint as W
    return W


class Outcome:
    """Closed-loop bookkeeping: latencies of checked operations and the
    attempted/failed counts."""

    def __init__(self):
        self.lat: list[float] = []
        self.rates: list[float] = []  # items per second of each checked operation
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.window = (0.0, 0.0)  # epoch start/end of the last operation

    def run_op(self, wl, spark, tracer, monitor, group: str | None = None) -> float | None:
        """One checked operation. With ``group`` only the operation runs
        under that Spark job group; its check runs after, outside it."""
        from spans import job_group

        self.attempted += 1
        try:
            clean_caches(spark)
            with job_group(spark, group) if group else contextlib.nullcontext():
                w0 = time.time()
                t0 = time.perf_counter()
                with tracer.span("op"):
                    out = wl.op(tracer)
                dt = time.perf_counter() - t0
                self.window = (w0, time.time())
            ok, detail = wl.check(out)
        except Exception:  # a raising operation is a failed one; keep going
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        if monitor.tripped:
            ok, detail = False, monitor.tripped
        if not ok:
            self.failed += 1
            self.errors.append(detail)
            return None
        self.lat.append(dt)
        self.rates.append(out["items"] / dt)
        return dt

    def probe_layers(self, wl, probe) -> None:
        """The traced run's per-layer probe, counted as one operation."""
        self.attempted += 1
        try:
            problems = wl.layers(probe)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.errors.extend(problems)


def run_workload(name: str, spark, seed: int, seconds: float, trace: bool,
                 smoke: bool, work: str, t_start: float, session_s: float) -> dict:
    from spans import Tracer, group_stats, union_length

    wl = load_workload(name)(spark, seed, work, smoke)
    gen_s = []
    for _ in range(1 if smoke else GEN_REPS):
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.build_references()
    ref_s = time.perf_counter() - t0
    res = Outcome()
    off = Tracer(False)
    local_dir = os.environ["SPARK_LOCAL_DIRS"]
    outside = 0  # traced-group jobs submitted or finished outside their operation
    with Monitor(spark, local_dir) as mon:
        t0 = time.perf_counter()
        for _ in range(0 if smoke else WARMUP_OPS):  # smoke runs check plumbing, not speed
            res.run_op(wl, spark, off, mon)
        warm_s = time.perf_counter() - t0
        res.lat, res.rates = [], []  # warm-up operations are attempted, not measured
        setup_s = session_s + statistics.median(gen_s) + warm_s
        mon.reset_peak()
        metrics: dict[str, float] = {}
        deadline = time.perf_counter() + seconds
        over = None
        if not trace:
            while True:
                res.run_op(wl, spark, off, mon)
                # a window that ends inside an operation's check would
                # sometimes leave one measured operation, sometimes two
                if time.perf_counter() >= deadline and (len(res.lat) >= MIN_OPS or res.failed):
                    break
        else:
            tr = Tracer(True)
            plain, traced, drv, tasks, gc = [], [], [], [], []
            over = 0
            i = 0
            while True:
                i += 1
                if i % 4 in (0, 1):  # plain, traced, traced, plain, ...
                    dt = res.run_op(wl, spark, off, mon)
                    if dt is not None:
                        plain.append(dt)
                else:
                    tr.new_trace()
                    group = f"perfbench-op-{i}"
                    dt = res.run_op(wl, spark, tr, mon, group)
                    if dt is not None:
                        st = group_stats(spark, group)
                        w0, w1 = res.window
                        outside += sum(1 for a, b in st["spans"]
                                       if a < w0 - JOB_CLOCK_SLACK_S or b > w1 + JOB_CLOCK_SLACK_S)
                        over += st["cpu_over_run"]
                        traced.append(dt)
                        drv.append(max(0.0, dt - union_length(st["spans"])))
                        tasks.append(st["tasks"])
                        gc.append(st["gc_s"])
                if time.perf_counter() >= deadline and i % 2 == 0:
                    break
            from probe import Probe

            probe = Probe(spark, tr)
            clean_caches(spark)
            res.probe_layers(wl, probe)
            tr.check_nesting()
            over += probe.cpu_over_run
            metrics.update(probe.metrics)
            metrics["driver.self_s"] = statistics.median(drv) if drv else 0.0
            metrics["spark.tasks"] = statistics.median(tasks) if tasks else 0.0
            metrics["spark.gc_s"] = statistics.median(gc) if gc else 0.0
            if plain and traced:
                metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
            metrics["spark.peak_rss_mb"] = mon.peak_rss / 1e6
        if mon.tripped and not res.errors:
            res.failed += 1
            res.errors.append(mon.tripped)
    if res.lat:
        metrics.update({
            "setup_s": setup_s,
            "items_per_s": statistics.median(res.rates),
        })
    info = {
        "workload": name, "ops": len(res.lat), "item": wl.item,
        "op_s": res.lat, "run_wall_s": time.perf_counter() - t_start,
        "setup_parts_s": {"session": session_s, "generate_median": statistics.median(gen_s),
                          "warmup": warm_s},
        "references_s": ref_s,
        "stages_cpu_over_run": over,
        "jobs_outside_op": outside,
    }
    return {"res": res, "metrics": metrics, "info": info}


def result_line(out, trace: bool) -> dict:
    res = out["res"]
    want = PER_LAYER if trace else [(n, u) for n, u, _, _ in END_TO_END]
    metrics = {}
    for n, unit in want:
        v = out["metrics"].get(n)
        if v is None and not trace:
            continue  # no successful operation: the metric is missing
        metrics[n] = {"value": float(v or 0.0), "unit": unit}
    return {
        "correct": res.failed == 0 and len(metrics) == len(want),
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy input sizes")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rios_spark")):
        print(f"perfbench: no rios_spark package under {ROOT}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    work = os.path.join(ROOT, WORK_DIRNAME, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = configure_env(ROOT, work)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        out = run_workload(args.workload, spark, args.seed, args.seconds, bool(args.trace),
                           args.smoke, work, t_start, session_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"info": out["info"], "env": env}), flush=True)
    for e in out["res"].errors:
        print(f"[{args.workload}] FAILED: {e}", file=sys.stderr)
    line = result_line(out, bool(args.trace))
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
