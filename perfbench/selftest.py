"""The benchmark's own checks. Run from the root of a checkout:

    python3 perfbench/selftest.py

Checks that spans nest and self times are never negative, that the disk
guard cancels jobs, that the
numpy winnowing reference equals the engine's DuckDB oracle, that Spark's
stage cpu time never exceeds the stage run time, that the printed
metric names equal BENCHMARK.json's, that a different seed changes the
inputs but not the metric names, and that a smoke-size traced run of
each workload finishes in under a minute with only the operation's
own jobs in each traced job group.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS, benchmark_json  # noqa: E402
from spans import Tracer, parse_metric, union_length  # noqa: E402

SMOKE_LIMIT_S = 60.0


def test_spans_nest_and_self_times():
    tr = Tracer(True)
    tr.new_trace()
    with tr.span("op"):
        with tr.span("a"):
            time.sleep(0.01)
        with tr.span("b"):
            with tr.span("c"):
                time.sleep(0.01)
    tr.check_nesting()
    op = tr.spans[0]
    kids = [(s["start"], s["end"]) for s in tr.spans if s["parent"] == 0]
    assert op["end"] - op["start"] - union_length(kids) >= 0
    tr.spans[2]["end"] = op["end"] + 1.0  # a child outliving its parent
    try:
        tr.check_nesting()
    except AssertionError:
        pass
    else:
        raise AssertionError("check_nesting accepted a span outside its parent")
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    off = Tracer(False)
    assert off.call("x", lambda v: v + 1, 1) == 2 and off.spans == []


def test_parse_metric():
    assert parse_metric("921.0 B") == 921.0
    assert parse_metric("1,000") == 1000.0
    assert parse_metric("1.1 s") == 1.1
    summary = "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 0.0: task 1))"
    assert parse_metric(summary) == 2 * 2**20


def test_benchmark_json_matches():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        on_disk = json.load(f)
    assert on_disk == benchmark_json(), "BENCHMARK.json differs from metrics.py"
    assert len(PER_LAYER) <= 128


def test_disk_guard_cancels_jobs():
    import shutil

    import harness

    class Context:
        cancelled = 0

        def cancelAllJobs(self):
            Context.cancelled += 1

    class Session:
        sparkContext = Context()

    d = os.path.join(ROOT, harness.WORK_DIRNAME, "selftest-guard")
    os.makedirs(d, exist_ok=True)
    cap = harness.LOCAL_DIR_CAP_B
    try:
        with open(os.path.join(d, "spill"), "wb") as f:
            f.write(b"x" * 4096)
        harness.LOCAL_DIR_CAP_B = 1024
        with harness.Monitor(Session(), d, period=0.01) as mon:
            deadline = time.monotonic() + 5
            while mon.tripped is None and time.monotonic() < deadline:
                time.sleep(0.01)
    finally:
        harness.LOCAL_DIR_CAP_B = cap
        shutil.rmtree(d, ignore_errors=True)
    assert mon.tripped and Context.cancelled >= 1, mon.tripped
    assert mon.peak_rss >= 0


def test_seed_changes_inputs():
    a, b = gen.pages(1, 1000, 20), gen.pages(2, 1000, 20)
    assert a.equals(gen.pages(1, 1000, 20)) and not a.equals(b)
    ta, ca = gen.documents(1, 300)
    tb, _ = gen.documents(2, 300)
    assert ta["text"].tolist() == gen.documents(1, 300)[0]["text"].tolist()
    assert ta["text"].tolist() != tb["text"].tolist()
    assert all(len(c) >= 2 for c in ca)


def test_winnow_reference_matches_duckdb_oracle():
    """The runs check winnow pairs against a numpy winnowing because the
    DuckDB oracle takes minutes at benchmark size; here the two agree."""
    import duckdb

    from rios_spark.dedup import winnow_near_dup_sql
    from wl_text_checkpoint import winnow_pairs

    docs, _ = gen.documents(3, 300)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.register("documents", docs[["doc_id", "text"]])
    oracle = {(int(a), int(b)) for a, b, _ in con.execute(winnow_near_dup_sql()).fetchall()}
    con.close()
    pairs, n_cand = winnow_pairs(docs["doc_id"], docs["text"])
    assert pairs == oracle and len(oracle) > 0, (len(pairs), len(oracle))
    assert n_cand >= len(pairs)


def _smoke(workload: str, seed: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--smoke",
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(lines[-1]), json.loads(lines[-2])["info"], wall


def test_smoke_traced_runs():
    for w in WORKLOADS:
        traced, info, wall = _smoke(w, 1, 1)
        assert wall < SMOKE_LIMIT_S, f"{w}: smoke run took {wall:.1f} s"
        assert traced["correct"] and traced["failed"] == 0, w
        assert set(traced["metrics"]) == {n for n, _ in PER_LAYER}, w
        for name, m in traced["metrics"].items():
            if name.endswith("self_s"):
                assert m["value"] >= 0, (w, name)
        assert info["stages_cpu_over_run"] == 0, info
        # a traced operation's job group holds only the operation's own
        # jobs, not those its check starts afterwards
        assert info["jobs_outside_op"] == 0, info


def test_smoke_other_seed_same_names():
    for w in WORKLOADS:
        plain, _, _ = _smoke(w, 2, 0)
        assert plain["correct"], w
        assert set(plain["metrics"]) == {n for n, *_ in END_TO_END}, w


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    failed = 0
    for t in tests:
        t0 = time.perf_counter()
        try:
            t()
        except AssertionError as e:
            failed += 1
            print(f"FAIL {t.__name__}: {e}")
            continue
        print(f"ok   {t.__name__} ({time.perf_counter() - t0:.1f} s)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
