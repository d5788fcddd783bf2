"""Metric names and units: the single list that run.py prints and that
BENCHMARK.json must match (selftest.py checks both directions)."""

from __future__ import annotations

WORKLOADS = ["tile_zonal", "text_checkpoint"]

# (name, unit, better, bound). Every workload reports every one of
# these: items_per_s is pages per second on both workloads.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
]

_SPARK = [("jobs", "count"), ("task_cpu_s", "s")]
_SHUFFLE = [("shuffle_write_mb", "MB"), ("spill_mb", "MB")]
_PY = [("py_sent_mb", "MB"), ("py_recv_mb", "MB"), ("py_time_s", "s")]
_TIMED = [("plan_s", "s"), ("self_s", "s")]

# layer -> its metrics, named after the public rios_spark call it wraps
LAYERS: dict[str, list[tuple[str, str]]] = {
    # tile_zonal
    "grid.cell_col": _TIMED + _SPARK,
    "margin.with_margin": _TIMED + _SPARK + _SHUFFLE + [("dup_ratio", "ratio")],
    "spatial.pip_join": _TIMED + _SPARK + [("match_ratio", "ratio")],
    "spatial.zonal_stats": _TIMED + _SPARK + _SHUFFLE,
    # probed once in tile_zonal's traced run (layers_knn_ivf.py)
    "spatial.knn_tiled": _TIMED + _SPARK + _SHUFFLE + [
        ("unproven_pass0", "count"), ("escalation_rounds", "count"),
        ("residual_scan", "count"), ("res_internal", "res"),
    ],
    "spatial.knn_join": _TIMED + _SPARK + _PY,
    "spatial.resample_join": _TIMED + _SPARK + _PY,
    "ann.ivf_build_index": [("build_s", "s"), ("bytes_written_mb", "MB")] + _SPARK,
    "ann.ivf_search": _TIMED + _SPARK + [("py_time_s", "s"), ("input_mb", "MB"),
                                         ("recall_at_10", "ratio")],
    # text_checkpoint
    "textops.extract_text_udf": _TIMED + _SPARK + _PY + [("mismatches", "count")],
    "textops.doc_fingerprints_winnow": _TIMED + _SPARK + _PY + [("fp_per_doc", "ratio")],
    "dedup.winnow_near_dup_pairs": _TIMED + _SPARK + _SHUFFLE + [("pair_yield", "ratio")],
    "dedup.minhash_signatures": _TIMED + _SPARK + _PY,
    "dedup.minhash_lsh_pairs": _TIMED + _SPARK + _SHUFFLE + [("pair_yield", "ratio")],
    "plans.manifest.run_stage": [("self_s", "s")] + _SPARK + [
        ("bytes_written_mb", "MB"), ("files_written", "count"),
        ("cells_pending", "count"), ("resume_s", "s"), ("write_amp", "ratio"),
    ],
    # whole run
    "driver": [("self_s", "s")],
    "spark": [("tasks", "count"), ("gc_s", "s"), ("peak_rss_mb", "MB")],
    "trace": [("overhead_s", "s")],
}

PER_LAYER = [(f"{layer}.{m}", unit) for layer, ms in LAYERS.items() for m, unit in ms]


def benchmark_json() -> dict:
    """The BENCHMARK.json this benchmark implements."""
    why = {
        "tile_zonal": "scan, tile-assign codegen, margin explode and salted zonal"
        " exchange over Zipf-skewed pages with no Python at all",
        "text_checkpoint": "Arrow/Python-heavy text extraction, fingerprints, dedup"
        " and per-cell manifest writes followed by a zero-row resume",
    }
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": w, "why": why[w]} for w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": _better(n)} for n, u in PER_LAYER
        ],
    }


def _better(name: str) -> str:
    higher = ("pair_yield", "match_ratio", "recall_at_10")
    return "higher" if name.endswith(higher) else "lower"
