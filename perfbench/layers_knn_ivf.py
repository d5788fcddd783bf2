"""Layer probes for the kNN, resample and IVF layers.

These layers have no end-to-end workload of their own (see NOTES.md),
so the traced run of tile_zonal measures them once each, on seeded
inputs generated here and checked against numpy references:

- spatial.knn_tiled: spatial.knn_join with query x data pairs above
  KNN_BRUTE_PAIR_BUDGET, which dispatches to knn_tiled (its phase
  counters come from the public ``counters=`` dict);
- spatial.knn_join: the same call below the budget, which runs the
  broadcast GEMM Arrow kernel;
- spatial.resample_join: bilinear, with the data side as a pandas frame;
- ann.ivf_build_index and ann.ivf_search (driver-side probe path, as a
  serving caller passes ``q_rows_hint``).

For a call that runs Spark jobs itself (knn_tiled's escalation, the
brute path's data collect, the index build) ``plan_s`` is the whole
call and its jobs are added to those of forcing its output.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from harness import dir_bytes
from probe import combine
from rios_spark import ann, spatial
from rios_spark.grid import cell_col
from wl_tile_zonal import write_parquet

K = 10
KNN_RES = 6
SAMPLE = 50
EARTH_RADIUS_KM = spatial.EARTH_RADIUS_KM
IVF_DIM, IVF_LISTS, IVF_NPROBE = 64, 32, 4
# input sizes; smoke runs call knn_tiled directly on a toy query side,
# since the pair-budget gate routes toy sizes to the broadcast kernel
SIZES = {
    False: {"n_data": 100_000, "q_brute": 2_000, "n_resample": 20_000,
            "ivf_n": 20_000, "ivf_q": 200},
    True: {"n_data": 5_000, "q_brute": 500, "n_resample": 5_000, "q_tiled": 1_000,
           "ivf_n": 2_000, "ivf_q": 50},
}


def haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, np.float64)) for a in (lat1, lon1, lat2, lon2))
    h = (np.sin((la2 - la1) / 2.0) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2.0) ** 2)
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(h))


def _write(spark, pdf: pd.DataFrame, path: str):
    write_parquet(pdf, path, 4)
    return spark.read.parquet(path)


def _check_knn(name: str, got: pd.DataFrame, queries: pd.DataFrame, data: pd.DataFrame) -> list[str]:
    """Every sampled query's neighbours are an exact top-K: the returned
    distances equal the K smallest numpy haversine distances, and each
    returned id lies at the distance returned for it."""
    bad = 0
    by_q = {q: g.sort_values("rank") for q, g in got.groupby("qid")}
    for _, q in queries.iterrows():
        d = haversine_km(q["lat"], q["lon"], data["lat"].to_numpy(), data["lon"].to_numpy())
        g = by_q.get(q["qid"])
        want = np.sort(d)[:K]
        if (g is None or len(g) != K
                or not np.allclose(g["dist_km"].to_numpy(), want, rtol=1e-9, atol=1e-9)
                or not np.allclose(d[g["neighbor_id"].to_numpy()], g["dist_km"].to_numpy(),
                                   rtol=1e-9, atol=1e-9)):
            bad += 1
    return [f"{name}: {bad} of {len(queries)} sampled queries differ from numpy"] if bad else []


def knn_layers(probe, spark, seed: int, work: str, smoke: bool) -> list[str]:
    tr = probe.tracer
    problems: list[str] = []
    size = SIZES[smoke]
    n_data, q_brute = size["n_data"], size["q_brute"]
    # just over the pair budget: the smallest query side that takes the tiled path
    q_tiled = size.get("q_tiled", spatial.KNN_BRUTE_PAIR_BUDGET // n_data + 1_000)
    data_pdf = gen.points(seed, n_data, 0)
    qt_pdf = gen.points(seed, q_tiled, 1, hot_frac=0.0).rename(columns={"id": "qid"})
    qb_pdf = gen.points(seed, q_brute, 2, hot_frac=0.0).rename(columns={"id": "qid"})
    data = _write(spark, data_pdf, os.path.join(work, "knn", "data"))
    qt = _write(spark, qt_pdf, os.path.join(work, "knn", "q_tiled"))
    qb = _write(spark, qb_pdf, os.path.join(work, "knn", "q_brute"))
    pick = np.random.default_rng([seed, 40])

    # above the budget: knn_join -> knn_tiled
    counters: dict = {}
    f_qt = probe.force(qt)
    if smoke:
        qt = qt.withColumn("cell", cell_col("lat", "lon", KNN_RES))
        data = data.withColumn("cell", cell_col("lat", "lon", KNN_RES))
    fn = spatial.knn_tiled if smoke else spatial.knn_join
    out, call = probe.run(lambda: tr.call(
        "spatial.knn_tiled", fn, qt, data, K, KNN_RES, q_id="qid", counters=counters))
    f_out = probe.force(out)
    if "unproven_pass0" not in counters:
        problems.append(f"knn_join with {q_tiled} x {n_data} pairs did not take the tiled path")
    probe.record(
        "spatial.knn_tiled", combine(call, f_out), f_qt,
        unproven_pass0=counters.get("unproven_pass0", 0),
        escalation_rounds=sum(1 for c in counters if c.startswith("unproven_escalation_")),
        residual_scan=counters.get("residual_scan", 0),
        res_internal=counters.get("res_internal", 0),
    )
    sample = qt_pdf.iloc[pick.choice(q_tiled, SAMPLE, replace=False)]
    got = out.filter(F.col("qid").isin([int(q) for q in sample["qid"]])).toPandas()
    problems += _check_knn("spatial.knn_tiled", got, sample, data_pdf)

    # below the budget: knn_join -> broadcast GEMM kernel
    counters = {}
    data = spark.read.parquet(os.path.join(work, "knn", "data"))
    f_qb = probe.force(qb)
    out, call = probe.run(lambda: tr.call(
        "spatial.knn_join", spatial.knn_join, qb, data, K, KNN_RES, counters=counters))
    f_out = probe.force(out)
    if counters:
        problems.append(f"knn_join with {q_brute} x {n_data} pairs took the tiled path")
    probe.record("spatial.knn_join", combine(call, f_out), f_qb)
    sample = qb_pdf.iloc[pick.choice(q_brute, SAMPLE, replace=False)]
    got = out.filter(F.col("qid").isin([int(q) for q in sample["qid"]])).toPandas()
    problems += _check_knn("spatial.knn_join", got, sample, data_pdf)

    # bilinear resample: inverse-distance weights over the 4 nearest
    rs = data_pdf.iloc[: size["n_resample"]].copy()
    rs["value"] = np.sin(np.radians(rs["lat"])) * np.cos(np.radians(rs["lon"])) + rs["id"] % 7
    out, call = probe.run(lambda: tr.call(
        "spatial.resample_join", spatial.resample_join, qb, rs, "value", "bilinear"))
    f_out = probe.force(out)
    probe.record("spatial.resample_join", combine(call, f_out), f_qb)
    got = out.filter(F.col("qid").isin([int(q) for q in sample["qid"]])).toPandas()
    got = dict(zip(got["qid"], got["resampled"]))
    bad = 0
    for _, q in sample.iterrows():
        d = haversine_km(q["lat"], q["lon"], rs["lat"].to_numpy(), rs["lon"].to_numpy())
        near = np.lexsort((rs["id"].to_numpy(), d))[:4]
        w = np.where(d[near] == 0, 1e18, 1.0 / np.where(d[near] == 0, 1.0, d[near]))
        want = float((w * rs["value"].to_numpy()[near]).sum() / w.sum())
        if q["qid"] not in got or not np.isclose(got[q["qid"]], want, rtol=1e-9, atol=1e-12):
            bad += 1
    if bad:
        problems.append(f"spatial.resample_join: {bad} of {SAMPLE} sampled queries differ")
    return problems


def _vectors_parquet(spark, ids_col: str, mat: np.ndarray, path: str):
    os.makedirs(path, exist_ok=True)
    emb = pa.array(list(mat), type=pa.list_(pa.float32()))
    table = pa.table({ids_col: pa.array(np.arange(len(mat), dtype=np.int64)), "embedding": emb})
    pq.write_table(table, os.path.join(path, "part-000.parquet"))
    return spark.read.parquet(path)


def _unit(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def ivf_layers(probe, spark, seed: int, work: str, smoke: bool) -> list[str]:
    tr = probe.tracer
    problems: list[str] = []
    ivf_n, ivf_q = SIZES[smoke]["ivf_n"], SIZES[smoke]["ivf_q"]
    vec = gen.vectors(seed, ivf_n, IVF_DIM, 0)
    qv = gen.vectors(seed, ivf_q, IVF_DIM, 1)
    data = _vectors_parquet(spark, "vec_id", vec, os.path.join(work, "ivf", "data"))
    queries = _vectors_parquet(spark, "qid", qv, os.path.join(work, "ivf", "queries"))
    index = os.path.join(work, "ivf", "index")

    _, build = probe.run(lambda: tr.call(
        "ann.ivf_build_index", ann.ivf_build_index, data, index, n_centroids=IVF_LISTS))
    probe.record("ann.ivf_build_index", build, build_s=build["wall"],
                 bytes_written_mb=dir_bytes(index) / 1e6)

    f_q = probe.force(queries)
    out, call = probe.run(lambda: tr.call(
        "ann.ivf_search", ann.ivf_search, spark, index, queries, K, nprobe=IVF_NPROBE,
        q_rows_hint=ivf_q))
    f_out = probe.force(out)
    got = out.toPandas()
    # exact scoring: each returned cosine is the numpy cosine of its pair,
    # ranks follow (cosine desc, id); recall against numpy brute force
    sims = _unit(qv) @ _unit(vec).T
    truth = np.argsort(-sims, axis=1, kind="stable")[:, :K]
    hits, bad = 0, 0
    by_q = {q: g.sort_values("rank") for q, g in got.groupby("qid")}
    for q in range(ivf_q):
        g = by_q.get(q)
        if g is None or len(g) != K:
            bad += 1
            continue
        ids = g["neighbor_id"].to_numpy()
        cos = g["cosine"].to_numpy()
        if not np.allclose(cos, sims[q, ids], rtol=1e-6, atol=1e-9) or np.any(np.diff(cos) > 0):
            bad += 1
        hits += len(set(ids.tolist()) & set(truth[q].tolist()))
    if bad:
        problems.append(f"ann.ivf_search: {bad} of {ivf_q} queries have wrong rows or scores")
    probe.record("ann.ivf_search", combine(call, f_out), f_q,
                 input_mb=f_out["input_b"] / 1e6, recall_at_10=hits / (ivf_q * K))
    return problems
