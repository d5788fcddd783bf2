"""text_checkpoint: the Arrow/Python-heavy text pipeline with checkpoints.

One operation, over seeded full page rows:
1. textops.extract_text_udf on the html, tiled to res-2 cells, written
   per cell through plans.Manifest.run_stage (the checkpointed stage);
2. from the written stage output: dedup.winnow_near_dup_pairs (which
   runs textops.doc_fingerprints_winnow) and dedup.minhash_signatures ->
   dedup.minhash_lsh_pairs, both collected;
3. the same stage submitted again as a resume, which must write 0 rows.

Checks: the written text is byte-identical to the generated text per
url and every cell is written once; winnow pairs equal an independent
numpy winnowing of the same texts; LSH pairs equal the exact band
collisions of the returned signatures with estimated Jaccard >= 0.7,
and sampled signatures equal an independent numpy minhash.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from harness import dir_bytes, dir_files
from rios_spark import dedup, textops
from rios_spark.grid import cell_col
from rios_spark.plans.manifest import Manifest
from wl_tile_zonal import write_parquet

RES = 2
STAGE = "extract"
# winnowing and pairing parameters: the engine defaults, restated
FP_K, FP_W, FP_BASE, FP_MOD = 8, 16, 131, 2147483647
MIN_SHARED, MAX_DF = 2, 50
NUM_HASHES, SHINGLE_W, BANDS, THRESHOLD = 64, 3, 16, 0.7
MERSENNE61 = (1 << 61) - 1
SIG_SAMPLE = 50


def winnow_fps(text: str) -> np.ndarray:
    """Distinct winnowed fingerprints of one text: Horner k-gram hashes
    of the code points mod FP_MOD, minimum of every FP_W window."""
    c = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if len(c) < FP_K + FP_W - 1:
        return np.empty(0, np.int64)
    n = len(c) - FP_K + 1
    h = c[:n] % FP_MOD
    for j in range(1, FP_K):
        h = (h * FP_BASE + c[j : j + n]) % FP_MOD
    return np.unique(np.lib.stride_tricks.sliding_window_view(h, FP_W).min(axis=1))


def winnow_pairs(ids, texts) -> tuple[set, int]:
    """(pairs with >= MIN_SHARED shared rare fingerprints, number of
    pairs sharing at least one): the winnow_near_dup_sql semantics."""
    rows_id, rows_fp = [], []
    for i, t in zip(ids, texts):
        f = winnow_fps(t)
        rows_id.append(np.full(len(f), i, np.int64))
        rows_fp.append(f)
    fps = pd.DataFrame({"id": np.concatenate(rows_id), "fp": np.concatenate(rows_fp)})
    df = fps.groupby("fp")["id"].transform("size")
    kept = fps[df <= MAX_DF]
    pairs = kept.merge(kept, on="fp")
    pairs = pairs[pairs["id_x"] < pairs["id_y"]]
    shared = pairs.groupby(["id_x", "id_y"]).size()
    good = shared[shared >= MIN_SHARED]
    return set(zip(good.index.get_level_values(0), good.index.get_level_values(1))), len(shared)


def minhash_params():
    rng = np.random.default_rng(42)
    a = rng.integers(1, 1 << 31, NUM_HASHES, dtype=np.int64)
    b = rng.integers(0, 1 << 31, NUM_HASHES, dtype=np.int64)
    return a, b


def minhash(text: str, a, b) -> list[int]:
    toks = text.split()
    if len(toks) < SHINGLE_W:
        sh = [" ".join(toks)]
    else:
        sh = [" ".join(toks[i : i + SHINGLE_W]) for i in range(len(toks) - SHINGLE_W + 1)]
    base = np.array([int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh], np.int64)
    base &= (1 << 30) - 1
    return ((a[:, None] * base[None, :] + b[:, None]) % MERSENNE61).min(axis=1).tolist()


def lsh_reference(ids, sigs) -> tuple[set, int]:
    """(pairs colliding in some band with estimated Jaccard >= the
    threshold, number of colliding pairs) for the given signatures."""
    sig = np.asarray(sigs, np.int64)
    ids = np.asarray(ids)
    rows = NUM_HASHES // BANDS
    cand = set()
    for band in range(BANDS):
        key = pd.Series(range(len(ids))).groupby(
            [sig[:, band * rows + r] for r in range(rows)]
        ).agg(list)
        for members in key:
            if len(members) > 1:
                m = sorted(members, key=lambda i: ids[i])
                cand.update((m[x], m[y]) for x in range(len(m)) for y in range(x + 1, len(m)))
    out = set()
    for x, y in cand:
        if np.mean(sig[x] == sig[y]) >= THRESHOLD:
            out.add((int(ids[x]), int(ids[y])))
    return out, len(cand)


class TextCheckpoint:
    item = "pages"

    def __init__(self, spark, seed: int, work: str, smoke: bool):
        self.spark, self.seed, self.work = spark, seed, work
        self.n = 300 if smoke else 1_000
        self.path = os.path.join(work, "docs")
        self.ops = 0

    def generate(self) -> None:
        docs, _ = gen.documents(self.seed, self.n)
        self.in_bytes = write_parquet(docs, self.path, 4)
        self.docs = docs

    def build_references(self) -> None:
        docs = self.docs
        self.text = dict(zip(docs["url"], docs["text"]))
        self.ref_pairs, self.ref_cand = winnow_pairs(docs["doc_id"], docs["text"])
        a, b = minhash_params()
        pick = np.random.default_rng([self.seed, 30]).choice(self.n, SIG_SAMPLE, replace=False)
        self.ref_sigs = {int(i): minhash(docs["text"][i], a, b) for i in pick}
        n_cells = 1 << RES
        x = np.clip(np.floor((docs["lon"] + 180.0) / 360.0 * n_cells), 0, n_cells - 1)
        y = np.clip(np.floor((90.0 - docs["lat"]) / 180.0 * n_cells), 0, n_cells - 1)
        self.n_cells = len(set(zip(x, y)))

    def _stage_input(self, tr):
        docs = self.spark.read.parquet(self.path)
        extract = tr.call("textops.extract_text_udf", lambda: textops.extract_text_udf("html"))
        return docs.select(
            "doc_id", "url", cell_col("lat", "lon", RES).alias("cell"), extract.alias("text")
        )

    def _paths(self):
        base = os.path.join(self.work, f"op-{self.ops}")
        return base, os.path.join(base, "out"), os.path.join(base, "manifest")

    def op(self, tr) -> dict:
        self.ops += 1
        base, out_path, man_path = self._paths()
        man = Manifest(self.spark, man_path)
        job = f"op-{self.ops}"
        tr.call("plans.manifest.run_stage", man.run_stage, job, STAGE,
                self._stage_input(tr), out_path, payload_col="text")
        written = self.spark.read.parquet(out_path)
        winnow = tr.call("dedup.winnow_near_dup_pairs", dedup.winnow_near_dup_pairs,
                         written, "text", "doc_id").select("id1", "id2").toPandas()
        sigs = tr.call("dedup.minhash_signatures", dedup.minhash_signatures,
                       written, "text", "doc_id", NUM_HASHES, SHINGLE_W)
        lsh = tr.call("dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs, sigs, "doc_id",
                      BANDS, THRESHOLD).select("id1", "id2").toPandas()
        resume = man.run_stage(job, STAGE, self._stage_input(tr), out_path, payload_col="text")
        return {"items": self.n, "resume": resume,
                "winnow": winnow, "lsh": lsh, "sigs": sigs, "base": base,
                "out_path": out_path, "man_path": man_path}

    def check(self, out: dict) -> tuple[bool, str]:
        bad = []
        try:
            sigs = out["sigs"].toPandas()  # recomputed here, outside the timed operation
            written = pq.read_table(out["out_path"], columns=["url", "text", "cell"]).to_pandas()
            manifest = pq.read_table(out["man_path"]).to_pandas()
        finally:
            shutil.rmtree(out["base"], ignore_errors=True)
        mism = sum(1 for u, t in zip(written["url"], written["text"]) if self.text.get(u) != t)
        self.last_mismatches = mism
        if mism or len(written) != self.n or written["url"].nunique() != self.n:
            bad.append(f"extracted text: {mism} mismatches, {len(written)} rows for {self.n} urls")
        per_cell = manifest.groupby("cell").size()
        if len(per_cell) != self.n_cells or (per_cell != 1).any():
            bad.append("manifest does not hold every cell exactly once")
        if out["resume"]["rows_written"] != 0 or out["resume"]["cells_pending"] != 0:
            bad.append(f"resume wrote {out['resume']['rows_written']} rows")
        got_w = set(zip(out["winnow"]["id1"], out["winnow"]["id2"]))
        if got_w != self.ref_pairs:
            bad.append(f"winnow pairs: {len(got_w ^ self.ref_pairs)} differ from the reference")
        by_id = dict(zip(sigs["doc_id"], sigs["sig"]))
        wrong_sig = sum(1 for i, s in self.ref_sigs.items() if list(by_id.get(i, [])) != s)
        if wrong_sig:
            bad.append(f"{wrong_sig} of {len(self.ref_sigs)} sampled signatures differ")
        ref_lsh, n_cand = lsh_reference(sigs["doc_id"].tolist(), sigs["sig"].tolist())
        self.last_lsh_cand = n_cand
        got_l = set(zip(out["lsh"]["id1"], out["lsh"]["id2"]))
        if got_l != ref_lsh:
            bad.append(f"LSH pairs: {len(got_l ^ ref_lsh)} differ from the band collisions")
        return not bad, "; ".join(bad)

    def layers(self, probe) -> list[str]:
        """Per-layer figures; returns the checks that failed (none here:
        this workload's checks run on every operation)."""
        tr = probe.tracer
        docs = self.spark.read.parquet(self.path)
        plain = docs.select("doc_id", "url", cell_col("lat", "lon", RES).alias("cell"), "html")
        staged = self._stage_input(tr)
        f_plain = probe.force(plain)
        f_ext = probe.force(staged)
        probe.record("textops.extract_text_udf", f_ext, f_plain,
                     mismatches=getattr(self, "last_mismatches", 0))
        self.ops += 1
        base, out_path, man_path = self._paths()
        man = Manifest(self.spark, man_path)
        with tr.span("plans.manifest.run_stage"):
            stage, f_stage = probe.run(lambda: man.run_stage(
                "layers", STAGE, staged, out_path, payload_col="text"))
        t0 = time.perf_counter()
        man.run_stage("layers", STAGE, staged, out_path, payload_col="text")
        resume_s = time.perf_counter() - t0
        out_b = dir_bytes(out_path) + dir_bytes(man_path)
        probe.record(
            "plans.manifest.run_stage", f_stage, f_ext,
            bytes_written_mb=out_b / 1e6,
            files_written=dir_files(out_path) + dir_files(man_path),
            cells_pending=stage["cells_pending"], resume_s=resume_s,
            write_amp=out_b / self.in_bytes,
        )
        written = self.spark.read.parquet(out_path).select("doc_id", "text")
        f_scan = probe.force(written)
        fps = tr.call("textops.doc_fingerprints_winnow", textops.doc_fingerprints_winnow,
                      written, "text", "doc_id")
        f_fps = probe.force(fps)
        probe.record("textops.doc_fingerprints_winnow", f_fps, f_scan,
                     fp_per_doc=fps.count() / self.n)
        pairs = tr.call("dedup.winnow_near_dup_pairs", dedup.winnow_near_dup_pairs,
                        written, "text", "doc_id")
        probe.record("dedup.winnow_near_dup_pairs", probe.force(pairs), f_fps,
                     pair_yield=len(self.ref_pairs) / max(1, self.ref_cand))
        sigs = tr.call("dedup.minhash_signatures", dedup.minhash_signatures,
                       written, "text", "doc_id", NUM_HASHES, SHINGLE_W)
        f_sigs = probe.force(sigs)
        probe.record("dedup.minhash_signatures", f_sigs, f_scan)
        lsh = tr.call("dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs, sigs, "doc_id",
                      BANDS, THRESHOLD)
        f_lsh = probe.force(lsh)
        n_lsh = lsh.count()
        probe.record("dedup.minhash_lsh_pairs", f_lsh, f_sigs,
                     pair_yield=n_lsh / max(1, getattr(self, "last_lsh_cand", n_lsh)))
        shutil.rmtree(base, ignore_errors=True)
        return []
