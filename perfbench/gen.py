"""Seeded input generators owned by the benchmark.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs, and the engine only ever sees the generated
tables. Each workload mixes in its own stream id so the inputs of one
seed are independent. What sets the amount of work (host popularity,
vocabulary, document lengths, cluster sizes, point density) is fixed
or drawn by quantiles, so a new seed moves the data, not its volume.
"""

from __future__ import annotations

from statistics import NormalDist

import numpy as np
import pandas as pd


# the fixed "world" (page hosts, the text vocabulary) shared by all seeds
WORLD_SEED = 20_000


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def zipf_weights(n: int, a: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-a)
    return p / p.sum()


# ---------------------------------------------------------------------------
# pages (tile_zonal): page_id, lat, lon with Zipf host skew
# ---------------------------------------------------------------------------

def pages(seed: int, n: int, n_hosts: int) -> pd.DataFrame:
    """Slim pages: each page sits near its host's centroid, and host
    popularity is Zipf(1.1) by rank, so a few hosts make hot tiles.
    The hosts (centroids and page counts) are the same for every seed;
    the seed draws each page's offset from its host and the row order."""
    world = np.random.default_rng([WORLD_SEED, n_hosts])
    host_lat = world.uniform(-57.0, 67.0, n_hosts)
    host_lon = world.uniform(-177.0, 177.0, n_hosts)
    counts = np.floor(n * zipf_weights(n_hosts, 1.1)).astype(int)
    counts[: n - counts.sum()] += 1
    rng = rng_for(seed, 1)
    host = rng.permutation(np.repeat(np.arange(n_hosts), counts))
    lat = np.clip(host_lat[host] + rng.normal(0.0, 1.5, n), -60.0, 70.0)
    lon = (host_lon[host] + rng.normal(0.0, 1.5, n) + 180.0) % 360.0 - 180.0
    return pd.DataFrame({"page_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon})


# ---------------------------------------------------------------------------
# text (text_checkpoint): realistic vocabulary + planted near-dup clusters
# ---------------------------------------------------------------------------

_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr fr gr pr tr st sp sk ch sh th".split()
_NUCLEI = "a e i o u ai ea ou ie".split()
_CODAS = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st", "ng"]
LANGS = ["en", "de", "fr", "es", "it"]

VOCAB = 20_000
DUP_FRAC = 0.2          # share of documents that belong to a planted cluster
CLUSTER_MAX = 40        # below dedup's max_df=50 so clusters stay findable
CLUSTER_ZIPF = 2.0      # cluster size s >= 2 drawn with P(s) ~ s^-2
MUTATE = 0.03           # share of a copy's words replaced


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct words of one to three onset-nucleus-coda syllables."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        m = 2 * (n - len(out))
        syl = np.full((m, 3), "", dtype=object)
        for part in (_ONSETS, _NUCLEI, _CODAS):
            syl += np.array(part, dtype=object)[rng.integers(0, len(part), size=(m, 3))]
        for row, k in zip(syl.tolist(), rng.integers(1, 4, m).tolist()):
            w = "".join(row[:k])
            if w not in seen and len(out) < n:
                seen.add(w)
                out.append(w)
    return out


def cluster_sizes(n_dup_docs: int) -> list[int]:
    """Cluster sizes at evenly spaced quantiles of P(s) ~ s^-CLUSTER_ZIPF
    on [2, CLUSTER_MAX], summing to n_dup_docs: the same size mix for
    every seed, so the planted pair count does not vary with it."""
    sizes = np.arange(2, CLUSTER_MAX + 1)
    p = sizes.astype(np.float64) ** (-CLUSTER_ZIPF)
    p /= p.sum()
    m = max(1, int(n_dup_docs / float((sizes * p).sum())))
    out = sizes[np.minimum(np.searchsorted(np.cumsum(p), (np.arange(m) + 0.5) / m), len(sizes) - 1)]
    out = [int(s) for s in out[::-1]]  # largest first
    while sum(out) > n_dup_docs:
        out.pop()
    return out


def documents(seed: int, n: int) -> tuple[pd.DataFrame, list[list[int]]]:
    """Full page rows (doc_id, url, warc_ts, html, text, lang, lat, lon)
    and the planted clusters (lists of doc ids).

    Words follow Zipf(1.05) over a fixed 20k-word syllable vocabulary, so two
    unrelated documents share few word 3-shingles. DUP_FRAC of the
    documents form clusters: one base text and copies with MUTATE of
    their words replaced. The html embeds the text so that extracting
    the <p> bodies returns it byte for byte."""
    # the vocabulary is the same language for every seed; the seed draws
    # the documents from it
    vocab = np.array(vocabulary(np.random.default_rng(WORLD_SEED), VOCAB), dtype=object)
    rng = rng_for(seed, 3)
    cdf = np.cumsum(zipf_weights(VOCAB, 1.05))

    def draw_words(m):
        return np.minimum(np.searchsorted(cdf, rng.random(m)), VOCAB - 1)

    # document lengths: the lognormal(90 words, 0.5) quantiles, shuffled,
    # so the total text volume is the same for every seed
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    lengths = np.clip(90.0 * np.exp(0.5 * z), 30, 400)
    lengths = rng.permutation(lengths.astype(int))
    word_ids = np.split(draw_words(int(lengths.sum())), np.cumsum(lengths)[:-1])

    order = rng.permutation(n)
    sizes = cluster_sizes(int(n * DUP_FRAC))
    clusters, pos = [], 0
    for s in sizes:
        members = sorted(int(i) for i in order[pos : pos + s])
        pos += s
        base = word_ids[members[0]]
        for m in members[1:]:
            copy = base.copy()
            hit = rng.random(len(copy)) < MUTATE
            copy[hit] = draw_words(int(hit.sum()))
            word_ids[m] = copy
        clusters.append(members)

    texts, htmls, urls = [], [], []
    n_para = rng.integers(1, 4, n)
    for i in range(n):
        words = vocab[word_ids[i]]
        cuts = np.linspace(0, len(words), int(n_para[i]) + 1).astype(int)
        paras = [" ".join(words[a:b]) for a, b in zip(cuts[:-1], cuts[1:]) if b > a]
        text = "\n\n".join(paras)
        url = f"https://site{i % 997:03d}.example/doc/{i}"
        body = "".join(f"<p>{p}</p>" for p in paras)
        htmls.append(
            (f'<html><head><meta charset="utf-8"><title>doc {i}</title></head>'
             f"<body><h1>doc {i}</h1>{body}<div class=\"footer\">crawl</div>"
             "</body></html>").encode("utf-8")
        )
        texts.append(text)
        urls.append(url)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "url": urls,
        "warc_ts": ts0 + rng.integers(0, 365 * 86400, n) * np.timedelta64(1_000_000, "us"),
        "html": htmls,
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)],
        "lat": rng.uniform(-60.0, 70.0, n),
        "lon": rng.uniform(-180.0, 180.0, n),
    })
    return df, clusters


# ---------------------------------------------------------------------------
# skewed points (kNN / resample layer probes) and vectors (IVF layer probe)
# ---------------------------------------------------------------------------

HOT_BOX = (47.0, 49.0, 1.0, 3.0)  # lat0, lat1, lon0, lon1: a 2-degree box
HOT_FRAC = 0.8


def points(seed: int, n: int, stream: int, hot_frac: float = HOT_FRAC) -> pd.DataFrame:
    """id, lat, lon with exactly ``hot_frac`` of the points uniform in
    the 2-degree HOT_BOX and the rest uniform over lat [-60, 70], so
    dense tiles sit beside sparse ones (bench.py's knn_scale skew: the
    data side is skewed, the queries are uniform). ``stream`` separates
    independent point sets of one seed."""
    rng = rng_for(seed, 10 + stream)
    hot = int(n * hot_frac)
    lat0, lat1, lon0, lon1 = HOT_BOX
    lat = np.concatenate([rng.uniform(lat0, lat1, hot), rng.uniform(-60.0, 70.0, n - hot)])
    lon = np.concatenate([rng.uniform(lon0, lon1, hot), rng.uniform(-180.0, 180.0, n - hot)])
    order = rng.permutation(n)
    return pd.DataFrame({"id": np.arange(n, dtype=np.int64), "lat": lat[order], "lon": lon[order]})


def vectors(seed: int, n: int, dim: int, stream: int, clusters: int = 64) -> np.ndarray:
    """n float32 vectors of a Gaussian mixture: the cluster centres are
    the same for every seed, the seed draws which centre and the noise."""
    centres = np.random.default_rng([WORLD_SEED, dim]).normal(0.0, 1.0, (clusters, dim))
    rng = rng_for(seed, 20 + stream)
    pick = rng.integers(0, clusters, n)
    return (centres[pick] + rng.normal(0.0, 0.6, (n, dim))).astype(np.float32)
