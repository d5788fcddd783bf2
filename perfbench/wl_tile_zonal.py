"""tile_zonal: the BASELINE.json pages pipeline, all JVM-side.

One operation: read the slim pages, tile-assign at res 6
(grid.cell_col), count the 1-ring margin copies (margin.with_margin),
zonal count/sum/min/max over datagen.gen_polygons()
(spatial.zonal_stats: pip_join's expression path + salted aggregation),
and per-tile counts. References come from DuckDB over the same parquet.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from rios_spark import datagen, margin, spatial
from rios_spark.grid import cell_col, cell_sql, np_kring
from rios_spark.spatial import _is_axis_rect

RES = 6
FILES = 8


def write_parquet(pdf, path: str, files: int) -> int:
    """Write pdf as `files` parquet files (so the scan has that many
    splits); returns bytes written."""
    os.makedirs(path, exist_ok=True)
    n = len(pdf)
    for i in range(files):
        part = pdf.iloc[i * n // files : (i + 1) * n // files]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


class TileZonal:
    item = "pages"

    def __init__(self, spark, seed: int, work: str, smoke: bool):
        self.spark, self.seed, self.work, self.smoke = spark, seed, work, smoke
        self.n = 100_000 if smoke else 600_000
        self.path = os.path.join(work, "pages")
        self.polys = datagen.gen_polygons()

    def generate(self) -> None:
        pdf = gen.pages(self.seed, self.n, max(8, self.n // 200))
        write_parquet(pdf, self.path, FILES)

    def build_references(self) -> None:
        self.ref = self._reference()

    def _reference(self) -> dict:
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        try:
            con.execute(f"CREATE VIEW pages AS SELECT * FROM read_parquet('{self.path}/*.parquet')")
            rects, bboxes, edges = [], [], []
            for _, p in self.polys.iterrows():
                xs, ys = np.asarray(p["xs"], float), np.asarray(p["ys"], float)
                pid = int(p["polygon_id"])
                box = (pid, xs.min(), ys.min(), xs.max(), ys.max())
                if _is_axis_rect(xs, ys):
                    rects.append(box)
                    continue
                bboxes.append(box)
                for i in range(len(xs)):
                    if ys[i - 1] != ys[i]:
                        edges.append((pid, xs[i], ys[i], xs[i - 1], ys[i - 1]))
            for name, rows, cols in (
                ("rects", rects, "polygon_id BIGINT, x0 DOUBLE, y0 DOUBLE, x1 DOUBLE, y1 DOUBLE"),
                ("bboxes", bboxes, "polygon_id BIGINT, x0 DOUBLE, y0 DOUBLE, x1 DOUBLE, y1 DOUBLE"),
                ("edges", edges, "polygon_id BIGINT, xi DOUBLE, yi DOUBLE, xj DOUBLE, yj DOUBLE"),
            ):
                con.execute(f"CREATE TABLE {name} ({cols})")
                if rows:
                    con.executemany(f"INSERT INTO {name} VALUES (?, ?, ?, ?, ?)", rows)
            # even-odd ray cast with the same arithmetic and half-open
            # edge rule as the engine's expression path
            zonal = con.execute("""
WITH hits AS (
  SELECT p.page_id, r.polygon_id FROM pages p JOIN rects r
    ON p.lon >= r.x0 AND p.lon < r.x1 AND p.lat >= r.y0 AND p.lat < r.y1
  UNION ALL
  SELECT p.page_id, e.polygon_id
  FROM pages p
  JOIN bboxes b ON p.lon BETWEEN b.x0 AND b.x1 AND p.lat BETWEEN b.y0 AND b.y1
  JOIN edges e ON e.polygon_id = b.polygon_id
  GROUP BY p.page_id, e.polygon_id
  HAVING sum(CASE WHEN ((e.yi > p.lat) != (e.yj > p.lat))
                   AND p.lon < (e.xj - e.xi) * (p.lat - e.yi) / (e.yj - e.yi) + e.xi
              THEN 1 ELSE 0 END) % 2 = 1
)
SELECT polygon_id, count(*), sum(page_id::DOUBLE), min(page_id::DOUBLE), max(page_id::DOUBLE)
FROM hits GROUP BY polygon_id ORDER BY polygon_id""").fetchall()
            tiles = con.execute(
                f"SELECT {cell_sql('lat', 'lon', RES)} AS cell, count(*) FROM pages"
                " GROUP BY 1 ORDER BY 1"
            ).fetchall()
        finally:
            con.close()
        ring = {c: len(np_kring(int(c), 1)) for c, _ in tiles}
        return {
            "zonal": [tuple(r) for r in zonal],
            "tiles": [tuple(r) for r in tiles],
            "margin_rows": sum(n * ring[c] for c, n in tiles),
        }

    def _tiled(self, tr):
        pages = self.spark.read.parquet(self.path)
        return pages.withColumn("cell", tr.call("grid.cell_col", cell_col, "lat", "lon", RES))

    def op(self, tr) -> dict:
        tiled = self._tiled(tr)
        margin_rows = tr.call("margin.with_margin", margin.with_margin, tiled, RES, 1).count()
        zonal = tr.call(
            "spatial.zonal_stats", spatial.zonal_stats, tiled, self.polys, RES, "page_id"
        ).select("polygon_id", "count", "sum", "minval", "maxval").collect()
        tiles = tiled.groupBy("cell").agg(F.count("*")).collect()
        return {"items": self.n, "zonal": zonal, "tiles": tiles, "margin_rows": margin_rows}

    def check(self, out: dict) -> tuple[bool, str]:
        bad = []
        if sorted(tuple(r) for r in out["zonal"]) != self.ref["zonal"]:
            bad.append("zonal stats differ from DuckDB")
        if sorted(tuple(r) for r in out["tiles"]) != self.ref["tiles"]:
            bad.append("tile counts differ from DuckDB")
        if out["margin_rows"] != self.ref["margin_rows"]:
            bad.append(f"margin rows {out['margin_rows']} != {self.ref['margin_rows']}")
        return not bad, "; ".join(bad)

    def layers(self, probe) -> list[str]:
        """Per-layer figures; returns the checks that failed."""
        from layers_knn_ivf import ivf_layers, knn_layers

        tr = probe.tracer
        pages = self.spark.read.parquet(self.path)
        tiled = self._tiled(tr)
        f_scan = probe.force(pages)
        f_cell = probe.force(tiled)
        probe.record("grid.cell_col", f_cell, f_scan)
        m = tr.call("margin.with_margin", margin.with_margin, tiled, RES, 1)
        f_margin = probe.force(m)
        probe.record("margin.with_margin", f_margin, f_cell,
                     dup_ratio=self.ref["margin_rows"] / self.n)
        joined = tr.call("spatial.pip_join", spatial.pip_join, tiled, self.polys, RES)
        cover = self.spark.createDataFrame(
            spatial.polygon_cover(self.polys, RES), "polygon_id long, cell long"
        )
        n_cand = tiled.join(F.broadcast(cover), "cell").count()
        n_match = sum(r[1] for r in self.ref["zonal"])
        f_pip = probe.force(joined)
        probe.record("spatial.pip_join", f_pip, f_cell, match_ratio=n_match / max(1, n_cand))
        z = tr.call("spatial.zonal_stats", spatial.zonal_stats, tiled, self.polys, RES, "page_id")
        probe.record("spatial.zonal_stats", probe.force(z), f_pip)
        return knn_layers(probe, self.spark, self.seed, self.work, self.smoke) + ivf_layers(
            probe, self.spark, self.seed, self.work, self.smoke)
