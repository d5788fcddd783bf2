"""Per-partition lineage + metrics manifest — resumable jobs.

RIOS has NO resume: a killed run restarts from block zero
(rios/applier.py:1004-1052 has no checkpoint — gap noted in
SURVEY.md §2.9). The north rule requires tile-granular resume, so this
module adds it:

- every stage records, per cell: row count, byte count, wall clock,
  and a status, appended to a manifest table as one parquet file per
  append;
- a restarted job filters its input against the manifest's completed
  cells and processes ONLY pending cells; the filter sits below the
  input's projections, so their Python kernels never see a completed
  cell's rows;
- the stage input is evaluated once: one small job over the cell column
  counts total and pending cells (and finds NULL cells, which raise
  ValueError: a NULL cell never matches the manifest, so it would be
  reported pending forever), the write is the only pass that runs the
  payload's kernels, and the per-cell row and byte counts are read back
  from the partitions just written (a parquet scan);
- output is written partitioned by cell with dynamic partition
  overwrite, so re-processing a cell (crash between data write and
  manifest append) is idempotent — the partition is replaced, never
  duplicated. On a real deployment both writes are one Iceberg
  transaction (snapshot commit == RIOS closeOutfiles,
  rios/imagewriter.py:123-193); with plain parquet the manifest-after-
  data ordering gives at-least-once processing with exactly-once
  visibility.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = (
    "job_id string, stage string, cell long, n_rows long, n_bytes long,"
    " wall_ms long, status string, run_id string"
)


class Manifest:
    """Lineage/metrics manifest over a parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        if not _has_parquet(self.path):
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def completed_cells(self, job_id: str, stage: str) -> DataFrame:
        return (
            self.read()
            .filter(
                (F.col("job_id") == job_id)
                & (F.col("stage") == stage)
                & (F.col("status") == "done")
            )
            .select("cell")
            .distinct()
        )

    def pending_cells(self, all_cells: DataFrame, job_id: str, stage: str) -> DataFrame:
        """all_cells (one column `cell`) minus completed — the resume
        anti-join. Completed set is small (distinct cells) → broadcast."""
        done = self.completed_cells(job_id, stage)
        return all_cells.join(F.broadcast(done), "cell", "left_anti")

    def append(self, entries: DataFrame) -> None:
        """Append lineage rows as one parquet file."""
        entries.coalesce(1).write.mode("append").parquet(self.path)

    def run_stage(
        self,
        job_id: str,
        stage: str,
        df: DataFrame,
        out_path: str,
        payload_col: str | None = None,
        cell: str = "cell",
    ) -> dict:
        """Process-and-checkpoint one stage: write the pending subset of
        `df` to `out_path` partitioned by cell (dynamic overwrite →
        idempotent per-cell replace), then append per-cell lineage rows.

        Returns {'cells_total', 'cells_pending', 'rows_written'}.
        `payload_col`: column whose octet_length approximates bytes
        (defaults to 8 bytes/row if None). Raises ValueError when the
        `cell` column holds NULL.
        """
        t0 = time.monotonic()
        run_id = uuid.uuid4().hex[:12]
        all_cells = df.select(F.col(cell).alias("cell")).distinct()
        done = self.completed_cells(job_id, stage)
        census = (
            all_cells.join(F.broadcast(done.withColumn("done", F.lit(True))), "cell", "left")
            .agg(
                F.count("*").alias("total"),
                F.count("cell").alias("non_null"),
                F.count_if(F.col("done").isNull()).alias("pending"),
            )
            .first()
        )
        if census["non_null"] != census["total"]:
            raise ValueError(
                f"run_stage: column {cell!r} holds NULL; a NULL cell can never be"
                " recorded as done, so every resume would report it pending"
            )
        n_total, n_pending = census["total"], census["pending"]
        if n_pending == 0:
            return {"cells_total": n_total, "cells_pending": 0, "rows_written": 0}

        subset = df if n_pending == n_total else _without_cells(df, cell, done)
        had_output = _has_parquet(out_path)
        written = Observation()
        (
            subset.observe(written, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(cell)
            .parquet(out_path)
        )
        wall_ms = int((time.monotonic() - t0) * 1000)

        # metrics from the partitions just written: a parquet scan, so
        # the kernels behind `df` run once, for the write above
        cols = [c for c in (payload_col, cell) if c]
        back = self.spark.read.schema(T.StructType([df.schema[c] for c in cols])).parquet(out_path)
        if had_output:
            pending = self.pending_cells(all_cells, job_id, stage)
            back = back.join(F.broadcast(pending), back[cell] == pending["cell"], "left_semi")
        nbytes = (
            F.sum(F.octet_length(F.col(payload_col))) if payload_col else F.lit(8) * F.count("*")
        )
        metrics = (
            back.groupBy(F.col(cell).alias("cell"))
            .agg(F.count("*").alias("n_rows"), nbytes.cast("long").alias("n_bytes"))
            .select(
                F.lit(job_id).alias("job_id"),
                F.lit(stage).alias("stage"),
                "cell",
                "n_rows",
                "n_bytes",
                F.lit(wall_ms).alias("wall_ms"),
                F.lit("done").alias("status"),
                F.lit(run_id).alias("run_id"),
            )
        )
        self.append(metrics)
        return {
            "cells_total": n_total,
            "cells_pending": n_pending,
            "rows_written": written.get["rows"],
        }


def _without_cells(df: DataFrame, cell: str, cells: DataFrame) -> DataFrame:
    """Rows of `df` whose `cell` is not in `cells`. Written as a NOT
    EXISTS filter rather than an anti join: the optimizer pushes a
    filter below the projections of `df`, so their Python kernels never
    see the rows it drops."""
    quoted = "`" + cell.replace("`", "``") + "`"
    return df.sparkSession.sql(
        "SELECT * FROM {df} AS s WHERE NOT EXISTS"
        f" (SELECT 1 FROM {{cells}} AS c WHERE c.cell = s.{quoted})",
        df=df,
        cells=F.broadcast(cells),
    )


def _has_parquet(path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    )
