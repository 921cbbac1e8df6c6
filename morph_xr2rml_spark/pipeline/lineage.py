"""Per-stage checkpointing with lineage + metrics (north rule: every
stage checkpoints per-partition lineage and triple-count metrics so the
job resumes mid-pipeline).

``StageRunner.stage(name, fn)`` materializes fn()'s output to
``<out_dir>/<name>`` (parquet; in production the same code targets an
Iceberg catalog — the writer format is one config away, Iceberg jars
are not in this sandbox) and appends a metrics record to
``<out_dir>/_lineage/metrics.jsonl``:

    written stage:  stage, resumed=False, rows, n_partitions (files
                    written), partition_rows (rows per written file,
                    skew evidence), max_partition_rows, wall_s, ts
    resumed stage:  stage, resumed=True, rows, ts

A checkpoint costs exactly the one Spark job that writes it. The
read-back uses the writer's schema (saved beside the data as
``_schema.json``), so no job infers it, and every row count comes from
the written files' parquet footers, read on the driver — the stage is
never re-scanned to count it.

On resume, a stage whose output directory is complete (its
``_schema.json`` is written after the data commits) is NOT recomputed —
the checkpoint parquet is read back and the downstream plan restarts
from there, exactly like re-submitting a failed spark-submit job
mid-pipeline. Resume does not check that the stage's inputs are
unchanged since the checkpoint was written.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SCHEMA_FILE = "_schema.json"  # '_'-prefixed: parquet readers skip it


class StageRunner:
    def __init__(self, spark: SparkSession, out_dir: str, resume: bool = True):
        self.spark = spark
        self.out_dir = out_dir
        self.resume = resume
        self.lineage_dir = os.path.join(out_dir, "_lineage")
        os.makedirs(self.lineage_dir, exist_ok=True)

    # ------------------------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _done(self, name: str) -> bool:
        """A checkpoint is complete once its schema file exists: it is
        written after Spark commits the data (and ``_SUCCESS``). A
        directory without it, from an interrupted run or an older
        runner (whose ``extracted`` could hold pages that fail the
        extraction invariant), is recomputed."""
        return os.path.exists(os.path.join(self._path(name), _SCHEMA_FILE))

    def _record(self, rec: dict) -> None:
        with open(os.path.join(self.lineage_dir, "metrics.jsonl"), "a") as fh:
            fh.write(json.dumps(rec) + "\n")

    def _read(self, path: str) -> DataFrame:
        """Read a checkpoint back with its writer's schema (no schema
        inference job)."""
        with open(os.path.join(path, _SCHEMA_FILE)) as fh:
            schema = StructType.fromJson(json.load(fh))
        return self.spark.read.schema(schema).parquet(path)

    def partition_counts(self, df: DataFrame) -> list[int]:
        """Rows per input file of a parquet scan, in file-name order,
        from the files' footers: runs no Spark job. Like the rest of
        the runner, it reads checkpoints on the local filesystem."""
        paths = sorted(unquote(urlparse(f).path) for f in df.inputFiles())
        return [pq.read_metadata(p).num_rows for p in paths]

    # ------------------------------------------------------------------

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume) one checkpointed stage; returns the
        checkpointed DataFrame (a fresh scan, so downstream lineage
        starts at the checkpoint)."""
        path = self._path(name)
        t0 = time.time()
        if self.resume and self._done(name):
            out = self._read(path)
            self._record(
                {
                    "stage": name,
                    "resumed": True,
                    "rows": sum(self.partition_counts(out)),
                    "ts": time.time(),
                }
            )
            return out

        df = fn()
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        with open(os.path.join(path, _SCHEMA_FILE), "w") as fh:
            fh.write(df.schema.json())

        out = self._read(path)
        pcounts = self.partition_counts(out)
        self._record(
            {
                "stage": name,
                "resumed": False,
                "rows": sum(pcounts),
                "n_partitions": len(pcounts),
                "partition_rows": pcounts,
                "max_partition_rows": max(pcounts) if pcounts else 0,
                "wall_s": round(time.time() - t0, 3),
                "ts": time.time(),
            }
        )
        return out

    def metrics(self) -> list[dict]:
        path = os.path.join(self.lineage_dir, "metrics.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as fh:
            return [json.loads(line) for line in fh if line.strip()]
