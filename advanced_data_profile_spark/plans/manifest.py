"""Checkpoint / resume manifest (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

The manifest is an append-only table of per-partition run records:

  (run_id, part_id, status, started_at, finished_at, n_rows,
   metrics_json, input_path)

Resume = anti-join pending partitions against DONE manifest rows (J5 in
SURVEY.md §2.6) — a broadcast anti-join since the manifest is tiny
relative to the data. Idempotence: result tables are written with
dynamic partition overwrite keyed by part_id, so re-processing a
partition replaces (not duplicates) its output; the manifest append of
a `done` row is the commit point and is written AFTER the results.

Storage is parquet-append; on a real cluster this would be an Iceberg
table with snapshot isolation — same reader/writer call shape.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from advanced_data_profile_spark.session import hadoop_path_exists, pyarrow_path

MANIFEST_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("part_id", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("started_at", T.DoubleType(), True),
    T.StructField("finished_at", T.DoubleType(), True),
    T.StructField("n_rows", T.LongType(), True),
    T.StructField("metrics_json", T.StringType(), True),
    T.StructField("input_path", T.StringType(), True),
])


class Manifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        return hadoop_path_exists(self.spark, self.path)

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def done_parts(self) -> DataFrame:
        """Latest-status-wins view of completed partitions."""
        m = self.read()
        latest = (
            m.groupBy("part_id")
            .agg(F.max_by("status", F.coalesce("finished_at", "started_at")).alias("status"))
        )
        return latest.where(F.col("status") == "done").select("part_id")

    def pending(self, parts: DataFrame, part_col: str = "part_id") -> DataFrame:
        """Partitions still to process: anti-join against done set."""
        done = self.done_parts().withColumnRenamed("part_id", "__done_pid")
        return parts.join(
            F.broadcast(done),
            parts[part_col].cast("string") == F.col("__done_pid"),
            "left_anti",
        )

    def record(
        self,
        run_id: str,
        part_id: str,
        status: str,
        started_at: float | None = None,
        n_rows: int | None = None,
        metrics: dict | None = None,
        input_path: str | None = None,
    ) -> None:
        self.record_many([{
            "run_id": run_id, "part_id": str(part_id), "status": status,
            "started_at": started_at, "n_rows": n_rows,
            "metrics": metrics, "input_path": input_path,
        }])

    def record_many(self, records: list[dict]) -> None:
        """One parquet append for a batch of per-partition rows — a
        manifest commit is one small file per run, never one job per
        partition (a per-partition write is seconds of fixed Spark
        overhead each; at 10^4 partitions that would dominate the run).

        Written driver-side with pyarrow (milliseconds) instead of a
        Spark job (seconds of scheduling for an 8-row file); the layout
        is a plain parquet directory Spark reads back unchanged. On a
        real cluster this would be an Iceberg/metastore append — also a
        driver-side metadata commit, same shape. The directory is
        created and written through the filesystem pyarrow resolves
        from the path, so a file:// output dir lands where Spark reads
        it back (hdfs:// and s3a:// go through pyarrow's own HDFS and
        S3 filesystems)."""
        import pyarrow as pa
        import pyarrow.fs as pafs
        import pyarrow.parquet as pq

        now = time.time()
        rows = {
            "run_id": [], "part_id": [], "status": [], "started_at": [],
            "finished_at": [], "n_rows": [], "metrics_json": [], "input_path": [],
        }
        for r in records:
            rows["run_id"].append(r["run_id"])
            rows["part_id"].append(str(r["part_id"]))
            rows["status"].append(r["status"])
            rows["started_at"].append(r.get("started_at"))
            rows["finished_at"].append(
                now if r["status"] in ("done", "failed") else None
            )
            rows["n_rows"].append(r.get("n_rows"))
            rows["metrics_json"].append(json.dumps(r.get("metrics") or {}))
            rows["input_path"].append(r.get("input_path"))
        table = pa.table(rows, schema=pa.schema([
            ("run_id", pa.string()), ("part_id", pa.string()),
            ("status", pa.string()), ("started_at", pa.float64()),
            ("finished_at", pa.float64()), ("n_rows", pa.int64()),
            ("metrics_json", pa.string()), ("input_path", pa.string()),
        ]))
        target = pyarrow_path(self.path)
        if "://" not in target:
            target = os.path.abspath(target)  # from_uri needs a scheme or /
        fs, root = pafs.FileSystem.from_uri(target)
        fs.create_dir(root, recursive=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, f"{root}/{fname}", filesystem=fs)


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
