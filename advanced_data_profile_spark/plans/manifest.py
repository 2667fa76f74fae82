"""Checkpoint / resume manifest (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

The manifest is an append-only table of per-partition run records:

  (run_id, part_id, status, started_at, finished_at, n_rows,
   metrics_json, input_path)

Resume = drop the partitions whose latest manifest row is DONE (J5 in
SURVEY.md §2.6). The manifest is partitions-sized, so it is read on the
driver with pyarrow (`rows`, `done_set`) and the partition ids are
filtered against it there: no Spark job. Idempotence:
result tables are written with dynamic partition overwrite keyed by
part_id (`write_partitions` below for the driver-sized ones), so
re-processing a partition replaces (not duplicates) its output; the
manifest append of a `done` row is the commit point and is written
AFTER the results.

Storage is parquet-append; on a real cluster this would be an Iceberg
table with snapshot isolation — same reader/writer call shape.
"""

from __future__ import annotations

import json
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from advanced_data_profile_spark.session import hadoop_path_exists, pyarrow_fs

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
ARROW_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("part_id", pa.string()),
    ("status", pa.string()), ("started_at", pa.float64()),
    ("finished_at", pa.float64()), ("n_rows", pa.int64()),
    ("metrics_json", pa.string()), ("input_path", pa.string()),
])


def latest_rows(rows: list[dict]) -> dict[str, dict]:
    """part_id -> its row with the largest coalesce(finished_at,
    started_at), as Spark's max_by picks it: rows with neither time are
    ignored, and the first of equal times wins."""
    latest: dict[str, tuple[float, dict]] = {}
    for r in rows:
        ts = r["finished_at"] if r["finished_at"] is not None else r["started_at"]
        if ts is not None and (r["part_id"] not in latest or ts > latest[r["part_id"]][0]):
            latest[r["part_id"]] = (ts, r)
    return {p: r for p, (_, r) in latest.items()}


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

    def rows(self) -> list[dict]:
        """Every manifest row, read on the driver with pyarrow (the
        manifest is partitions-sized; no Spark job)."""
        import pyarrow.dataset as pads

        if not self.exists():
            return []
        fs, root = pyarrow_fs(self.path)
        return pads.dataset(
            root, schema=ARROW_SCHEMA, format="parquet", filesystem=fs
        ).to_table().to_pylist()

    def done_set(self) -> set[str]:
        """Latest-status-wins: the part_ids whose latest row is `done`."""
        return {p for p, r in latest_rows(self.rows()).items() if r["status"] == "done"}

    def done_parts(self) -> DataFrame:
        """`done_set` as a one-column (part_id) local relation."""
        return self.spark.createDataFrame(
            [(p,) for p in sorted(self.done_set())], "part_id string"
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
        table = pa.table(rows, schema=ARROW_SCHEMA)
        fs, root = pyarrow_fs(self.path)
        fs.create_dir(root, recursive=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, f"{root}/{fname}", filesystem=fs)


# characters Spark escapes in a partition directory value (%XX), as its
# partitionBy writer names them; NULL gets Hive's default partition name
_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(i) for i in range(1, 32)}
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _part_dir(v) -> str:
    if v is None:
        return f"part_id={_NULL_PART}"
    return "part_id=" + "".join(f"%{ord(c):02X}" if c in _ESCAPE else c for c in str(v))


def write_partitions(table, path: str, mode: str = "overwrite") -> None:
    """Driver-side write of a driver-sized result table: ``table`` (a
    pyarrow Table with a ``part_id`` column) becomes one parquet file
    per part_id=<v> directory under the Hadoop-URI table ``path``, the
    layout Spark's partitionBy writer produces — part_id lives in the
    directory names only, and the files keep the table's other columns
    and Arrow types, so spark.read.parquet reads the table back as if
    Spark had written it. Like record_many, milliseconds of pyarrow
    instead of a Spark job per write.

    ``overwrite`` has the semantics of Spark's dynamic partition
    overwrite. Every new file is first written under the hidden
    ``.staging`` directory at the table root (Spark and pyarrow.dataset
    skip ./_-prefixed names), then each present partition's directory
    is emptied and its file renamed into it; partitions not in
    ``table`` are untouched. The staging directory a crashed overwrite
    left behind is removed before anything is written. ``append`` adds
    one file per present partition, written under a hidden name in its
    directory and then renamed."""
    import pyarrow.compute as pc
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    fs, root = pyarrow_fs(path)
    staging = f"{root}/.staging"

    def drop_staging():
        if fs.get_file_info(staging).type != pafs.FileType.NotFound:
            fs.delete_dir(staging)

    if mode == "overwrite":
        drop_staging()
    fs.create_dir(root, recursive=True)
    # sorted, each part_id is one contiguous slice; value_counts keeps
    # the order of first appearance
    table = table.sort_by("part_id")
    vc = pc.value_counts(table["part_id"])
    data = table.drop_columns("part_id")
    moves, start = [], 0
    for v, n in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()):
        d, name = _part_dir(v), f"part-{uuid.uuid4().hex}.parquet"
        tmp = f"{staging}/{d}/{name}" if mode == "overwrite" else f"{root}/{d}/.{name}"
        fs.create_dir(tmp.rsplit("/", 1)[0], recursive=True)
        pq.write_table(data.slice(start, n), tmp, filesystem=fs)
        moves.append((tmp, f"{root}/{d}", name))
        start += n
    for tmp, d, name in moves:
        if mode == "overwrite":
            fs.delete_dir_contents(d, missing_dir_ok=True)
        fs.create_dir(d, recursive=True)
        fs.move(tmp, f"{d}/{name}")
    if mode == "overwrite":
        drop_staging()


def read_partition(path: str, part_id, columns: list[str] | None = None):
    """The ``columns`` of one part_id=<v> directory of the Hadoop-URI
    table ``path``, as `write_partitions` or Spark's partitionBy writer
    lays it out, read on the driver with pyarrow (hidden ./_-prefixed
    files skipped); None when the directory is missing or holds no
    rows."""
    import pyarrow.dataset as pads
    import pyarrow.fs as pafs

    fs, root = pyarrow_fs(path)
    d = f"{root}/{_part_dir(part_id)}"
    if fs.get_file_info(d).type == pafs.FileType.NotFound:
        return None
    t = pads.dataset(d, format="parquet", filesystem=fs).to_table(columns=columns)
    return t if t.num_rows else None


def write_table(table, path: str) -> None:
    """Replace the Hadoop-URI directory ``path`` with ``table`` (a
    pyarrow Table) as ONE flat parquet file, from the driver: a
    partitions-sized table that Spark reads back as if its own writer
    had made it. The file is written under a hidden name, the
    directory's other entries are removed, then it is renamed in."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, root = pyarrow_fs(path)
    fs.create_dir(root, recursive=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, f"{root}/.{name}", filesystem=fs)
    for info in fs.get_file_info(pafs.FileSelector(root)):
        if info.base_name != f".{name}":
            is_dir = info.type == pafs.FileType.Directory
            (fs.delete_dir if is_dir else fs.delete_file)(info.path)
    fs.move(f"{root}/.{name}", f"{root}/{name}")


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
