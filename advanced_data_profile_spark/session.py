"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores (not 200), AQE on (runtime coalesce + skew-join
splitting), Arrow on for pandas-UDF exchange, UTC session timezone so
results compare cleanly against DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "advanced_data_profile_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) else all.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image rows are wide (binary payloads ~KB-MB); keep Arrow batches
        # bounded by record count so a batch stays within executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # bench tables are single parquet files; smaller split size keeps
        # all local cores busy (on a cluster the default 128m is fine —
        # files there are many and splits abound)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# cgroup v2 memory limit of this process's container ("max" when unset)
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def default_driver_memory() -> str:
    """Driver heap when $SPARK_DRIVER_MEM is unset: half of the memory
    this process may use (physical RAM, or the cgroup memory limit
    when that is lower), capped at 24g. A heap larger than that
    memory lets the JVM grow until the OS kills it."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open(_CGROUP_MEMORY_MAX) as f:
            mem = min(mem, int(f.read()))
    except (OSError, ValueError):
        pass  # no cgroup v2 limit, or none set
    return f"{min((mem >> 20) // 2, 24 << 10)}m"


def pyarrow_path(p: str) -> str:
    """Hadoop URI -> a path pyarrow's filesystem layer resolves:
    file:/ URIs become plain posix paths, s3a:// (the Hadoop S3
    connector scheme) maps to pyarrow's s3://; everything else passes
    through (pyarrow handles hdfs://, gs://, s3:// natively)."""
    if p.startswith("file:"):
        return p[len("file:"):]
    if p.startswith("s3a://"):
        return "s3://" + p[len("s3a://"):]
    return p


def pyarrow_fs(path: str):
    """(pyarrow FileSystem, path on it) for a Hadoop URI, so a driver-side
    pyarrow write lands where Spark reads it back: a file:// output dir
    on the local disk, hdfs:// and s3a:// on pyarrow's own HDFS and S3
    filesystems. A plain relative path is made absolute first
    (FileSystem.from_uri needs a scheme or a leading /)."""
    import pyarrow.fs as pafs

    target = pyarrow_path(path)
    if "://" not in target:
        target = os.path.abspath(target)
    return pafs.FileSystem.from_uri(target)


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence probe via the Hadoop FileSystem API
    (works for file://, hdfs://, s3a:// — wherever the output lives).

    Replaces the read-and-catch probe pattern: a `spark.read...collect()`
    inside `except Exception` cannot distinguish 'not written yet' from a
    corrupt footer / fs hiccup / permission error, and the expected
    PATH_NOT_FOUND case spews a py4j stack trace into the logs."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def hadoop_touch(spark: SparkSession, path: str, content: str = "") -> None:
    """Filesystem-agnostic marker-file write via the Hadoop FileSystem
    API (file://, hdfs://, s3a:// — wherever the output lives); the
    durable-intent companion of hadoop_path_exists."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def hadoop_remove(spark: SparkSession, path: str) -> None:
    """Filesystem-agnostic single-file delete (no-op if absent)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        fs.delete(jpath, False)


def hadoop_list_files(spark: SparkSession, path: str) -> list[str]:
    """Non-recursive listing of a directory's data files (hidden
    _/.-prefixed entries dropped) via the Hadoop FileSystem API —
    the snapshot primitive for readers that must pin a file list
    against concurrent appends.

    Raises if the directory contains subdirectories: a partitioned
    layout under a flat-contract path means the caller would silently
    snapshot zero data files (e.g. a streaming batch_id-partitioned
    state written into a flat index path) — every batch would "match
    nothing". Loud failure beats a silently empty index."""
    return [p for p, _ in hadoop_list_file_sizes(spark, path)]


def hadoop_list_file_sizes(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """hadoop_list_files with each file's length, both from the same
    FileStatus (no extra call per file)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    visible = [
        st
        for st in fs.listStatus(jpath)
        if not st.getPath().getName().startswith(("_", "."))
    ]
    dirs = [st.getPath().toString() for st in visible if st.isDirectory()]
    if dirs:
        raise ValueError(
            f"hadoop_list_files({path}): flat data-file layout expected, "
            f"found subdirectories {dirs[:3]}{'...' if len(dirs) > 3 else ''} "
            "— partitioned state does not belong under this path "
            "(streaming batch_id-partitioned state has its own path "
            "contract)."
        )
    return [(st.getPath().toString(), int(st.getLen())) for st in visible]
