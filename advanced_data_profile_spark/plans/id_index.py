"""Incremental cross-run global uniqueness via a maintained bucketed
id-index (north_rule: uniqueness of image_id at 10^12-image scale).

The dedicated full-table pass (pipeline.global_uniqueness_check) has
the right semantics but the wrong cost model at design scale: every
invocation rescans the whole payload table. This module replaces the
rescan with a MAINTAINED INDEX:

- at validation time each run APPENDS its partitions' per-(key,
  partition) counts to a parquet table bucketed by the key
  (``bucketBy(N, key)`` — the Spark-catalog spelling of Iceberg's
  ``bucket(N, image_id)`` partition transform). The append reuses the
  run's counts: the pipeline hands `index_write` the per-(key,
  partition) relation its uniqueness check already persisted
  (constraints.key_counts), so the append runs no aggregation and
  never touches payload bytes; each append adds one file per bucket.
- the global check is then a PER-BUCKET SELF-CHECK over the index:
  every occurrence of a key lives in the same bucket by construction,
  so the duplicate-detection aggregations plan with ZERO Exchange
  (asserted in tests/test_id_index.py) and never re-read the payload
  table. At 10^12 rows this turns an O(table) rescan per check into
  O(index) = O(distinct keys) with no shuffle.

Crash safety: the append runs BEFORE the manifest commit; a crash
between them makes the rerun append the same partition again under a
new stamp. The check dedupes by keeping the LATEST append per
(key, partition) — max_by(n, (appended_at, run_id)) so wall-clock ties
between replays break deterministically by run_id — and replays never
create false duplicates, while genuine same-partition duplicate keys
(n > 1 within one append) are preserved.

APPEND-ONLY PRECONDITION: latest-append-wins assumes a partition's key
set only gets re-APPENDED identically (crash replay), never
regenerated with keys removed or moved. If a partition is ever
backfilled/regenerated (e.g. rerun with --no-resume over changed
payload), ``index_compact(..., supersede_parts=True)`` must run
afterwards: it drops every index row not written by each partition's
LATEST run, so the regenerated partition fully supersedes its stale
state. plans.pipeline WIRES THIS AUTOMATICALLY — it detects
re-validation (pending partitions that already have 'done' manifest
rows, an O(partitions) driver-side manifest read) and runs the
supersede compaction right after its index append, so a backfill needs
no manual compact call (tests/test_id_index.py::
test_pipeline_auto_supersedes_on_revalidation). Routine compaction
(supersede_parts=False) keeps only the latest row per (key,
partition), bounding the check's cost at O(distinct keys) no matter
how many runs have appended.

Lifecycle guards: every append asserts the bucket count matches the
existing table's spec — a silent mismatch would break the per-bucket
clustering the zero-Exchange check rests on. DEFAULT_BUCKETS=16 is a
sandbox number: size buckets so each holds O(10^7-10^8) keys at design
scale (10^12 keys -> O(10^4-10^5) buckets), and keep the count FIXED
for the table's lifetime — changing it requires a full rewrite.

Outputs are IDENTICAL in shape and values to the full-pass check
(equivalence-tested): kind='unique_global' RESULT_COLUMNS rows per
partition into constraint_results_global, violation rows with
duplicate_count detail into violations_global, one part_id='__global__'
manifest lineage row.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators.constraints import (
    RESULT_COLUMNS,
    VIOLATION_COLUMNS,
)
from advanced_data_profile_spark.plans.manifest import (
    Manifest,
    latest_rows,
    new_run_id,
    write_table,
)

DEFAULT_BUCKETS = 16
# constraint_results_global as the full-rescan pass's Spark relation
# types it (RESULT_COLUMNS; n_rows is NULL for a partition not yet
# committed to the manifest)
_GLOBAL_RESULT_SCHEMA = pa.schema([
    pa.field(n, t, nullable=n in ("part_id", "n_rows")) for n, t in zip(RESULT_COLUMNS, (
        pa.string(), pa.string(), pa.string(), pa.int64(), pa.int64(), pa.bool_()))
])

def _append_order():
    """latest-append-wins ordering: wall-clock stamp, ties broken by
    run_id so two replays within clock resolution still pick ONE
    deterministic winner (they write identical counts, but determinism
    should hold on paper, not just in practice)."""
    return F.struct(F.col("appended_at"), F.col("run_id"))


def _existing_bucket_spec(
    spark: SparkSession, table_name: str
) -> tuple[int, str] | None:
    """(num_buckets, bucket_column) of an existing table, or None if the
    table does not exist. Read from DESCRIBE EXTENDED — the catalog's
    own record of the physical spec."""
    if not spark.catalog.tableExists(table_name):
        return None
    rows = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
    }
    n = rows.get("Num Buckets")
    cols = rows.get("Bucket Columns", "")
    if n is None:
        return None
    return int(n), cols.strip("[]` ")


def index_write(
    rows: DataFrame,
    table_name: str,
    location: str,
    run_id: str | None = None,
    buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Append ``rows``, per-(key, partition) counts with columns (key,
    part_id string, n), to the bucketed index table, creating it
    (external, at ``location``) on first use. The pipeline passes the
    counts its uniqueness check already built (constraints.key_counts),
    so the append runs no aggregation of its own.

    Raises ValueError if the existing table's bucket spec differs from
    ``buckets``: mixed bucket counts would silently break the
    per-bucket key clustering the zero-Exchange check depends on (see
    module docstring for bucket sizing — the count is fixed for the
    table's lifetime)."""
    spark = rows.sparkSession
    exists = spark.catalog.tableExists(table_name)
    existing = _existing_bucket_spec(spark, table_name)
    if exists and existing is None:
        raise ValueError(
            f"table {table_name} exists but carries no bucket spec — "
            "not an id-index table; refusing to append."
        )
    if existing is not None and existing != (buckets, "key"):
        raise ValueError(
            f"index table {table_name} is bucketed as {existing[0]} x "
            f"({existing[1]}); appending with buckets={buckets} would "
            "break bucket clustering. Pass the table's own bucket count "
            "(changing it requires a full rewrite)."
        )
    # hash-partitioned as the buckets are (the same murmur3 of key),
    # mod the largest divisor of the bucket count that the cores can
    # run in one wave: each bucket lands in exactly one write task, so
    # every append adds one file per bucket
    cores = spark.sparkContext.defaultParallelism
    n_tasks = max(d for d in range(1, min(buckets, cores) + 1) if buckets % d == 0)
    rows = rows.repartition(n_tasks, "key").select(
        "key", "part_id", "n",
        F.lit(run_id or new_run_id()).alias("run_id"),
        F.lit(float(time.time())).alias("appended_at"),
    )
    writer = rows.write.format("parquet").bucketBy(buckets, "key").sortBy("key")
    if exists:
        writer.mode("append").saveAsTable(table_name)
    else:
        writer.option("path", location).saveAsTable(table_name)


def index_append(
    df: DataFrame,
    table_name: str,
    location: str,
    key_col: str = "image_id",
    part_col: str = "part_id",
    run_id: str | None = None,
    buckets: int = DEFAULT_BUCKETS,
) -> None:
    """`index_write` of the per-(key, partition) counts of df's raw
    rows: one narrow aggregation over the key and partition columns —
    never reads payload bytes."""
    index_write(
        df.groupBy(
            F.col(key_col).alias("key"),
            F.col(part_col).cast("string").alias("part_id"),
        ).agg(F.count(F.lit(1)).alias("n")),
        table_name, location, run_id=run_id, buckets=buckets,
    )


def duplicate_keys(spark: SparkSession, table_name: str) -> DataFrame:
    """(key, cnt) for every key whose latest-per-partition counts sum
    past 1 — the core check. Both aggregations cluster on `key`, which
    the bucketed scan already provides, so the plan carries ZERO
    Exchange and never touches the payload table."""
    latest = _latest_per_part(spark, table_name)
    per_key = latest.groupBy("key").agg(F.sum("n").alias("cnt"))
    return per_key.where(F.col("cnt") > 1)


def _latest_per_part(spark: SparkSession, table_name: str) -> DataFrame:
    idx = spark.table(table_name)
    return idx.groupBy("key", "part_id").agg(
        F.max_by("n", _append_order()).alias("n")
    )


def index_compact(
    spark: SparkSession,
    table_name: str,
    staging_dir: str,
    supersede_parts: bool = False,
) -> int:
    """Rewrite the index keeping only the winning rows, so the check
    stays O(distinct keys) after any number of appends (without this,
    one append per (partition, run) accumulates forever and the
    "O(index)" check degrades toward O(appends)).

    - supersede_parts=False (routine): keep the latest append per
      (key, partition) — exactly the rows the check already reduces to.
    - supersede_parts=True (after a partition backfill/regeneration):
      keep only rows written by each PARTITION's latest run, so a
      regenerated partition fully supersedes its previous index state
      — stale keys from older runs disappear (see the append-only
      precondition in the module docstring).

    The rewrite preserves the table's bucket spec (read from the
    catalog) and its external location. Compacted rows are staged to
    ``staging_dir`` and fully materialized BEFORE the table is
    overwritten — a self-overwrite would otherwise read and truncate
    the same files. Returns the compacted row count.

    Scale shape: one shuffle-free pass for the routine mode (both aggs
    cluster on the bucketed key); the supersede mode adds an O(runs x
    partitions) broadcast join. The rewrite itself is O(index), run it
    on the cadence index growth warrants, not per-append."""
    spec = _existing_bucket_spec(spark, table_name)
    if spec is None:
        raise ValueError(f"{table_name} is not an existing bucketed index table")
    buckets, _ = spec
    location = next(
        r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
        if r.col_name == "Location"
    )
    idx = spark.table(table_name)
    if supersede_parts:
        latest_run = idx.groupBy("part_id").agg(
            F.max_by("run_id", _append_order()).alias("run_id")
        )
        kept = idx.join(F.broadcast(latest_run), ["part_id", "run_id"])
    else:
        kept = idx.groupBy("key", "part_id").agg(
            F.max_by(
                F.struct("n", "run_id", "appended_at"), _append_order()
            ).alias("w")
        ).select("key", "part_id", "w.n", "w.run_id", "w.appended_at")
    kept = kept.select("key", "part_id", "n", "run_id", "appended_at")
    kept.write.mode("overwrite").parquet(staging_dir)
    staged = spark.read.parquet(staging_dir)
    n_rows = staged.count()
    # overwrite IN PLACE (no explicit DROP): saveAsTable(Overwrite)
    # drops and recreates within one command, so there is no window in
    # which the catalog entry is gone while files remain — a crash
    # mid-rewrite leaves either the old table or the new one, and the
    # staging parquet survives for a manual re-run either way
    (
        staged.write.format("parquet")
        .bucketBy(buckets, "key")
        .sortBy("key")
        .option("path", location)
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    return n_rows


def global_uniqueness_from_index(
    spark: SparkSession,
    table_name: str,
    output_dir: str,
    constraint: str = "image_id_unique_global",
    key_col: str = "image_id",
) -> dict:
    """The index-backed twin of pipeline.global_uniqueness_check: same
    result/violation tables (overwritten — a global pass supersedes the
    previous one), same manifest lineage row, same summary dict; the
    data pass is the shuffle-free per-bucket self-check above instead
    of a full payload-table rescan. Only that self-check and the
    violations_global write run in Spark: the per-partition violation
    counts are collected, joined on the driver with the manifest's row
    totals, and constraint_results_global (partitions-sized) is written
    with pyarrow."""
    t0 = time.time()
    latest = _latest_per_part(spark, table_name)
    # every (key, partition) row of a duplicated key, with the key's
    # total: a window over the key, which the bucketed scan already
    # clusters, so the plan has no Exchange, no broadcast and no join,
    # and a pathologically duplicated corpus degrades to a bigger
    # window, never to a driver-side broadcast. A NULL key is one
    # window partition, as the null-safe duplicate check counts it
    dup_parts = (
        latest.withColumn("cnt", F.sum("n").over(Window.partitionBy("key")))
        .where(F.col("cnt") > 1)
        .persist()
    )
    try:
        per_part = dup_parts.groupBy("part_id").agg(F.sum("n").alias("n")).toArrow()
        violations = dup_parts.select(
            F.col("part_id"),
            F.lit(constraint).alias("constraint"),
            F.col("key").cast("string").alias("key"),
            F.to_json(F.struct(F.col("cnt").alias("duplicate_count"))).alias("detail"),
        )
        violations.select(*VIOLATION_COLUMNS).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/violations_global")
    finally:
        dup_parts.unpersist()
    viol = dict(zip(per_part["part_id"].to_pylist(), per_part["n"].to_pylist()))

    # per-partition row totals: each partition's latest done manifest
    # row. FULL outer with the violation counts: a partition indexed
    # but not yet manifest-committed (the crash window between index
    # append and manifest commit) must still appear here — otherwise
    # its rows would show in violations_global but vanish from
    # constraint_results_global and the two artifacts would disagree
    # transiently. Such partitions carry NULL n_rows until their
    # manifest row lands.
    manifest = Manifest(spark, f"{output_dir}/manifest")
    done = [r for r in manifest.rows()
            if r["status"] == "done" and r["part_id"] != "__global__"]
    newest = latest_rows(done)
    totals = {r["part_id"]: newest.get(r["part_id"], {}).get("n_rows") for r in done}
    parts = sorted(set(totals) | set(viol))
    n_viol = [viol.get(p, 0) for p in parts]
    write_table(pa.table({
        "part_id": parts,
        "constraint": [constraint] * len(parts),
        "kind": ["unique_global"] * len(parts),
        "n_rows": [totals.get(p) for p in parts],
        "n_violations": n_viol,
        "passed": [v == 0 for v in n_viol],
    }, schema=_GLOBAL_RESULT_SCHEMA), f"{output_dir}/constraint_results_global")

    n_violations = sum(n_viol)
    failed_parts = [p for p, v in zip(parts, n_viol) if v]
    table_rows = sum(n for n in totals.values() if n is not None)
    run_id = new_run_id()
    manifest.record(
        run_id, "__global__", "done", started_at=t0,
        n_rows=int(table_rows),
        metrics={
            "kind": "unique_global",
            "key_cols": [key_col],
            "mode": "index",
            "index_table": table_name,
            "n_violations": int(n_violations),
            "failed_partitions": failed_parts,
            "elapsed_sec": round(time.time() - t0, 3),
        },
    )
    return {
        "run_id": run_id,
        "n_violations": int(n_violations),
        "failed_partitions": failed_parts,
        "passed": n_violations == 0,
        "elapsed_sec": round(time.time() - t0, 3),
    }
