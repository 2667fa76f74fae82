"""End-to-end validation pipeline: profile → constraints → payload
verify → drift → manifest. The north_rule job.

One run processes ALL pending partitions in one set of Spark jobs
(grouped by part_id inside each job — no per-partition driver loop),
then commits one manifest row per partition. Resume skips partitions
whose latest manifest status is `done`. Result tables are overwritten
per-partition (dynamic partition overwrite) so re-runs are idempotent.

The run is one declared DAG of legs (`_Legs`): each leg is a driver
thread that starts, in declaration order, once its `after=` legs have
resolved, and each Spark job it submits carries the leg's name as its
job description. The decode legs are declared first — decode is the
critical path and FIFO scheduling lets the metadata legs back-fill the
cores its wave leaves idle — and every write starts the moment its own
inputs exist. Legs and their `after=` edges, in declaration order:

  plan                      partition listing + manifest done set
                            (after id_index_supersede_heal when a
                            crashed backfill left its marker)
  decode_plan               row-group task listing for the payload pass
  decode_verify             after decode_plan: the payload pass, the only
                            scan reading `bytes`
  histograms                stored-baseline snapshot, bin edges, counts
  write_histograms          after histograms
  drift_results             after histograms: KS/PSI verdicts
  category_counts, write_category_counts, drift_results_categorical
                            the same three legs for categorical drift
  profile_and_counts        profile + row-wise constraint counts FUSED
                            into one wide aggregation (exact mode:
                            separate `profile` and `constraint_counts`)
  profiles                  after profile_and_counts (melt, no scan)
  rowwise_results           after profile_and_counts (melt, no scan)
  unique_referential        uniqueness (two-stage agg, global within the
                            run) + referential anti-join
  unique_violations         after unique_referential
  violations                row-wise violation samples (pushdown)
  write_row_sample          no inputs
  write_column_profiles     after profiles
  write_profile_sketches    after profile_and_counts
  write_violations          after violations, unique_violations
  write_constraint_results  after rowwise_results, unique_referential
  write_verdicts            after write_constraint_results,
                            decode_verify (append to the same table)
  id_index_append           after every leg above
  id_index_supersede        after id_index_append (backfills only)
  manifest                  after every leg above: the commit point
  global_uniqueness         after manifest, when cfg.global_unique

Scan economy per run (any number of partitions/columns, approx mode):
one metadata scan for profile_and_counts, one for unique_referential,
one bytes scan for decode_verify, one for each drift family's counts
(plus, on fresh runs, a tiny min/max agg that pins bin edges without
waiting for the profile) and a violation-sample scan that reads only
violating rows.

Uniqueness scope note: within one run the check is global across the
partitions being processed (cross-partition duplicates are detected and
attributed to every partition holding the key). Across resumed runs the
already-done partitions are not rescanned — the cross-RUN global check
is the dedicated full-table pass `global_uniqueness_check` below (run
on demand, or per run via PipelineConfig.global_unique), writing
kind='unique_global' rows to constraint_results_global.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators import constraints as C
from advanced_data_profile_spark.operators.drift import (
    categorical_counts,
    categorical_drift_verdicts,
    categorical_psi_chi2,
    drift_verdicts,
    histogram,
    ks_psi,
    shared_bins,
)
from advanced_data_profile_spark.operators.image_verify import (
    validate_payloads,
    validation_verdicts,
)
from advanced_data_profile_spark.operators.stats import (
    PROFILE_FIELDS,
    SKETCH_FIELDS,
    SKIP_PROFILE_TYPES,
    column_profile_struct,
    profile,
    sketch_state_struct,
)
from advanced_data_profile_spark.plans.manifest import Manifest, new_run_id
from advanced_data_profile_spark.session import (
    hadoop_path_exists,
    hadoop_remove,
    hadoop_touch,
)
from advanced_data_profile_spark.sources.images import phash_reference, read_images

SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


@dataclass
class PipelineConfig:
    approx: bool = True                    # sketch mode for distinct/quantiles
    validate_images: bool = True           # run the bytes-reading pass
    # How the bytes-reading decode pass scans payloads:
    #   "pyarrow-files" — row-group tasks read by pyarrow INSIDE the
    #       Python workers (image_verify.validate_payloads_files);
    #       bytes never cross the JVM, measured AT the frameworkless
    #       kernel floor (3.97s vs 6.1s best-JVM / 13.5s old 16m-split
    #       JVM at the 512k scaling fixture, local[32] min-of-3);
    #   "jvm" — the classic Catalyst parquet scan + mapInArrow;
    #   "auto" (default) — pyarrow-files when the source is a hive
    #       part_id=K parquet layout AND the row-group task count
    #       covers the cluster (>= defaultParallelism); otherwise jvm
    #       (non-parquet/Iceberg sources, flat layouts, or inputs too
    #       small to fill the cluster at row-group granularity).
    decode_path: str = "auto"
    drift: bool = True
    baseline_part: int = 0                 # drift baseline partition
    drift_columns: tuple = ("w", "h", "caption_len")
    # order-free drift for categorical columns (PSI + chi-square over
    # category frequencies — a new image format appearing in a
    # partition is drift numeric binning can't see); counts persisted
    # to {output_dir}/category_counts with the same resume/baseline
    # discipline as histograms, verdicts to drift_results_categorical
    categorical_drift_columns: tuple = ("fmt",)
    ks_threshold: float = 0.15
    psi_threshold: float = 0.25
    max_w: int = 8192
    max_h: int = 8192
    known_fmts: tuple = ("raw", "bmp")
    sample_violations: int = 20
    extra_checks: list = field(default_factory=list)
    table_format: str = "parquet"          # "iceberg" on a real cluster
    global_unique: bool = False            # cross-RUN uniqueness pass per run
    # Incremental global uniqueness (plans.id_index): when set, each run
    # appends its partitions' (image_id, part_id) counts to this bucketed
    # index table and global_unique uses the shuffle-free per-bucket
    # self-check instead of a full payload-table rescan — the scale-safe
    # path at 10^12 rows. Location defaults to {output_dir}/id_index.
    id_index_table: str | None = None
    id_index_location: str | None = None
    id_index_buckets: int = 16
    # persist per-(partition, column) KLL/HLL sketch STATE next to the
    # profile values (approx mode only; the fused agg shares buffers so
    # the marginal scan cost is ~zero) — later rollups merge stored
    # sketches instead of rescanning raw data
    persist_sketches: bool = True


class _Legs:
    """The pipeline's leg runner — the only place this module starts
    threads.

    ``leg(name, fn, after=[...])`` starts one driver thread per leg, in
    declaration order. The thread waits for its ``after`` legs, then
    calls ``fn`` with their results; with ``persist=True`` the returned
    DataFrame is persisted and materialized (small result relations
    are, before their writes: every .write otherwise re-computes its
    full lineage). The leg's Spark jobs carry its name as their job
    description, and ``times[name]`` is its [start, end] in seconds
    from the runner's creation. Once any leg has failed, legs that have
    not started yet are skipped.

    Used as a context manager. Exit joins every leg (a caller that
    catches the error and retries must never race writer threads of
    the failed run), unpersists everything persisted through it,
    restores the session's split-size conf, and raises the first error
    with every later one attached as a note."""

    def __init__(self, spark: SparkSession):
        self.spark, self.t0 = spark, time.time()
        self.split = spark.conf.get(SPLIT_CONF)
        self.times: dict[str, list[float]] = {}
        self.threads: dict[str, threading.Thread] = {}
        self.results: dict = {}
        self.errors: list[tuple[str, BaseException]] = []
        self.persisted: list[DataFrame] = []

    def persist(self, d: DataFrame, materialize: bool = True) -> DataFrame:
        self.persisted.append(d.persist())
        if materialize:
            d.count()
        return d

    def leg(self, name: str, fn, after: tuple | list = (), persist: bool = False):
        deps = [self.threads[a] for a in after]
        sc = self.spark.sparkContext

        def run():
            for t in deps:
                t.join()
            if self.errors or not all(a in self.results for a in after):
                return
            sc.setJobDescription(name)
            start = time.time() - self.t0
            try:
                out = fn(*(self.results[a] for a in after))
                self.results[name] = self.persist(out) if persist else out
            except BaseException as e:
                self.errors.append((name, e))
            finally:
                self.times[name] = [start, time.time() - self.t0]
                sc.setJobDescription(None)

        self.threads[name] = threading.Thread(target=run, name=f"leg:{name}")
        self.threads[name].start()

    def result(self, name: str | None = None):
        """Joins leg ``name`` (every leg when None), raises the first
        error any leg has raised, and returns the leg's result."""
        for t in [self.threads[name]] if name else list(self.threads.values()):
            t.join()
        if self.errors:
            raise self.errors[0][1]
        return self.results.get(name)

    def timeline(self) -> dict[str, list[float]]:
        return {n: [round(s, 3), round(e, 3)] for n, (s, e) in self.times.items()}

    def __enter__(self) -> _Legs:
        return self

    def __exit__(self, etype, exc, tb) -> None:
        for t in self.threads.values():
            t.join()
        for d in self.persisted:
            try:
                d.unpersist()
            except Exception as e:
                self.errors.append(("unpersist", e))
        self.spark.conf.set(SPLIT_CONF, self.split)
        first = exc if exc is not None else next((e for _, e in self.errors), None)
        for name, e in self.errors:
            if e is not first:
                first.add_note(f"later error in leg {name!r}: {e!r}")
        if exc is None and first is not None:
            raise first


def _list_hive_part_ids(spark: SparkSession, path: str) -> list[int] | None:
    """part_id values of a hive-partitioned parquet dir via one
    FileSystem listing (no Spark job, no scan). Returns None when the
    layout is not a clean part_id=K hive dir (flat files, foreign
    subdirs, non-integer values) — callers fall back to the scan-based
    distinct, so a surprising layout degrades to the old behavior
    instead of mis-listing."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        out = []
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if not (st.isDirectory() and name.startswith("part_id=")):
                return None
            out.append(int(name.split("=", 1)[1]))
        return sorted(out) or None
    except Exception:
        return None


def image_checks(images_ref: DataFrame, cfg: PipelineConfig) -> list[C.Check]:
    return [
        C.not_null("caption_not_null", "caption"),
        C.domain("w_domain", (F.col("w") > 0) & (F.col("w") <= cfg.max_w), "w"),
        C.domain("h_domain", (F.col("h") > 0) & (F.col("h") <= cfg.max_h), "h"),
        C.domain("fmt_known", F.col("fmt").isin(*cfg.known_fmts), "fmt"),
        C.unique("image_id_unique", "image_id"),
        C.referential("phash_ref", "phash", images_ref, "phash"),
        *cfg.extra_checks,
    ]


def _payload_verdicts(
    spark: SparkSession, images_path: str, pending_ids: list, cfg: PipelineConfig
) -> DataFrame:
    """The decode pass's verdict rows over the pending partitions
    (lazy), through the scan cfg.decode_path selects."""
    validated = None
    if cfg.decode_path in ("auto", "pyarrow-files"):
        from advanced_data_profile_spark.operators.image_verify import (
            decode_file_tasks,
            validate_payloads_files,
        )

        # no first-partition existence gate: decode_file_tasks itself
        # skips pending partitions without a hive dir, and a flat
        # non-hive layout simply yields zero tasks
        tasks = []
        if cfg.table_format == "parquet":
            tasks = decode_file_tasks(spark, images_path, pending_ids)
        enough = len(tasks) >= spark.sparkContext.defaultParallelism
        if tasks and (cfg.decode_path == "pyarrow-files" or enough):
            validated = validate_payloads_files(
                spark, images_path, pending_ids, tasks=tasks
            )
    if validated is None and cfg.decode_path == "pyarrow-files":
        # the user FORCED the pyarrow leg; silently running the JVM
        # scan instead would ignore an explicit choice (and its
        # measured perf expectations). "auto" keeps its fallback.
        raise ValueError(
            "decode_path='pyarrow-files' was forced but the "
            f"pyarrow decode leg cannot serve {images_path!r}: "
            "non-parquet table format, no part_id=K hive "
            "layout, or no data files under the pending "
            "partitions. Use decode_path='auto' to allow "
            "the JVM scan fallback."
        )
    if validated is None:
        # JVM scan leg in a child session (shared context, independent
        # SQLConf). 128m splits: the old 16m "balanced small tasks"
        # sizing was A/B-measured 2x slower at scale (13.5s vs 8.1s
        # @128m / 6.1s @256m on the 512k fixture) — per-task
        # scheduling + Arrow-stream setup dominates below ~100m; 128m
        # keeps a small-fixture wave balanced while near the
        # large-split plateau.
        s2 = spark.newSession()
        s2.conf.set(SPLIT_CONF, "128m")
        df2 = read_images(s2, images_path, fmt=cfg.table_format).where(
            F.col("part_id").isin(pending_ids)
        )
        validated = validate_payloads(df2)
    return validation_verdicts(validated)


def run_pipeline(
    spark: SparkSession,
    images_path: str,
    output_dir: str,
    phash_ref: DataFrame | None = None,
    resume: bool = True,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Returns a run summary dict (rows processed, timings, the per-leg
    timeline under "legs", verdicts).

    Every phase runs as a leg of one `_Legs` runner, so when any leg
    raises, every leg is joined, every relation the run persisted is
    released and the session's split-size conf is restored before the
    first error propagates; later errors are attached to it as notes."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    with _Legs(spark) as legs:
        return _run_pipeline(
            spark, legs, images_path, output_dir, phash_ref, resume,
            cfg or PipelineConfig(),
        )


def _run_pipeline(
    spark: SparkSession,
    legs: _Legs,
    images_path: str,
    output_dir: str,
    phash_ref: DataFrame | None,
    resume: bool,
    cfg: PipelineConfig,
) -> dict:
    images = read_images(spark, images_path, fmt=cfg.table_format)
    manifest = Manifest(spark, f"{output_dir}/manifest")
    run_id = new_run_id()
    supersede_marker = f"{output_dir}/id_index_compact_pending"

    def _supersede():
        from advanced_data_profile_spark.plans.id_index import index_compact

        index_compact(
            spark,
            cfg.id_index_table,
            staging_dir=f"{output_dir}/id_index_compact_staging",
            supersede_parts=True,
        )
        hadoop_remove(spark, supersede_marker)

    # heal a crashed supersede-compaction FIRST: if a prior backfill
    # run crashed between its index append and its compaction, the
    # marker survives while the old runs' 'done' manifest rows make
    # every partition look finished — a resume retry would early-return
    # below and the stale index rows would never be superseded.
    if cfg.id_index_table and hadoop_path_exists(spark, supersede_marker):
        legs.leg("id_index_supersede_heal", _supersede)
        legs.result("id_index_supersede_heal")

    def _plan():
        # partition discovery via a filesystem listing of the hive
        # layout: Spark's metadata-only-query rule is off by default,
        # so select(part_id).distinct() SCANS the table. Both sides are
        # driver-sized (partition ids + done set), so resume resolves
        # in Python and a fresh output dir costs ZERO Spark jobs here
        # (manifest part_ids are strings; compare canonically).
        # Non-hive/iceberg sources fall back to the scan.
        pids = (
            _list_hive_part_ids(spark, images_path)
            if cfg.table_format == "parquet" else None
        )
        if pids is None:
            all_parts = images.select("part_id").distinct()
            pending = manifest.pending(all_parts) if resume else all_parts
            return [r.part_id for r in pending.collect()]
        done = set()
        if resume and manifest.exists():
            done = {r.part_id for r in manifest.done_parts().collect()}
        return [p for p in pids if str(p) not in done]

    legs.leg("plan", _plan)
    pending_ids = legs.result("plan")
    if not pending_ids:
        return {
            "run_id": run_id, "partitions": 0, "rows": 0,
            "elapsed_sec": time.time() - legs.t0, "skipped": "all partitions done",
            "legs": legs.timeline(),
        }
    if cfg.validate_images:
        # the decode pass is the critical path: its legs start first,
        # before the metadata plans are even built, so its footer-read
        # and decode jobs are submitted ahead of the metadata jobs and
        # FIFO scheduling lets those back-fill the cores it leaves idle.
        # Planning is its own leg, so decode_verify times the job alone.
        legs.leg("decode_plan", lambda: _payload_verdicts(spark, images_path, pending_ids, cfg))
        legs.leg("decode_verify", lambda v: v, after=["decode_plan"], persist=True)
    # partition pruning: isin on the partition column prunes at the scan
    df = images.where(F.col("part_id").isin(pending_ids))
    meta = df.withColumn("caption_len", F.length("caption"))
    meta_nb = meta.drop("bytes")

    checks = image_checks(
        phash_ref if phash_ref is not None else phash_reference(images), cfg
    )
    rowwise = [c for c in checks if c.kind in ("not_null", "domain")]
    others = [c for c in checks if c.kind in ("unique", "referential")]
    vio_row = C.rowwise_violation_samples(
        meta, rowwise, "part_id", cfg.sample_violations
    )
    res_other, vio_other = C.evaluate(
        df, others, part_col="part_id", sample_violations=cfg.sample_violations,
        cached=legs.persisted,
    )
    # metadata-only scans get large splits (split accounting counts the
    # pruned-out bytes column, so the default would over-parallelize
    # scans that read ~2% of each file); the decode pass keeps its own
    # split sizing
    spark.conf.set(SPLIT_CONF, "256m")
    n_out = min(spark.sparkContext.defaultParallelism, max(1, len(pending_ids)))

    def _write(d: DataFrame, table: str, mode: str = "overwrite") -> None:
        # every part_id-partitioned result write: hash-repartition by
        # the partition column so the write TASKS cover the dynamic
        # partitions in parallel while each partition dir still gets
        # exactly ONE data file (a partition value lands in exactly one
        # task). coalesce(1) would serialize every partition's parquet
        # writer through a single task (0.65s -> 0.28s per write job at
        # the 128k steady fixture, same file count).
        d.repartition(n_out, "part_id").write.mode(mode).partitionBy(
            "part_id"
        ).parquet(f"{output_dir}/{table}")

    if cfg.approx:
        # FUSED wide agg: every profile stat AND every row-wise
        # constraint count in one scan/job; the melts reuse its
        # persisted rows (one per partition) — no extra scan. Built
        # before the metadata legs start: analysing this wide plan
        # while they run would hold their jobs back (~1 s at 4 cores).
        dtypes = {f.name: f.dataType for f in meta_nb.schema.fields}
        prof_cols = [
            f.name for f in meta_nb.schema.fields
            if not isinstance(f.dataType, SKIP_PROFILE_TYPES)
            and f.name != "part_id"
        ]
        wide = meta_nb.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[column_profile_struct(c, dtypes[c], True) for c in prof_cols],
            *([sketch_state_struct(c, dtypes[c]) for c in prof_cols]
              if cfg.persist_sketches else []),
            *C.rowwise_count_exprs(rowwise),
        )

        def _melt(w: DataFrame, prefix: str, fields) -> DataFrame:
            s = w.select("part_id", F.explode(
                F.array(*[F.col(f"{prefix}{c}") for c in prof_cols])
            ).alias("s"))
            return s.select("part_id", *[F.col(f"s.{f}").alias(f) for f, _ in fields])

    # unscorable drift cells are REPORTED, not silently dropped and not
    # disguised as fake 0.0 timing entries: this dict lands in the
    # manifest metrics next to (never inside) the timings
    drift_summary: dict = {}
    base_pending = str(cfg.baseline_part) in {str(p) for p in pending_ids}
    expect_grps = sorted(
        str(p) for p in pending_ids if str(p) != str(cfg.baseline_part)
    )

    def _drift(name, table, cols, count, score, verdicts, keys, prefix):
        """One drift family as three legs, independent of every
        metadata leg so they run with the compute wave: ``table``
        snapshots the stored baseline and persists this run's counts,
        ``write_<table>`` stores them per partition, and ``name``
        scores them against the baseline and writes the verdicts."""
        cols = [c for c in cols if c in meta.columns]
        if not cols:
            return []
        path = f"{output_dir}/{table}"

        def _counts():
            # resumed run whose baseline partition is already done: the
            # stored baseline is the comparison target, SNAPSHOT
            # driver-side before write_<table> dynamic-overwrites the
            # files a lazy plan would re-read (it is tiny). Existence is
            # a FileSystem-API probe (output may live on hdfs:// or
            # s3a://), not a read-and-catch: a real read error must
            # propagate, not be mistaken for 'first run'.
            rows, schema = [], None
            if not base_pending and hadoop_path_exists(spark, path):
                stored = (
                    spark.read.parquet(path)
                    .where(F.col("grp") == cfg.baseline_part)
                    .select("grp", "column", *keys, "cnt")
                )
                rows, schema = stored.collect(), stored.schema
            base = spark.createDataFrame(rows, schema) if rows else None
            return base, legs.persist(count(cols, rows))

        def _score(counts):
            base, cur = counts
            if base is None and not base_pending:
                # no baseline anywhere (e.g. a prior run recorded
                # partitions done without writing counts): they are
                # still stored for future runs, but null-scored
                # "failed" rows would be a silent lie
                drift_summary[f"{prefix}skipped_no_baseline"] = sorted(cols)
                return
            if base is not None:
                cur = cur.unionByName(base, allowMissingColumns=True)
            scores = legs.persist(score(cur, cfg.baseline_part), materialize=False)
            # cells the scorer dropped (a column empty in the baseline
            # or in one group) get explicit per-cell skipped markers —
            # never a NULL-coerced FAIL verdict and never a silent drop
            scored = {
                (str(r.grp), r.column)
                for r in scores.select("grp", "column").collect()
            }
            skipped = [
                {"part_id": g, "column": c}
                for g in expect_grps for c in cols if (g, c) not in scored
            ]
            if skipped:
                drift_summary[f"{prefix}skipped"] = skipped
            _write(verdicts(scores), name)

        legs.leg(table, _counts)
        legs.leg(
            f"write_{table}",
            lambda c: _write(c[1].withColumn("part_id", F.col("grp")), table),
            after=[table],
        )
        legs.leg(name, _score, after=[table])
        return [table, f"write_{table}", name]

    def _histogram(cols, stored_rows):
        # the stored baseline's bin edges PIN the grid (bins from
        # different edges are not comparable); columns it lacks
        # (all-NULL there, drift_columns grew, or a fresh run) get
        # edges from a tiny min/max agg over the pending partitions —
        # the same F.min/F.max(cast double) the profile computes, so
        # the drift legs never wait for the profile
        bounds = {r.column: (r.lo, r.hi) for r in stored_rows}
        missing = [c for c in cols if c not in bounds]
        if missing:
            bounds.update(shared_bins(meta_nb, missing))
        return histogram(meta, cols, "part_id", bounds)

    drift_legs = []
    if cfg.drift:
        drift_legs = _drift(
            "drift_results", "histograms", cfg.drift_columns, _histogram,
            ks_psi,
            lambda s: drift_verdicts(s, cfg.ks_threshold, cfg.psi_threshold),
            ("bin", "lo", "hi"), "",
        ) + _drift(
            "drift_results_categorical", "category_counts",
            cfg.categorical_drift_columns,
            lambda cols, _: categorical_counts(meta, cols, "part_id"),
            categorical_psi_chi2,
            lambda s: categorical_drift_verdicts(s, cfg.psi_threshold),
            ("category",), "categorical_",
        )

    if cfg.approx:
        prof, counts = "profiles", "rowwise_results"
        legs.leg("profile_and_counts", lambda: wide, persist=True)
        legs.leg(prof, lambda w: _melt(w, "__p_", PROFILE_FIELDS),
                 after=["profile_and_counts"], persist=True)
        legs.leg(counts, lambda w: C.rowwise_results_from_agg(w, rowwise, "part_id"),
                 after=["profile_and_counts"], persist=True)
    else:
        prof, counts = "profile", "constraint_counts"
        legs.leg(prof, lambda: profile(meta_nb, group_by="part_id", approx=False),
                 persist=True)
        legs.leg(counts, lambda: C.rowwise_results_from_agg(
            meta_nb.groupBy("part_id").agg(
                F.count(F.lit(1)).alias("n_rows"), *C.rowwise_count_exprs(rowwise),
            ),
            rowwise, "part_id",
        ), persist=True)
    legs.leg("unique_referential", lambda: res_other, persist=True)
    legs.leg("unique_violations", lambda _: vio_other,
             after=["unique_referential"], persist=True)
    legs.leg("violations", lambda: vio_row, persist=True)

    def _write_sample():
        # ~100 seeded random rows for the report (reference ships a
        # random sample, Profiler.py:542-543 / O3) — metadata only,
        # from ONE pending partition so the scan prunes to 1/n_parts.
        # Written only when absent: a resumed run over a few late
        # partitions must not REPLACE the table-wide sample. Existence
        # is a FileSystem-API probe, not a read-and-catch — a transient
        # read failure must never masquerade as 'not written yet'.
        if not hadoop_path_exists(spark, f"{output_dir}/row_sample"):
            meta_nb.where(F.col("part_id") == pending_ids[0]).sample(
                fraction=0.25, seed=42
            ).limit(100).write.mode("overwrite").parquet(f"{output_dir}/row_sample")

    writes = ["write_row_sample", "write_column_profiles", "write_violations",
              "write_constraint_results"]
    legs.leg("write_row_sample", _write_sample)
    legs.leg("write_column_profiles", lambda p: _write(p, "column_profiles"),
             after=[prof])
    if cfg.approx and cfg.persist_sketches:
        writes.append("write_profile_sketches")
        legs.leg(
            "write_profile_sketches",
            lambda w: _write(_melt(w, "__sk_", SKETCH_FIELDS), "profile_sketches"),
            after=["profile_and_counts"],
        )
    legs.leg("write_violations", lambda a, b: _write(a.unionByName(b), "violations"),
             after=["violations", "unique_violations"])
    legs.leg(
        "write_constraint_results",
        lambda a, b: _write(a.unionByName(b), "constraint_results"),
        after=[counts, "unique_referential"],
    )
    if cfg.validate_images:
        # the decode verdicts append AFTER the overwrite of the same
        # path; this is the decode leg's only consumer, so its tail
        # overlaps every other write and both drift families
        writes.append("write_verdicts")
        legs.leg(
            "write_verdicts",
            lambda _, v: _write(v, "constraint_results", mode="append"),
            after=["write_constraint_results", "decode_verify"],
        )
    legs.result()

    # the timings keep their historical meaning, now read off the leg
    # timeline: compute_metadata runs from the wave's first leg until
    # every metadata leg is done; writes/writes_and_drift are what the
    # writes/drift legs add past that barrier; compute also covers the
    # decode tail that overlaps them
    tl = legs.times
    wave = min(s for n, (s, _) in tl.items()
               if n not in ("plan", "id_index_supersede_heal"))
    meta_end = max(tl[n][1] for n in (prof, counts, "unique_violations", "violations"))

    def _past_meta(names):
        return max([0.0] + [tl[n][1] - meta_end for n in names])

    def _dur(n):
        return tl[n][1] - tl[n][0]

    timings = {
        "plan": tl["plan"][1],
        "compute_metadata": meta_end - wave,
        **{n: _dur(n) for n in (
            "id_index_supersede_heal", "profile_and_counts", "profile",
            "constraint_counts", "unique_referential", "violations",
            "decode_verify") if n in tl},
        "writes": _past_meta(writes),
        "writes_and_drift": _past_meta(writes + drift_legs),
    }
    timings["compute"] = timings["compute_metadata"]
    if "decode_verify" in tl:
        timings["decode_tail_overlapped"] = _past_meta(["decode_verify"])
        timings["compute"] += timings["decode_tail_overlapped"]

    # id-index append BEFORE the manifest commit (crash between them =>
    # replayed append, deduped by the check's latest-per-(key,part)
    # rule) — one narrow agg over the pending partitions' id column,
    # no payload bytes
    if cfg.id_index_table:
        def _index_append():
            from advanced_data_profile_spark.plans.id_index import index_append

            # re-validation detection for the append-only precondition:
            # a PENDING partition that already has a 'done' manifest row
            # was indexed by an earlier run (only non-resume reruns /
            # explicit backfills). Read from the manifest —
            # O(partitions), driver-side — never by scanning the index.
            prior_done = {
                r.part_id
                for r in manifest.read()
                .where((F.col("status") == "done") & (F.col("part_id") != "__global__"))
                .select("part_id").distinct().collect()
            }
            revalidated = sorted({str(p) for p in pending_ids} & prior_done)
            # durable marker BEFORE the append: a crash after the append
            # but before the compaction would otherwise leave stale rows
            # that a plain resume=True retry never heals; the marker
            # survives the crash and any later run compacts first
            need_supersede = bool(revalidated) or hadoop_path_exists(
                spark, supersede_marker
            )
            if revalidated:
                hadoop_touch(spark, supersede_marker, "\n".join(revalidated))
            index_append(
                df.select("image_id", "part_id"),
                cfg.id_index_table,
                cfg.id_index_location or f"{output_dir}/id_index",
                run_id=run_id,
                buckets=cfg.id_index_buckets,
            )
            return need_supersede

        legs.leg("id_index_append", _index_append)
        if legs.result("id_index_append"):
            # the regenerated partitions' new appends must fully
            # supersede their old index rows (keys REMOVED by the
            # backfill would otherwise linger as stale false
            # duplicates). O(index) rewrite — backfills are rare.
            legs.leg("id_index_supersede", _supersede)
            legs.result("id_index_supersede")
        timings.update(
            (n, _dur(n)) for n in ("id_index_append", "id_index_supersede") if n in tl
        )

    # per-partition lineage + metrics rows — commit point. Row counts
    # come from the already-persisted profiles (no extra scan).
    def _commit(profiles):
        part_rows = {
            r.part_id: r.n
            for r in profiles.groupBy("part_id").agg(F.max("n_rows").alias("n")).collect()
        }
        manifest.record_many([
            {
                "run_id": run_id, "part_id": str(pid), "status": "done",
                "started_at": legs.t0, "n_rows": part_rows.get(pid, 0),
                "metrics": {
                    "timings": {k: round(v, 3) for k, v in timings.items()},
                    "legs": legs.timeline(),
                    **({"drift": drift_summary} if drift_summary else {}),
                },
                "input_path": images_path,
            }
            for pid in pending_ids
        ])
        return part_rows

    legs.leg("manifest", _commit, after=[prof])
    part_rows = legs.result("manifest")
    timings["manifest"] = _dur("manifest")

    total_rows = sum(part_rows.values())
    elapsed = time.time() - legs.t0
    summary = {
        "run_id": run_id,
        "partitions": len(pending_ids),
        "rows": total_rows,
        "elapsed_sec": round(elapsed, 3),
        "images_per_sec": round(total_rows / elapsed, 1) if elapsed > 0 else None,
        "timings": {k: round(v, 3) for k, v in timings.items()},
    }
    if cfg.global_unique:
        def _global_unique():
            if not cfg.id_index_table:
                return global_uniqueness_check(spark, images_path, output_dir, cfg=cfg)
            from advanced_data_profile_spark.plans.id_index import (
                global_uniqueness_from_index,
            )

            return global_uniqueness_from_index(spark, cfg.id_index_table, output_dir)

        legs.leg("global_uniqueness", _global_unique)
        summary["global_uniqueness"] = legs.result("global_uniqueness")
    summary["legs"] = legs.timeline()
    return summary


def global_uniqueness_check(
    spark: SparkSession,
    images_path: str,
    output_dir: str,
    key_cols: tuple = ("image_id",),
    cfg: PipelineConfig | None = None,
) -> dict:
    """Dedicated CROSS-RUN global uniqueness pass.

    The incremental pipeline checks uniqueness globally across the
    partitions of ONE run; resumed runs do not rescan already-done
    partitions, so a late partition duplicating an id that an earlier
    run processed is invisible to the incremental check (documented at
    the top of this module). This job closes that gap: one full-table
    scan regardless of the manifest — the same two-stage
    aggregation (constraints.evaluate), so a duplicate-heavy key still
    never concentrates on one reducer — emitting kind='unique_global'
    rows attributed to every partition holding a duplicated key.

    Results fully OVERWRITE {output_dir}/constraint_results_global and
    violations_global (a global pass supersedes the previous one —
    never dynamic-partition-merged with incremental results, which
    would clobber per-run rows). Lineage: one manifest row with
    part_id='__global__'. Run it on demand or per run via
    PipelineConfig.global_unique."""
    cfg = cfg or PipelineConfig()
    t0 = time.time()
    images = read_images(spark, images_path, fmt=cfg.table_format)
    checks = [C.unique(f"{c}_unique_global", c) for c in key_cols]
    results, violations = C.evaluate(
        images, checks, part_col="part_id",
        sample_violations=cfg.sample_violations,
    )
    results = results.withColumn("kind", F.lit("unique_global")).persist()
    res_rows = results.collect()  # tiny: partitions x key_cols
    results.coalesce(1).write.mode("overwrite").parquet(
        f"{output_dir}/constraint_results_global"
    )
    violations.coalesce(1).write.mode("overwrite").parquet(
        f"{output_dir}/violations_global"
    )
    results.unpersist()
    n_violations = sum(r.n_violations for r in res_rows)
    failed_parts = sorted({r.part_id for r in res_rows if not r.passed})
    run_id = new_run_id()
    first = checks[0].name
    table_rows = sum(r.n_rows for r in res_rows if r.constraint == first)
    Manifest(spark, f"{output_dir}/manifest").record(
        run_id, "__global__", "done", started_at=t0,
        n_rows=int(table_rows),
        metrics={
            "kind": "unique_global",
            "key_cols": list(key_cols),
            "n_violations": int(n_violations),
            "failed_partitions": failed_parts,
            "elapsed_sec": round(time.time() - t0, 3),
        },
        input_path=images_path,
    )
    return {
        "run_id": run_id,
        "n_violations": int(n_violations),
        "failed_partitions": failed_parts,
        "passed": n_violations == 0,
        "elapsed_sec": round(time.time() - t0, 3),
    }


def sketch_drift_between_runs(
    spark: SparkSession,
    base_output_dir: str,
    cur_output_dir: str,
    ks_threshold: float = 0.15,
    psi_threshold: float = 0.25,
    base_parts: list[str] | None = None,
    cur_parts: list[str] | None = None,
    write: bool = True,
):
    """Snapshot-over-snapshot drift from two pipeline runs' PERSISTED
    sketch state ({output_dir}/profile_sketches, written when
    PipelineConfig.persist_sketches is on): KS/PSI per column via
    operators.drift.drift_from_sketches — a merge over the tiny stored
    sketch relations, no raw-data rescan, no bin pre-pinning, and any
    partition subsets comparable after the fact (base_parts/cur_parts).

    Complements the in-run histogram drift (the drift_results leg),
    which scores partitions against a baseline partition WITHIN a run;
    this scores one run's data against another run's — the
    drift-vs-last-week question — at metadata cost. Writes drift_verdicts-shaped rows
    (part_id='__snapshot__') to {cur_output_dir}/sketch_drift_results
    and returns (verdicts_df, scores_df)."""
    from advanced_data_profile_spark.operators.drift import (
        drift_from_stored_state,
        drift_verdicts,
    )

    scores = drift_from_stored_state(
        spark,
        f"{base_output_dir}/profile_sketches",
        f"{cur_output_dir}/profile_sketches",
        base_parts=base_parts,
        cur_parts=cur_parts,
    ).persist()
    dv = drift_verdicts(
        scores.withColumn("grp", F.lit("__snapshot__")),
        ks_threshold,
        psi_threshold,
    )
    if write:
        dv.coalesce(1).write.mode("overwrite").parquet(
            f"{cur_output_dir}/sketch_drift_results"
        )
    return dv, scores
