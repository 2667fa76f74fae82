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
cores its wave leaves idle — then the profile legs, whose job is the
largest metadata job, and every write starts the moment its own inputs
exist. Legs and their `after=` edges, in declaration order:

  plan                      partition listing + manifest done set, both
                            read on the driver (after
                            id_index_supersede_heal when a crashed
                            backfill left its marker)
  decode_plan               the payload pass's file slices, planned on
                            the driver from the partition listing and
                            packed into split-sized groups (no Spark job)
  decode_verify             after decode_plan: the payload pass, the only
                            scan reading `bytes`, as one single-stage
                            Spark job of at most one Python task per
                            group; each task folds its verdicts into
                            per-partition counts, collected through
                            Arrow and summed on the driver
  profile_and_counts        profile + row-wise constraint counts FUSED
                            into one wide aggregation, whose plan the
                            leg builds itself (one SQL expression per
                            column struct), collected once through
                            Arrow: one row per partition (exact mode:
                            separate `profile` and `constraint_counts`
                            collects)
  unique_referential        one persisted (partition, check, key) count
                            relation (uniqueness global within the run,
                            referential anti-join); its per-partition
                            counts collected through Arrow
  violations                row-wise violation samples (pushdown)
  histograms                stored-baseline snapshot (Arrow, kept on
                            the driver), bin edges, and this run's
                            counts collected once through Arrow
  write_histograms          after histograms
  drift_results             after histograms: KS/PSI scored on the
                            driver over the same collected counts,
                            verdicts
  category_counts, write_category_counts, drift_results_categorical
                            the same three legs for categorical drift
  write_row_sample          no inputs: <= 100 rows collected through
                            Arrow, one flat file from the driver
  write_column_profiles     after profile_and_counts (melted on the
                            driver)
  write_profile_sketches    after profile_and_counts (melted on the
                            driver)
  write_violations          after violations, unique_referential (its
                            violating keys read from the persisted counts)
  write_constraint_results  after profile_and_counts, unique_referential
  write_verdicts            after write_constraint_results,
                            decode_verify (append to the same table)
  id_index_append           after unique_referential: writes the
                            persisted (image_id, partition) counts, no
                            aggregation; overlaps the writes
  id_index_supersede        after every leg above (backfills only)
  manifest                  after every leg above, its row counts from
                            profile_and_counts: the commit point
  global_uniqueness         after manifest, when cfg.global_unique

Scan economy per run (any number of partitions/columns, approx mode):
one metadata scan for profile_and_counts, one for unique_referential
(plus the default phash reference set, a distinct over the whole
table), one bytes scan for decode_verify (one job, no shuffle: its
tasks return per-partition counts, not per-image rows), one for each
drift family's counts (plus, on fresh runs, a tiny min/max agg that
pins bin edges without waiting for the profile) and a violation-sample
scan that reads only violating rows. The metadata scans run at 256m
splits with no minimum split count, so a small pending set is read in
a few tasks, not cut to its file bytes / cores. The per-(key,
partition) counts unique_referential persists are read three times
without a rescan: for the verdicts, for the violating keys and for the
id-index append. Relations bounded by partitions × columns × bins stay
off the cluster: each is collected once through Arrow and written from
the driver by `manifest.write_partitions` (pyarrow, one file per
part_id directory, no Spark job). column_profiles, profile_sketches,
the row-wise constraint_results rows and the manifest's row counts all
come from the one collected wide row per partition; constraint_results
adds the collected uniqueness/referential verdicts, then the decode
verdicts as an append; histograms and category_counts are the same
collected counts their drift family scores on the driver; both
drift_results tables are written from local verdict relations.
row_sample (at most 100 rows) is one flat file written by
`manifest.write_table`, and the manifest is read on the driver. Only
violations (every violating key, unbounded) and the id index are Spark
writes.

Uniqueness scope note: within one run the check is global across the
partitions being processed (cross-partition duplicates are detected and
attributed to every partition holding the key). Across resumed runs the
already-done partitions are not rescanned — the cross-RUN global check
is the id index's per-bucket self-check when PipelineConfig.id_index_table
is set (plans.id_index), else the dedicated full-table pass
`global_uniqueness_check` below (run on demand, or per run via
PipelineConfig.global_unique); both write kind='unique_global' rows to
constraint_results_global.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators import constraints as C
from advanced_data_profile_spark.operators import image_verify as IV
from advanced_data_profile_spark.operators.drift import (
    categorical_counts,
    categorical_drift_verdicts,
    categorical_psi_chi2_arrow,
    drift_verdicts,
    histogram,
    ks_psi_arrow,
    shared_bins,
)
from advanced_data_profile_spark.operators.stats import (
    SKIP_PROFILE_TYPES,
    column_profile_struct,
    profile,
    sketch_state_struct,
)
from advanced_data_profile_spark.plans.manifest import (
    Manifest,
    new_run_id,
    write_partitions,
    write_table,
)
from advanced_data_profile_spark.session import (
    hadoop_path_exists,
    hadoop_remove,
    hadoop_touch,
)
from advanced_data_profile_spark.sources.images import phash_reference, read_images

SPLIT_CONF = "spark.sql.files.maxPartitionBytes"
MIN_PARTS_CONF = "spark.sql.files.minPartitionNum"


@dataclass
class PipelineConfig:
    approx: bool = True                    # sketch mode for distinct/quantiles
    validate_images: bool = True           # run the bytes-reading pass
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


class _Legs:
    """The pipeline's leg runner — the only place this module starts
    threads.

    ``leg(name, fn, after=[...])`` starts one driver thread per leg, in
    declaration order. The thread waits for its ``after`` legs, then
    calls ``fn`` with their results; with ``persist=True`` the returned
    DataFrame is persisted and materialized (the violation samples are,
    before their Spark write: a .write otherwise re-computes its full
    lineage). The leg's Spark jobs carry its name as their job
    description, and ``times[name]`` is its [start, end] in seconds
    from the runner's creation. Once any leg has failed, legs that have
    not started yet are skipped.

    Used as a context manager. Exit joins every leg (a caller that
    catches the error and retries must never race writer threads of
    the failed run), unpersists everything persisted through it,
    restores the session's scan confs (split size and minimum split
    count, set or unset as they were), and raises the first error with
    every later one attached as a note."""

    def __init__(self, spark: SparkSession):
        self.spark, self.t0 = spark, time.time()
        self.scan_confs = {k: spark.conf.get(k, None) for k in (SPLIT_CONF, MIN_PARTS_CONF)}
        self.times: dict[str, list[float]] = {}
        self.threads: dict[str, threading.Thread] = {}
        self.results: dict = {}
        self.errors: list[tuple[str, BaseException]] = []
        self.persisted: list[DataFrame] = []

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
                if persist:
                    self.persisted.append(out.persist())
                    out.count()
                self.results[name] = out
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
        for k, v in self.scan_confs.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
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


def _payload_counts(
    spark: SparkSession, images_path: str, pending_ids: list, cfg: PipelineConfig
) -> DataFrame:
    """The decode pass over the pending partitions (lazy): per-task
    verdict counts (image_verify.COUNTS_SCHEMA) that
    image_verify.verdict_rows sums into constraint_results rows. A hive
    part_id=K parquet layout with any file to decode goes through the
    pyarrow leg: byte-sized file slices planned on the driver from the
    partition listing and packed into split-sized groups, read by
    pyarrow INSIDE the Python workers in one single-stage Spark job
    (image_verify.verdict_counts_files; bytes never cross the JVM,
    measured at the frameworkless kernel floor: 3.97s vs 6.1s best-JVM
    at the 512k scaling fixture, local[32] min-of-3). Sources with no
    hive listing (Iceberg, flat layouts) take the Catalyst parquet scan
    + mapInArrow through the same kernel and fold
    (image_verify.verdict_counts)."""
    # no first-partition existence gate: the slice planning itself
    # skips pending partitions without a hive dir, and a flat non-hive
    # layout simply yields zero slices
    groups = []
    if cfg.table_format == "parquet":
        groups = IV.decode_file_groups(spark, images_path, pending_ids)
    if groups:
        return IV.verdict_counts_files(spark, groups)
    # JVM scan leg in a child session (shared context, independent
    # SQLConf), at the split size the pyarrow leg's slices use: the old
    # 16m "balanced small tasks" sizing was A/B-measured 2x slower at
    # scale (13.5s vs 8.1s @128m / 6.1s @256m on the 512k fixture) —
    # per-task scheduling + Arrow-stream setup dominates below ~100m.
    s2 = spark.newSession()
    s2.conf.set(SPLIT_CONF, str(IV.MAX_SPLIT_BYTES))
    df2 = read_images(s2, images_path, fmt=cfg.table_format).where(
        F.col("part_id").isin(pending_ids)
    )
    return IV.verdict_counts(df2)


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
    released and the session's scan confs are restored before the
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
        # so select(part_id).distinct() SCANS the table. Non-hive and
        # Iceberg sources fall back to that scan. Either way both sides
        # are driver-sized (partition ids + done set), so resume
        # resolves in Python (manifest part_ids are strings; compare
        # canonically) and a fresh hive dir costs ZERO Spark jobs here.
        pids = (
            _list_hive_part_ids(spark, images_path)
            if cfg.table_format == "parquet" else None
        )
        if pids is None:
            pids = [r.part_id for r in images.select("part_id").distinct().collect()]
        done = manifest.done_set() if resume else set()
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
        # before the metadata plans are even built, so its decode job is
        # submitted ahead of the metadata jobs and FIFO scheduling lets
        # those back-fill the cores it leaves idle. Planning (a driver
        # listing, no Spark job) is its own leg, so decode_verify times
        # the job alone.
        legs.leg("decode_plan", lambda: _payload_counts(spark, images_path, pending_ids, cfg))
        legs.leg("decode_verify", lambda c: IV.verdict_rows(c.toArrow()),
                 after=["decode_plan"])
    # partition pruning: isin on the partition column prunes at the scan
    df = images.where(F.col("part_id").isin(pending_ids))
    meta = df.withColumn("caption_len", F.length("caption"))
    meta_nb = meta.drop("bytes")

    checks = image_checks(
        phash_ref if phash_ref is not None else phash_reference(images), cfg
    )
    rowwise = [c for c in checks if c.kind in ("not_null", "domain")]
    others = [c for c in checks if c.kind in ("unique", "referential")]
    # metadata-only scans get large splits (split accounting counts the
    # pruned-out bytes column, so the default would over-parallelize
    # scans that read ~2% of each file), and a small pending set is not
    # cut to its bytes / cores either (minPartitionNum=1): each scan
    # task of the profile's ObjectHashAggregate builds its projections
    # anew, 0.25-0.35 s per task on a 4-core box. The decode pass keeps
    # its own split sizing
    spark.conf.set(SPLIT_CONF, "256m")
    spark.conf.set(MIN_PARTS_CONF, "1")
    # the profile legs are the first metadata legs: the profile job is
    # the largest metadata job, and FIFO queues it right behind decode
    if cfg.approx:
        def _wide():
            # FUSED wide agg: every profile stat AND every row-wise
            # constraint count in one scan/job, collected once through
            # Arrow (one row per partition); column_profiles,
            # profile_sketches, the row-wise verdicts and the
            # manifest's row counts are all built from it on the
            # driver. The leg builds the plan itself: one SQL
            # expression per column struct
            dtypes = {f.name: f.dataType for f in meta_nb.schema.fields}
            prof_cols = [
                c for c, t in dtypes.items()
                if not isinstance(t, SKIP_PROFILE_TYPES) and c != "part_id"
            ]
            return meta_nb.groupBy("part_id").agg(
                F.count(F.lit(1)).alias("n_rows"),
                *[column_profile_struct(c, dtypes[c], True) for c in prof_cols],
                *[sketch_state_struct(c, dtypes[c]) for c in prof_cols],
                *C.rowwise_count_exprs(rowwise),
            ).toArrow()

        # one leg is both the profile and the counts source
        prof = counts = "profile_and_counts"
        legs.leg(prof, _wide)
    else:
        prof, counts = "profile", "constraint_counts"
        legs.leg(prof, lambda: profile(meta_nb, group_by="part_id", approx=False).toArrow())
        legs.leg(counts, lambda: meta_nb.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_rows"), *C.rowwise_count_exprs(rowwise),
        ).toArrow())

    vio_row = C.rowwise_violation_samples(
        meta, rowwise, "part_id", cfg.sample_violations
    )
    # one persisted (partition, check, key) count relation: the
    # unique/referential verdicts, their violation rows and the id-index
    # append all read it
    key_counts, agg_other, vio_other = C.key_counts(
        df, others, "part_id", cached=legs.persisted
    )
    # the collect materializes the persisted key counts; the violations
    # write and the id-index append read them from the cache
    legs.leg("unique_referential",
             lambda: C.results_arrow(agg_other.toArrow(), others))
    legs.leg("violations", lambda: vio_row, persist=True)

    def _store(t: pa.Table, table: str, mode: str = "overwrite") -> None:
        # every driver-sized result table: one pyarrow file per part_id
        # directory, no Spark job
        write_partitions(t, f"{output_dir}/{table}", mode)

    def _melt(w: pa.Table, prefix: str) -> pa.Table:
        # one row per (partition, column): part_id, then the fields of
        # the column's struct
        return pa.concat_tables([
            pa.Table.from_struct_array(w[c]).add_column(0, "part_id", w["part_id"])
            for c in w.column_names if c.startswith(prefix)
        ], promote_options="default")

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
        snapshots the stored baseline and collects this run's counts
        once through Arrow, ``write_<table>`` stores them per
        partition, and ``name`` scores the same table against the
        baseline on the driver and writes the verdicts."""
        cols = [c for c in cols if c in meta.columns]
        if not cols:
            return []
        path = f"{output_dir}/{table}"

        def _counts():
            # resumed run whose baseline partition is already done: the
            # stored baseline is the comparison target, SNAPSHOT to the
            # driver through Arrow before write_<table> dynamic-overwrites
            # the files a lazy plan would re-read (it is tiny). Existence
            # is a FileSystem-API probe (output may live on hdfs:// or
            # s3a://), not a read-and-catch: a real read error must
            # propagate, not be mistaken for 'first run'.
            base = None
            if not base_pending and hadoop_path_exists(spark, path):
                base = spark.read.parquet(path).where(
                    F.col("grp") == cfg.baseline_part
                ).select("column", *keys, "cnt").toArrow()
                base = base if base.num_rows else None
            return base, count(cols, base).toArrow()

        def _score(counts):
            base, cur = counts
            if base is None and not base_pending:
                # no baseline anywhere (e.g. a prior run recorded
                # partitions done without writing counts): they are
                # still stored for future runs, but null-scored
                # "failed" rows would be a silent lie
                drift_summary[f"{prefix}skipped_no_baseline"] = sorted(cols)
                return
            # the baseline is the partition the pipeline names, compared
            # canonically as a string like every other part_id here;
            # scored on the driver into a local relation, so collecting
            # its pairs below runs no Spark job
            is_base = pc.equal(pc.cast(cur["grp"], pa.string()), str(cfg.baseline_part))
            scores = score(spark, cur, is_base, stored=base)
            # cells the scorer dropped (a column empty in the baseline
            # or in one group) get explicit per-cell skipped markers —
            # never a NULL-coerced FAIL verdict and never a silent drop
            scored = {(str(g), c) for g, c in scores.select("grp", "column").collect()}
            skipped = [
                {"part_id": g, "column": c}
                for g in expect_grps for c in cols if (g, c) not in scored
            ]
            if skipped:
                drift_summary[f"{prefix}skipped"] = skipped
            _store(verdicts(scores).toArrow(), name)

        legs.leg(table, _counts)
        legs.leg(
            f"write_{table}",
            lambda c: _store(c[1].append_column("part_id", c[1]["grp"]), table),
            after=[table],
        )
        legs.leg(name, _score, after=[table])
        return [table, f"write_{table}", name]

    def _histogram(cols, stored):
        # the stored baseline's bin edges PIN the grid (bins from
        # different edges are not comparable); columns it lacks
        # (all-NULL there, drift_columns grew, or a fresh run) get
        # edges from a tiny min/max agg over the pending partitions —
        # the same F.min/F.max(cast double) the profile computes, so
        # the drift legs never wait for the profile
        rows = stored.to_pylist() if stored is not None else []
        bounds = {r["column"]: (r["lo"], r["hi"]) for r in rows}
        missing = [c for c in cols if c not in bounds]
        if missing:
            bounds.update(shared_bins(meta_nb, missing))
        return histogram(meta, cols, "part_id", bounds)

    drift_legs = []
    if cfg.drift:
        drift_legs = _drift(
            "drift_results", "histograms", cfg.drift_columns, _histogram,
            ks_psi_arrow,
            lambda s: drift_verdicts(s, cfg.ks_threshold, cfg.psi_threshold),
            ("bin", "lo", "hi"), "",
        ) + _drift(
            "drift_results_categorical", "category_counts",
            cfg.categorical_drift_columns,
            lambda cols, _: categorical_counts(meta, cols, "part_id"),
            categorical_psi_chi2_arrow,
            lambda s: categorical_drift_verdicts(s, cfg.psi_threshold),
            ("category",), "categorical_",
        )

    def _write_sample():
        # ~100 seeded random rows for the report (reference ships a
        # random sample, Profiler.py:542-543 / O3) — metadata only,
        # from ONE pending partition so the scan prunes to 1/n_parts.
        # Written only when absent: a resumed run over a few late
        # partitions must not REPLACE the table-wide sample. Existence
        # is a FileSystem-API probe, not a read-and-catch — a transient
        # read failure must never masquerade as 'not written yet'.
        # Collected through Arrow and written as one flat file from the
        # driver: one Spark job.
        if not hadoop_path_exists(spark, f"{output_dir}/row_sample"):
            write_table(meta_nb.where(F.col("part_id") == pending_ids[0]).sample(
                fraction=0.25, seed=42
            ).limit(100).toArrow(), f"{output_dir}/row_sample")

    def _write_violations(vio: DataFrame, _) -> None:
        # every violating key (unbounded), so a Spark write: hash-
        # repartitioned by the partition column so the write TASKS cover
        # the dynamic partitions in parallel while each partition dir
        # still gets exactly ONE data file (a partition value lands in
        # exactly one task). coalesce(1) would serialize every
        # partition's parquet writer through a single task (0.65s ->
        # 0.28s per write job at the 128k steady fixture, same file
        # count).
        n_out = min(spark.sparkContext.defaultParallelism, len(pending_ids))
        vio.unionByName(vio_other).repartition(n_out, "part_id").write.mode(
            "overwrite"
        ).partitionBy("part_id").parquet(f"{output_dir}/violations")

    writes = ["write_row_sample", "write_column_profiles", "write_violations",
              "write_constraint_results"]
    legs.leg("write_row_sample", _write_sample)
    legs.leg(
        "write_column_profiles",
        lambda p: _store(_melt(p, "__p_") if cfg.approx else p, "column_profiles"),
        after=[prof],
    )
    if cfg.approx:
        writes.append("write_profile_sketches")
        legs.leg("write_profile_sketches",
                 lambda w: _store(_melt(w, "__sk_"), "profile_sketches"), after=[prof])
    legs.leg("write_violations", _write_violations, after=["violations", "unique_referential"])
    legs.leg(
        "write_constraint_results",
        lambda w, u: _store(
            pa.concat_tables([C.results_arrow(w, rowwise), u]), "constraint_results"),
        after=[counts, "unique_referential"],
    )
    if cfg.validate_images:
        # the decode verdicts append AFTER the overwrite of the same
        # path; this is the decode leg's only consumer, so its tail
        # overlaps every other write and both drift families
        writes.append("write_verdicts")
        legs.leg(
            "write_verdicts",
            lambda _, v: _store(v, "constraint_results", mode="append"),
            after=["write_constraint_results", "decode_verify"],
        )

    # id-index append BEFORE the manifest commit (crash between them =>
    # replayed append, deduped by the check's latest-per-(key,part)
    # rule). It writes the per-(image_id, partition) counts the
    # uniqueness check persisted, so it starts as soon as they exist,
    # beside the result writes, and runs no aggregation of its own
    if cfg.id_index_table:
        def _index_append(_):
            from advanced_data_profile_spark.plans.id_index import index_write

            # re-validation detection for the append-only precondition:
            # a PENDING partition that already has a 'done' manifest row
            # was indexed by an earlier run (only non-resume reruns /
            # explicit backfills). Read from the manifest on the driver —
            # O(partitions) — never by scanning the index.
            prior_done = {r["part_id"] for r in manifest.rows() if r["status"] == "done"}
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
            index_write(
                C.check_counts(key_counts, others, "image_id_unique"),
                cfg.id_index_table,
                cfg.id_index_location or f"{output_dir}/id_index",
                run_id=run_id,
                buckets=cfg.id_index_buckets,
            )
            return need_supersede

        legs.leg("id_index_append", _index_append, after=["unique_referential"])
    legs.result()

    # the timings keep their historical meaning, now read off the leg
    # timeline: compute_metadata runs from the wave's first leg until
    # every metadata leg (profile and counts, unique_referential,
    # violations) is done; writes/writes_and_drift are what the
    # writes/drift legs add past that barrier; compute also covers the
    # decode tail that overlaps them
    tl = legs.times
    wave = min(s for n, (s, _) in tl.items()
               if n not in ("plan", "id_index_supersede_heal"))
    meta_end = max(tl[n][1] for n in (prof, counts, "unique_referential", "violations"))

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

    if cfg.id_index_table:
        if legs.results["id_index_append"]:
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
    # come from the collected counts (no extra scan, no Spark job).
    def _commit(c: pa.Table):
        part_rows = dict(zip(c["part_id"].to_pylist(), c["n_rows"].to_pylist()))
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

    legs.leg("manifest", _commit, after=[counts])
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
    # the key counts evaluate persists are released when the pass ends,
    # so a later pass over rewritten partitions counts the new rows
    cached: list[DataFrame] = []
    try:
        results, violations = C.evaluate(
            images, checks, part_col="part_id",
            sample_violations=cfg.sample_violations, cached=cached,
        )
        # tiny (partitions x key_cols): collected, written from the driver
        res = results.withColumn("kind", F.lit("unique_global")).toArrow()
        write_table(res, f"{output_dir}/constraint_results_global")
        violations.coalesce(1).write.mode("overwrite").parquet(
            f"{output_dir}/violations_global"
        )
    finally:
        for d in cached:
            d.unpersist()
    res_rows = res.to_pylist()
    n_violations = sum(r["n_violations"] for r in res_rows)
    failed_parts = sorted({r["part_id"] for r in res_rows if not r["passed"]})
    run_id = new_run_id()
    first = checks[0].name
    table_rows = sum(r["n_rows"] for r in res_rows if r["constraint"] == first)
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
    sketch state ({output_dir}/profile_sketches, written by every
    approx-mode run): KS/PSI per column via
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
