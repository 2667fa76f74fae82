"""Incremental / streaming validation.

The reference is batch-only (SURVEY.md §2.8) and the north_rule's
"late data" model is new partitions picked up by the manifest anti-join
(plans.manifest). This module adds the Structured Streaming expression
of the same constraint counts for deployments where the image table
arrives as a stream (e.g. a parquet/Kafka landing zone): one streaming
wide-agg per micro-batch, checkpointed by Spark's own state store.

Scale notes: the aggregation state is bounded — one row per
(part_id, constraint) — so the state store never grows with data
volume. foreachBatch is the exactly-once sink seam for appending to
the same constraint_results table the batch pipeline writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators.constraints import Check, _violation_flag
from advanced_data_profile_spark.sources.images import IMAGES_SCHEMA


def stream_images(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """Streaming scan of the images directory (new partition files are
    the stream). maxFilesPerTrigger bounds micro-batch size."""
    return (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_violation_counts(stream: DataFrame, checks: list[Check]) -> DataFrame:
    """Running per-partition violation counts for row-wise checks —
    the streaming twin of operators.constraints.evaluate's fused agg."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in checks:
        if c.kind not in ("not_null", "domain"):
            raise ValueError(f"streaming supports row-wise checks only, got {c.kind}")
        aggs.append(F.sum(_violation_flag(c).cast("long")).alias(c.name))
    return stream.groupBy("part_id").agg(*aggs)


def streaming_windowed_violations(
    stream: DataFrame,
    checks: list[Check],
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed violation counts with LATE-DATA handling:
    rows later than `watermark` behind the max observed event time are
    dropped and their windows finalized — the watermark bounds state
    (windows older than watermark are evicted), so state size is
    O(active windows), never O(events). The streaming expression of
    per-time-slice validation for event streams."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in checks:
        if c.kind not in ("not_null", "domain"):
            raise ValueError(f"streaming supports row-wise checks only, got {c.kind}")
        aggs.append(F.sum(_violation_flag(c).cast("long")).alias(c.name))
    # watermarks require zoned TIMESTAMP; NTZ sources cast via the
    # session timezone (UTC in session.py, so the cast is the identity)
    src = stream.withColumn("__ts", F.col(ts_col).cast("timestamp"))
    return (
        src.withWatermark("__ts", watermark)
        .groupBy(F.window(F.col("__ts"), window).alias("win"))
        .agg(*aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(a) for a in ["n_rows", *[c.name for c in checks]]],
        )
    )


def streaming_quality_keep_rate(
    stream: DataFrame,
    text_col: str,
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    params=None,
) -> DataFrame:
    """Event-time windowed corpus-quality monitor: the Gopher/C4 rule
    set (operators.quality — pure JVM column expressions, so they
    stream unchanged) aggregated to keep-rate + per-rule failure counts
    per window.
    The live twin of operators.quality.keep_rate — an ingestion
    pipeline alerts when a window's keep_rate drops (a crawler change,
    an upstream format break). Watermark bounds state exactly as in
    streaming_windowed_violations."""
    from advanced_data_profile_spark.operators.quality import quality_rules

    rules = quality_rules(F.col(text_col), params)
    names = sorted(rules)
    keep = None
    for n in names:
        r = F.coalesce(rules[n], F.lit(False))
        keep = r if keep is None else (keep & r)
    src = stream.withColumn("__ts", F.col(ts_col).cast("timestamp"))
    return (
        src.withWatermark("__ts", watermark)
        .groupBy(F.window(F.col("__ts"), window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.round(F.avg(keep.cast("double")), 6).alias("keep_rate"),
            *[
                F.sum((~F.coalesce(rules[n], F.lit(False))).cast("long")).alias(
                    f"fail_{n}"
                )
                for n in names
            ],
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_docs", "n_kept", "keep_rate",
            *[F.col(f"fail_{n}") for n in names],
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming EXACT dedup with bounded state: keeps the first row
    per key, dropping later duplicates that arrive within the watermark
    of the first sighting (dropDuplicatesWithinWatermark — key state is
    evicted once the watermark passes it, so state is O(keys per
    watermark window), never O(stream)). The live twin of
    dedup.dedup_exact_keep_first for ingestion-time id dedup; the batch
    global pass (global_uniqueness_check) remains the cross-run
    backstop for duplicates farther apart than the watermark."""
    src = stream.withColumn("__ts", F.col(ts_col).cast("timestamp"))
    return (
        src.withWatermark("__ts", watermark)
        .dropDuplicatesWithinWatermark(key_cols)
        .drop("__ts")
    )


def foreach_batch_writer(output_dir: str, checks: list[Check]):
    """The exactly-once sink seam: a foreachBatch function computing
    the fused per-partition violation counts for ONE micro-batch and
    writing them to {output_dir}/constraint_batches partitioned by
    batch_id with dynamic partition overwrite. Structured Streaming
    replays a micro-batch after a crash with the SAME batch_id, and the
    replay overwrites its own batch partition — so the sink is
    idempotent (effectively exactly-once), the same discipline the
    batch pipeline uses with part_id."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in checks:
        if c.kind not in ("not_null", "domain"):
            raise ValueError(f"streaming supports row-wise checks only, got {c.kind}")
        aggs.append(F.sum(_violation_flag(c).cast("long")).alias(c.name))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("part_id").agg(*aggs)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{output_dir}/constraint_batches")
        )

    return write_batch


def run_stream_to_results(
    spark: SparkSession,
    images_path: str,
    checks: list[Check],
    output_dir: str,
    max_files: int = 2,
) -> None:
    """Drive the stream through foreachBatch to completion over the
    existing files (durable checkpointLocation — a restarted query
    resumes from the last committed batch)."""
    stream = stream_images(spark, images_path, max_files)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_writer(output_dir, checks))
        .option("checkpointLocation", f"{output_dir}/_stream_checkpoint")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def finalize_stream_results(
    spark: SparkSession, output_dir: str, checks: list[Check]
) -> DataFrame:
    """Merge the per-batch counts into the SAME constraint_results
    table (RESULT_COLUMNS rows, partitioned by part_id, dynamic
    overwrite) the batch pipeline writes — per-(partition, constraint)
    counts summed across batches, verdicts recomputed. Because the
    batch partitions are replay-idempotent, running finalize after any
    number of replays yields identical rows to one batch-pipeline pass
    over the same files."""
    from advanced_data_profile_spark.operators.constraints import (
        results_from_agg,
    )

    b = spark.read.parquet(f"{output_dir}/constraint_batches")
    merged = b.groupBy("part_id").agg(
        F.sum("n_rows").alias("n_rows"),
        *[F.sum(c.name).alias(f"__v_{i}") for i, c in enumerate(checks)],
    )
    results = results_from_agg(merged, checks, "part_id")
    results.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("part_id").parquet(f"{output_dir}/constraint_results")
    # partition-column discovery re-infers part_id as int; pin it back
    # to the string type RESULT_COLUMNS carries everywhere else
    return spark.read.parquet(f"{output_dir}/constraint_results").withColumn(
        "part_id", F.col("part_id").cast("string")
    )


def run_incremental_demo(
    spark: SparkSession, images_path: str, checks: list[Check],
    query_name: str = "violations",
) -> DataFrame:
    """Drive the streaming agg to completion over the existing files
    (memory sink, synchronous) and return the final counts — used by
    tests; a deployment would use foreachBatch into the results table
    with a durable checkpointLocation instead."""
    stream = stream_images(spark, images_path)
    agg = streaming_violation_counts(stream, checks)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def streaming_sketch_writer(output_dir: str, columns: list[str] | None = None):
    """foreachBatch writer emitting the SAME per-(partition, column)
    KLL/HLL sketch state the batch pipeline persists (stats.py
    SKETCH_FIELDS), one batch_id partition per micro-batch with dynamic
    overwrite — replay-idempotent like foreach_batch_writer. Because
    the state is mergeable, a stream processed in ANY batching yields
    state that finalizes to the same rollups as one batch pass."""
    from advanced_data_profile_spark.operators.stats import (
        SKIP_PROFILE_TYPES,
        sketch_state_struct,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        dtypes = {f.name: f.dataType for f in batch_df.schema.fields}
        cols = columns or [
            f.name for f in batch_df.schema.fields
            if not isinstance(f.dataType, SKIP_PROFILE_TYPES)
            and f.name != "part_id"
        ]
        agg = batch_df.groupBy("part_id").agg(
            *[sketch_state_struct(c, dtypes[c]) for c in cols]
        )
        melted = agg.select(
            "part_id",
            F.explode(F.array(*[F.col(f"__sk_{c}") for c in cols])).alias("s"),
        ).select("part_id", "s.column", "s.kll", "s.hll")
        (
            melted.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{output_dir}/profile_sketch_batches")
        )

    return write_batch


def run_stream_sketches(
    spark: SparkSession,
    images_path: str,
    output_dir: str,
    columns: list[str] | None = None,
    max_files: int = 2,
) -> None:
    """Drive the stream through streaming_sketch_writer to completion
    over the existing files (durable checkpoint, resumes from the last
    committed batch)."""
    stream = stream_images(spark, images_path, max_files)
    q = (
        stream.writeStream.foreachBatch(
            streaming_sketch_writer(output_dir, columns)
        )
        .option("checkpointLocation", f"{output_dir}/_sketch_checkpoint")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def finalize_stream_sketches(spark: SparkSession, output_dir: str) -> DataFrame:
    """Merge the per-batch sketch state into the batch pipeline's
    profile_sketches layout ((part_id, column, kll, hll), partitioned
    by part_id): KLL merge + HLL union per (partition, column) across
    batches. After this, every stored-state consumer — table rollups
    (sketches.rollup_stored_profile_sketches), snapshot drift
    (pipeline.sketch_drift_between_runs) — works identically on
    stream-built and batch-built state; the merge is over the tiny
    sketch relation only. String columns keep NULL kll (merging zero
    non-null inputs would yield an empty buffer the quantile getter
    rejects)."""
    b = spark.read.parquet(f"{output_dir}/profile_sketch_batches")
    merged = b.groupBy("part_id", "column").agg(
        F.count("kll").alias("__nk"),
        F.kll_merge_agg_double("kll").alias("__kll"),
        F.hll_union_agg("hll").alias("hll"),
    ).select(
        "part_id", "column",
        F.when(F.col("__nk") > 0, F.col("__kll")).otherwise(
            F.lit(None).cast("binary")
        ).alias("kll"),
        "hll",
    )
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("part_id").parquet(f"{output_dir}/profile_sketches")
    out = spark.read.parquet(f"{output_dir}/profile_sketches")
    return out.withColumn("part_id", F.col("part_id").cast("string"))


def streaming_category_writer(output_dir: str, columns: list[str]):
    """foreachBatch writer emitting the batch pipeline's category-count
    state ((part_id, column, category, cnt) — operators/drift.
    categorical_counts) per micro-batch, replay-idempotent via
    batch_id dynamic overwrite. Counts merge by SUMMATION, so any
    batching finalizes to the same relation as one batch pass."""
    from advanced_data_profile_spark.operators.drift import categorical_counts

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = categorical_counts(batch_df, columns, "part_id")
        (
            counts.withColumnRenamed("grp", "part_id")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{output_dir}/category_count_batches")
        )

    return write_batch


def run_stream_categories(
    spark: SparkSession,
    images_path: str,
    output_dir: str,
    columns: list[str] = ("fmt",),
    max_files: int = 2,
) -> None:
    stream = stream_images(spark, images_path, max_files)
    q = (
        stream.writeStream.foreachBatch(
            streaming_category_writer(output_dir, list(columns))
        )
        .option("checkpointLocation", f"{output_dir}/_category_checkpoint")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def finalize_stream_categories(spark: SparkSession, output_dir: str) -> DataFrame:
    """Sum the per-batch category counts into the batch pipeline's
    category_counts layout ((grp, column, category, cnt), partitioned
    by part_id) — after this, categorical_psi_chi2 scores stream-built
    snapshots exactly like batch-built ones."""
    b = spark.read.parquet(f"{output_dir}/category_count_batches")
    merged = b.groupBy(
        F.col("part_id").cast("string").alias("grp"), "column", "category"
    ).agg(F.sum("cnt").alias("cnt"))
    (
        merged.withColumn("part_id", F.col("grp"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id")
        .parquet(f"{output_dir}/category_counts")
    )
    out = spark.read.parquet(f"{output_dir}/category_counts")
    return out.select(
        F.col("part_id").cast("string").alias("grp"), "column", "category", "cnt"
    )


def neardup_batch_writer(
    index_path: str,
    matches_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    broadcast_batch: bool = True,
):
    """foreachBatch seam for STREAMING near-dup ingestion over the
    incremental MinHash-LSH index (operators/dedup): each micro-batch
    is checked against every PRIOR batch's stored signature/bucket
    state, its matches written to {matches_dir}, and its own state
    appended so later batches see it — the corpus text of prior
    batches is never rescanned.

    Replay idempotency (a crashed micro-batch is replayed with the
    SAME batch_id): both the index state and the matches are
    PARTITIONED BY batch_id with dynamic partition overwrite, so a
    replay overwrites exactly its own partitions; and the check
    filters the stored side to batch_id != current, so a replayed
    batch never matches its first attempt's rows. This is a different
    self-match defense than the batch API's file-list snapshot — here
    the filter makes even a post-append recompute correct, which is
    why this layout needs no snapshot.

    To seed from an existing corpus, run the corpus through as the
    first batch (its batch_id partitions the bootstrap state like any
    other batch). The forced batch-side broadcast is automatically
    DISABLED on the first batch (no index yet — a corpus-scale seed
    would exceed Spark's broadcast limits; the stored side is empty so
    there is nothing to protect from shuffling), and `broadcast_batch`
    turns it off for later batches too if they are index-scale."""
    from advanced_data_profile_spark.operators.dedup import (
        lsh_band_buckets,
        match_against_index,
        minhash_signatures,
    )
    from advanced_data_profile_spark.session import hadoop_path_exists

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = minhash_signatures(batch_df, id_col, text_col, k).persist()
        b_new = lsh_band_buckets(sigs, bands, k // bands)
        sig_dir = f"{index_path}/signatures"
        bkt_dir = f"{index_path}/buckets"
        bcast = broadcast_batch
        if hadoop_path_exists(spark, bkt_dir):
            stored_b = spark.read.parquet(bkt_dir).where(
                F.col("batch_id") != int(batch_id)
            )
            stored_s = spark.read.parquet(sig_dir).where(
                F.col("batch_id") != int(batch_id)
            )
        else:  # first batch: empty stored side with matching schemas;
            # never force-broadcast a (possibly corpus-scale) seed
            stored_b, stored_s = b_new.limit(0), sigs.limit(0)
            bcast = False
        matches = match_against_index(
            stored_b, stored_s, b_new, sigs, k, threshold,
            broadcast_batch=bcast,
        ).persist()
        matches.count()  # avoid recompute after the index writes below
        (
            matches.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(matches_dir)
        )
        for d, rel in ((sig_dir, sigs), (bkt_dir, b_new)):
            (
                rel.withColumn("batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(d)
            )
        matches.unpersist()
        sigs.unpersist()

    return write_batch


def ivf_batch_writer(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch seam for STREAMING ANN ingestion over the persisted
    IVF index (operators/similarity): each micro-batch of embeddings is
    assigned to the nearest STORED centroid (the seed build's quantizer
    — assign_nearest_centroid: literal argmin projection at small k*d,
    broadcast-relation HOF argmin above the threshold; no batch-side
    shuffle either way, no refit) and
    written under {index_path}/assignments_stream PARTITIONED BY
    (batch_id, label). ivf_index_search unions this leg with the
    batch-built assignments automatically; label stays a partition
    column in both, so probe pruning reads n_probe/k of the files of
    EACH leg.

    Replay idempotency (a crashed micro-batch replays with the SAME
    batch_id): dynamic partition overwrite on batch_id means a replay
    overwrites exactly its own partitions — no dedup pass, no
    double-ingestion. The centroid relation is NOT touched per batch:
    rewriting its counts per micro-batch would double-count on replay
    (the batch-API append may refresh counts because its caller owns
    exactly-once semantics); stream-ingested vectors are therefore
    invisible in the informational `n` column, by design — read true
    per-label occupancy via similarity.ivf_index_stats, which derives
    the streamed-leg counts at read time and reports the staleness
    explicitly.

    The quantizer must exist before the stream starts — run
    ivf_index_build over a seed corpus first (raises otherwise, same
    contract as ivf_index_append)."""
    from advanced_data_profile_spark.operators.similarity import (
        _require_ivf_index,
        assign_nearest_centroid,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cents = _require_ivf_index(spark, index_path)
        v = F.col(vec_col).cast("array<double>")
        (
            assign_nearest_centroid(
                batch_df.select(F.col(id_col).alias("id"), v.alias("vec")),
                "vec", cents,
            )
            .select("id", "vec", "label")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "label")
            .parquet(f"{index_path}/assignments_stream")
        )

    return write_batch


def curation_batch_writer(
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark: DataFrame | None = None,
    quality_params=None,
    decon_n: int = 13,
    minhash_k: int = 16,
    minhash_bands: int = 4,
    minhash_threshold: float = 0.8,
    ppl_model: DataFrame | None = None,
    max_ppl: float = 30.0,
    ppl_alpha: float = 0.1,
    ppl_lang_col: str | None = None,
):
    """foreachBatch seam for STREAMING corpus curation — the live twin
    of operators.curation.curate_corpus_incremental: each micro-batch
    gets the five-stage verdict (quality / repetition /
    decontamination / perplexity batch-local; dedup = in-batch min-id
    canonicality AND no near-dup among PRIOR batches' survivors in the
    stored LSH state), verdicts land under {state_dir}/verdicts and
    the batch's SURVIVOR signatures/buckets under {state_dir}/index —
    all PARTITIONED BY batch_id with dynamic partition overwrite.

    Replay idempotency (same contract as neardup_batch_writer): a
    crashed micro-batch replays with the SAME batch_id, overwriting
    exactly its own verdict and index partitions; the stored index
    side is filtered to batch_id != current, so a replay neither
    matches its first attempt's rows nor double-appends survivors —
    the two failure modes a plain append layout cannot exclude.
    Only survivors are indexed, so a quality-reject never shadows a
    later clean near-copy (the batch-API funnel's contract)."""
    from advanced_data_profile_spark.operators.curation import curate_corpus
    from advanced_data_profile_spark.operators.dedup import (
        lsh_band_buckets,
        match_against_index,
        minhash_signatures,
    )
    from advanced_data_profile_spark.session import hadoop_path_exists

    sig_dir = f"{state_dir}/index/signatures"
    bkt_dir = f"{state_dir}/index/buckets"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        verdicts = curate_corpus(
            batch_df, id_col, text_col,
            benchmark=benchmark, quality_params=quality_params,
            decon_n=decon_n, minhash_k=minhash_k,
            minhash_bands=minhash_bands,
            minhash_threshold=minhash_threshold, ppl_model=ppl_model,
            max_ppl=max_ppl, ppl_alpha=ppl_alpha, ppl_lang_col=ppl_lang_col,
        )
        sigs = minhash_signatures(batch_df, id_col, text_col, minhash_k)
        sigs = sigs.persist()
        b_new = lsh_band_buckets(sigs, minhash_bands,
                                 minhash_k // minhash_bands)
        if hadoop_path_exists(spark, bkt_dir):
            stored_b = spark.read.parquet(bkt_dir).where(
                F.col("batch_id") != int(batch_id)
            )
            stored_s = spark.read.parquet(sig_dir).where(
                F.col("batch_id") != int(batch_id)
            )
            hits = (
                match_against_index(
                    stored_b, stored_s, b_new, sigs, minhash_k,
                    minhash_threshold,
                )
                .select(F.col("id_new").alias("id"))
                .distinct()
                .withColumn("__indexed_dup", F.lit(True))
            )
            verdicts = verdicts.join(hits, "id", "left").withColumn(
                "keep_dedup",
                F.col("keep_dedup") & F.col("__indexed_dup").isNull(),
            ).drop("__indexed_dup")
            keep = None
            for c in (
                "keep_quality", "keep_repetition", "keep_decontamination",
                "keep_dedup", "keep_perplexity",
            ):
                keep = F.col(c) if keep is None else (keep & F.col(c))
            verdicts = verdicts.withColumn("keep_final", keep)
        # materialize before any state write: neither the verdict write
        # nor the survivor filter may recompute against this batch's
        # own appended partitions (write-path cache-invalidation)
        verdicts = verdicts.localCheckpoint(eager=True)
        (
            verdicts.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{state_dir}/verdicts")
        )
        surv_ids = verdicts.where(F.col("keep_final")).select(
            F.col("id")
        )
        surv_sigs = sigs.join(surv_ids, "id")
        for d, rel in (
            (sig_dir, surv_sigs),
            (bkt_dir, lsh_band_buckets(
                surv_sigs, minhash_bands, minhash_k // minhash_bands
            )),
        ):
            (
                rel.withColumn("batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(d)
            )
        sigs.unpersist()

    return write_batch
