"""End-to-end pipeline: results land, resume is idempotent, verdicts
match ground truth (the golden-report analogue, SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from advanced_data_profile_spark.plans.manifest import Manifest
from advanced_data_profile_spark.plans.pipeline import PipelineConfig, run_pipeline
from advanced_data_profile_spark.sources.images import ground_truth

N_PARTS, ROWS = 4, 250


@pytest.fixture(scope="module")
def pipe_out(spark, images_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe") / "out")
    summary = run_pipeline(spark, images_path, out)
    return out, summary


def test_summary(pipe_out):
    _, s = pipe_out
    assert s["partitions"] == N_PARTS
    assert s["rows"] == N_PARTS * ROWS
    assert s["images_per_sec"] > 0


def test_result_tables_exist(spark, pipe_out):
    out, _ = pipe_out
    profiles = spark.read.parquet(f"{out}/column_profiles")
    # 7 metadata columns (no bytes) + caption_len, per partition
    assert profiles.count() == N_PARTS * 7
    results = spark.read.parquet(f"{out}/constraint_results")
    assert results.where(~F.col("passed")).count() > 0
    assert spark.read.parquet(f"{out}/violations").count() > 0
    assert spark.read.parquet(f"{out}/drift_results").count() == (N_PARTS - 1) * 3


def test_verdict_values(spark, pipe_out):
    out, _ = pipe_out
    res = spark.read.parquet(f"{out}/constraint_results")
    gt = ground_truth(N_PARTS, ROWS)
    by = {(int(r.part_id), r.constraint): r for r in res.collect()}
    assert by[(0, "caption_not_null")].n_violations == gt[0]["caption_violations"]
    assert by[(1, "phash_ref")].n_violations == gt[1]["orphan_phash"]
    assert by[(2, "h_domain")].passed is True


def test_profile_sketch_state_rolls_up_without_rescan(spark, images_path, pipe_out):
    """The persisted per-partition KLL/HLL sketch state must merge to
    table-level stats that match direct whole-table computation within
    the sketch bounds — profiles roll up from STORED state, no raw
    rescan."""
    from advanced_data_profile_spark.operators.sketches import (
        rollup_stored_profile_sketches,
    )
    from advanced_data_profile_spark.sources.images import read_images

    out, _ = pipe_out
    sk = spark.read.parquet(f"{out}/profile_sketches")
    assert sk.count() == N_PARTS * 7  # same column set as column_profiles
    rolled = {
        r.column: r for r in rollup_stored_profile_sketches(
            spark, f"{out}/profile_sketches"
        ).collect()
    }
    images = read_images(spark, images_path)
    exact_ids = images.select("image_id").distinct().count()
    assert rolled["image_id"].n_distinct_est == pytest.approx(exact_ids, rel=0.05)
    # near-continuous numeric column: merged KLL quantiles within rank
    # bound of exact (w/h are 3-valued — a rank bound is meaningless
    # there; their quantiles must still be actual domain values)
    meta = images.withColumn("caption_len", F.length("caption"))
    n = meta.where(F.col("caption_len").isNotNull()).count()
    r = rolled["caption_len"]
    for p, q in ((25, r.p25), (50, r.p50), (75, r.p75)):
        rank = meta.where(F.col("caption_len").cast("double") <= q).count() / n
        assert abs(rank - p / 100) <= 0.05
    assert rolled["w"].p50 in (16.0, 32.0, 64.0)
    # string column: no KLL state, but the HLL merge still answers
    assert rolled["fmt"].p50 is None
    assert rolled["fmt"].n_distinct_est >= 2


def test_resume_skips_done(spark, images_path, pipe_out):
    out, _ = pipe_out
    s2 = run_pipeline(spark, images_path, out)
    assert s2["partitions"] == 0
    assert "skipped" in s2


def test_manifest_lineage(spark, pipe_out):
    out, _ = pipe_out
    m = Manifest(spark, f"{out}/manifest").read().collect()
    assert len(m) == N_PARTS
    assert all(r.status == "done" for r in m)
    assert all(r.n_rows == ROWS for r in m)
    assert all('"timings"' in r.metrics_json for r in m)


def test_resume_drift_uses_stored_baseline(spark, images_path, tmp_path_factory):
    """A resumed run whose baseline partition is already done must score
    drift against the STORED baseline histogram (same bin grid), not an
    empty one (null scores)."""
    base = tmp_path_factory.mktemp("pipe3")
    out = str(base / "out")
    first_half = str(base / "imgs01")
    spark.read.parquet(images_path).where(F.col("part_id") < 2).write.parquet(
        first_half
    )
    s1 = run_pipeline(spark, first_half, out)
    assert s1["partitions"] == 2
    # second run over the FULL table resumes: only parts 2,3 pending
    s2 = run_pipeline(spark, images_path, out)
    assert s2["partitions"] == 2
    dr = spark.read.parquet(f"{out}/drift_results").collect()
    late = [r for r in dr if int(r.part_id) in (2, 3)]
    assert len(late) == 2 * 3  # 3 drift columns per late partition
    assert all(r.ks is not None and r.psi is not None for r in late)
    # the baseline's stored histogram survived the resumed run's write
    hist = spark.read.parquet(f"{out}/histograms")
    assert hist.where(F.col("grp") == 0).count() > 0


def test_resume_drift_with_stale_histogram_files(spark, images_path, tmp_path_factory):
    """Crash recovery: a prior run wrote histograms for partitions that
    never reached the manifest commit. Resume must re-process them —
    reading the stored baseline BEFORE dynamic-overwriting the same
    table (a lazy read here used to hit FileNotFoundException)."""
    import shutil

    out = str(tmp_path_factory.mktemp("pipe4") / "out")
    s1 = run_pipeline(spark, images_path, out)
    assert s1["partitions"] == N_PARTS
    # simulate the crash: results (incl. histograms for ALL parts) are
    # on disk, but only parts 0,1 committed to the manifest
    shutil.rmtree(f"{out}/manifest")
    manifest = Manifest(spark, f"{out}/manifest")
    manifest.record("prior", "0", "done", n_rows=ROWS)
    manifest.record("prior", "1", "done", n_rows=ROWS)

    s2 = run_pipeline(spark, images_path, out)
    assert s2["partitions"] == 2
    dr = spark.read.parquet(f"{out}/drift_results").collect()
    late = [r for r in dr if int(r.part_id) in (2, 3)]
    assert len(late) == 2 * 3
    assert all(r.ks is not None and r.psi is not None for r in late)


def test_pipeline_catches_cross_partition_duplicate_ids(spark, pipe_out):
    """The fixture plants row 0 of every part > 0 duplicating part 0's
    row-0 image_id; the pipeline's uniqueness check is global so these
    must FAIL the verdict."""
    out, _ = pipe_out
    res = spark.read.parquet(f"{out}/constraint_results")
    uniq = {int(r.part_id): r for r in
            res.where(F.col("constraint") == "image_id_unique").collect()}
    gt = ground_truth(N_PARTS, ROWS)
    for p in range(N_PARTS):
        assert uniq[p].n_violations == gt[p]["dup_id_pairs"] * 2 + 1
        assert uniq[p].passed is False


def test_partial_resume(spark, images_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe2") / "out")
    manifest = Manifest(spark, f"{out}/manifest")
    # simulate a prior interrupted run that finished only partitions 0,1
    manifest.record("prior", "0", "done", n_rows=ROWS)
    manifest.record("prior", "1", "done", n_rows=ROWS)
    s = run_pipeline(spark, images_path, out)
    assert s["partitions"] == 2  # only 2,3 processed
    done = {r.part_id for r in manifest.done_parts().collect()}
    assert done == {"0", "1", "2", "3"}


def test_global_uniqueness_catches_cross_run_duplicates(
    spark, images_path, tmp_path_factory
):
    """The cross-RUN gap, closed: a LATE partition duplicating ids that
    an already-done partition holds passes the incremental (pending-
    scope) uniqueness check but is caught by the dedicated full-table
    global_uniqueness_check, with both partitions attributed."""
    from advanced_data_profile_spark.plans.pipeline import (
        global_uniqueness_check,
    )
    from advanced_data_profile_spark.plans.report import assemble_report

    base = tmp_path_factory.mktemp("pipeg")
    imgs = str(base / "imgs")
    out = str(base / "out")
    spark.read.parquet(images_path).withColumn(
        "part_id", F.col("part_id").cast("int")
    ).write.partitionBy("part_id").parquet(imgs)
    s1 = run_pipeline(spark, imgs, out)
    assert s1["partitions"] == N_PARTS

    # a LATE partition whose ids all duplicate partition 0's (but are
    # unique within itself) arrives after the first run committed
    src = spark.read.parquet(imgs)
    late = (
        src.where((F.col("part_id") == 0) & (F.col("w") > 0))
        .orderBy("image_id").limit(5).dropDuplicates(["image_id"])
        .withColumn("part_id", F.lit(N_PARTS).cast("int"))
    )
    late.write.mode("append").partitionBy("part_id").parquet(imgs)

    s2 = run_pipeline(spark, imgs, out)
    assert s2["partitions"] == 1  # only the late partition was pending
    res = spark.read.parquet(f"{out}/constraint_results")
    late_uniq = res.where(
        (F.col("constraint") == "image_id_unique")
        & (F.col("part_id") == str(N_PARTS))
    ).collect()
    # the incremental check's documented blind spot: within the pending
    # set the late ids are unique
    assert len(late_uniq) == 1 and late_uniq[0].passed is True

    g = global_uniqueness_check(spark, imgs, out)
    assert g["passed"] is False
    assert str(N_PARTS) in g["failed_partitions"]
    assert "0" in g["failed_partitions"]
    assert g["n_violations"] >= 10  # 5 ids x 2 rows each (at least)

    report = assemble_report(spark, out)
    gc = report["global_constraints"]["image_id_unique_global"]
    assert gc["passed"] is False
    assert str(N_PARTS) in gc["failed_partitions"]
    assert report["overall_passed"] is False
    # lineage row for the global pass
    m = Manifest(spark, f"{out}/manifest").read()
    gl = m.where(F.col("part_id") == "__global__").collect()
    assert len(gl) == 1 and gl[0].status == "done"


def test_read_images_iceberg_is_a_config_not_a_code_fork(spark, monkeypatch):
    """table_format='iceberg' must route through format('iceberg') on
    the SAME reader function (PipelineConfig:table_format / read_images)
    — one reader, not a code fork. The runtime jar is absent in this
    sandbox, so the call SHAPE is asserted via a patched reader, and the
    jar-absent failure mode is pinned (fails at source resolution, i.e.
    the branch really builds an iceberg scan)."""
    from pyspark.sql.readwriter import DataFrameReader

    from advanced_data_profile_spark.sources.images import read_images

    rec = {}

    class _FakeReader:
        def load(self, path):
            rec["path"] = path
            return "ICEBERG_DF"

    def fake_format(self, source):
        rec["source"] = source
        return _FakeReader()

    monkeypatch.setattr(DataFrameReader, "format", fake_format)
    out = read_images(spark, "warehouse.db.images", fmt="iceberg")
    assert out == "ICEBERG_DF"
    assert rec == {"source": "iceberg", "path": "warehouse.db.images"}
    monkeypatch.undo()

    # jar-absent: the plan fails at DATA SOURCE RESOLUTION (proof the
    # branch asks Spark for the iceberg source, not a silent fallback)
    with pytest.raises(Exception, match="(?i)iceberg|DATA_SOURCE"):
        read_images(spark, "warehouse.db.images", fmt="iceberg")


def test_global_uniqueness_pass_is_idempotent(spark, images_path, tmp_path_factory):
    """Re-running the global pass fully supersedes the previous one:
    constraint_results_global never accumulates rows, and the verdict is
    stable."""
    from advanced_data_profile_spark.plans.pipeline import (
        global_uniqueness_check,
    )

    out = str(tmp_path_factory.mktemp("pipegi") / "out")
    g1 = global_uniqueness_check(spark, images_path, out)
    n1 = spark.read.parquet(f"{out}/constraint_results_global").count()
    g2 = global_uniqueness_check(spark, images_path, out)
    n2 = spark.read.parquet(f"{out}/constraint_results_global").count()
    assert n1 == n2 == N_PARTS  # one row per partition per key col
    assert g1["n_violations"] == g2["n_violations"]
    assert g1["passed"] == g2["passed"] is False  # fixture plants dups


def test_pipeline_categorical_drift_flags_fmt_shift(spark, tmp_path):
    """A partition whose fmt mix departs from the baseline partition's
    must fail drift_cat_fmt; matching partitions pass. Exercises the
    categorical-drift leg end to end (counts persisted, verdicts in
    drift_results_categorical)."""
    from advanced_data_profile_spark.sources.images import generate_images

    imgs = generate_images(spark, n_parts=3, rows_per_part=300)
    # parts 0/1 keep the generated mix; part 2 forced to a single fmt
    shifted = imgs.withColumn(
        "fmt",
        F.when(F.col("part_id") == 2, F.lit("bmp")).otherwise(F.col("fmt")),
    )
    path = str(tmp_path / "imgs")
    shifted.write.partitionBy("part_id").parquet(path)
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, cfg=PipelineConfig(validate_images=False))

    dv = {
        # partition-column discovery re-infers part_id as int
        str(r.part_id): r
        for r in spark.read.parquet(f"{out}/drift_results_categorical").collect()
    }
    assert set(dv) == {"1", "2"}
    assert dv["2"].passed is False and dv["2"].psi > 0.25
    assert dv["1"].passed is True
    assert dv["2"].constraint == "drift_cat_fmt"
    # counts artifact persisted per partition (the resume baseline)
    cc = spark.read.parquet(f"{out}/category_counts")
    assert cc.where(F.col("column") == "fmt").count() > 0
    # the assembled report surfaces the categorical verdicts and folds
    # them into the partition's overall pass
    from advanced_data_profile_spark.plans.report import assemble_report

    rep = assemble_report(spark, out)
    p2 = rep["partitions"]["2"]
    assert p2["drift_categorical"]["drift_cat_fmt"]["passed"] is False
    assert p2["passed"] is False
    from advanced_data_profile_spark.plans.html_report import render_html

    assert "Categorical drift" in render_html(rep)


def test_flat_layout_runs_the_jvm_decode_scan(spark, tmp_path):
    """A flat (non-hive) images table: partitions are found by a scan,
    not a directory listing, and the decode pass runs the JVM parquet
    scan (a flat layout yields no pyarrow row-group tasks); the
    verdicts still equal the planted ground truth, and a second run
    resumes past every partition the first one committed."""
    from advanced_data_profile_spark.sources.images import (
        generate_images,
        write_images,
    )

    src = str(tmp_path / "hive")
    write_images(generate_images(spark, n_parts=2, rows_per_part=20), src)
    flat = str(tmp_path / "flat")
    spark.read.parquet(src).write.parquet(flat)
    out = str(tmp_path / "out")
    assert run_pipeline(spark, flat, out)["partitions"] == 2

    got = {
        (int(r.part_id), r.constraint, r.kind): r.n_violations
        for r in spark.read.parquet(f"{out}/constraint_results").collect()
    }
    expect = {}
    for p, g in ground_truth(2, 20).items():
        expect.update({
            (p, "caption_not_null", "not_null"): g["caption_violations"],
            (p, "w_domain", "domain"): g["w_domain_violations"],
            (p, "h_domain", "domain"): 0,
            (p, "fmt_known", "domain"): g["fmt_violations"],
            (p, "phash_ref", "referential"): g["orphan_phash"],
            # plus one row per partition for the cross-partition
            # duplicate of part 0's row-0 id
            (p, "image_id_unique", "unique"): g["dup_id_pairs"] * 2 + 1,
            (p, "fmt_known", "image"): g["fmt_violations"],
            (p, "payload_decodes", "image"): g["corrupt_payloads"]
            + g["fmt_violations"] + g["w_domain_violations"] + g["dim_mismatch"],
            # a planted dims mismatch fails the decode itself
            (p, "dims_match_payload", "image"): 0,
        })
    assert got == expect
    assert run_pipeline(spark, flat, out)["partitions"] == 0


def test_file_uri_output_dir_commits_and_resumes(spark, images_path, tmp_path, monkeypatch):
    """An output dir given as a file:// URI: the manifest commit lands
    in the real directory (not a stray ./file:/ tree under the working
    directory), and a second run sees it and skips every partition."""
    import os

    monkeypatch.chdir(tmp_path)
    out = (tmp_path / "out").as_uri()
    cfg = PipelineConfig(validate_images=False)
    assert run_pipeline(spark, images_path, out, cfg=cfg)["partitions"] == N_PARTS
    assert Manifest(spark, f"{out}/manifest").exists()
    assert run_pipeline(spark, images_path, out, cfg=cfg)["partitions"] == 0
    assert not [d for d in os.listdir(tmp_path) if d.startswith("file:")]


def test_small_hive_input_decodes_without_the_jvm_scan(spark, tmp_path, monkeypatch):
    """Two hive partitions on the 8-core session (fewer files than
    cores) still decode through the pyarrow leg: with the JVM scan
    leg made to raise, the run succeeds and its decode verdicts equal
    the planted ground truth."""
    from advanced_data_profile_spark.operators import image_verify
    from advanced_data_profile_spark.sources.images import (
        generate_images,
        write_images,
    )

    def jvm_scan(_):
        raise AssertionError("hive input reached the JVM decode scan")

    monkeypatch.setattr(image_verify, "verdict_counts", jvm_scan)
    src = str(tmp_path / "hive")
    write_images(generate_images(spark, n_parts=2, rows_per_part=40), src)
    out = str(tmp_path / "out")
    assert run_pipeline(spark, src, out)["partitions"] == 2

    got = {
        (int(r.part_id), r.constraint): r.n_violations
        for r in spark.read.parquet(f"{out}/constraint_results")
        .where(F.col("kind") == "image").collect()
    }
    expect = {}
    for p, g in ground_truth(2, 40).items():
        expect.update({
            (p, "fmt_known"): g["fmt_violations"],
            (p, "payload_decodes"): g["corrupt_payloads"] + g["fmt_violations"]
            + g["w_domain_violations"] + g["dim_mismatch"],
            (p, "dims_match_payload"): 0,
        })
    assert got == expect


def test_row_sample_does_not_follow_the_split_layout(spark, tmp_path, monkeypatch):
    """row_sample holds the same rows whether its partition's one file
    is scanned as 1 split or as 8: the pipeline pins its metadata scans
    at minPartitionNum=1, and here that pin becomes 1 or 8, with a
    64 KB open cost so the 1.3 MB file splits."""
    from advanced_data_profile_spark.plans.pipeline import MIN_PARTS_CONF
    from advanced_data_profile_spark.sources.images import generate_images, write_images

    imgs = str(tmp_path / "imgs")
    write_images(generate_images(spark, n_parts=2, rows_per_part=300), imgs)
    conf_type = type(spark.conf)
    real_set = conf_type.set

    def sample(min_parts: int) -> list[str]:
        def set_conf(self, key, value):
            pinned = (key, value) == (MIN_PARTS_CONF, "1")
            real_set(self, key, str(min_parts) if pinned else value)

        out = str(tmp_path / f"out{min_parts}")
        with monkeypatch.context() as m:
            m.setattr(conf_type, "set", set_conf)
            run_pipeline(spark, imgs, out,
                         cfg=PipelineConfig(validate_images=False, drift=False))
        return sorted(r.image_id for r in spark.read.parquet(f"{out}/row_sample").collect())

    spark.conf.set("spark.sql.files.openCostInBytes", str(64 << 10))
    try:
        one, eight = sample(1), sample(8)
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert one == eight
    assert len(one) == 100


def test_resume_without_stored_baseline_dir_skips_drift(spark, images_path, tmp_path):
    """A resumed run whose stored histograms and category_counts lack the
    baseline's part_id directory has no baseline to score against: its
    manifest rows report skipped_no_baseline for both drift families."""
    import json
    import shutil

    from advanced_data_profile_spark.plans.manifest import latest_rows

    first_half, out = str(tmp_path / "imgs01"), str(tmp_path / "out")
    spark.read.parquet(images_path).where(F.col("part_id") < 2).write.partitionBy(
        "part_id").parquet(first_half)
    cfg = PipelineConfig(validate_images=False)
    assert run_pipeline(spark, first_half, out, cfg=cfg)["partitions"] == 2
    for table in ("histograms", "category_counts"):
        shutil.rmtree(f"{out}/{table}/part_id=0")
    assert run_pipeline(spark, images_path, out, cfg=cfg)["partitions"] == 2
    latest = latest_rows(Manifest(spark, f"{out}/manifest").rows())
    for part in ("2", "3"):
        drift = json.loads(latest[part]["metrics_json"])["drift"]
        assert drift["skipped_no_baseline"] == ["caption_len", "h", "w"]
        assert drift["categorical_skipped_no_baseline"] == ["fmt"]
