"""Codec roundtrip + Arrow-batched validation/verification kernels."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from advanced_data_profile_spark.functions.imagecodec import (
    decode,
    decode_bmp,
    decode_raw,
    encode_bmp,
    encode_raw,
    pixel_hash,
    psnr,
    stub_perceptual_phash,
)
from advanced_data_profile_spark.operators.image_verify import (
    validate_payloads,
    validation_verdicts,
    verify_against_reference,
)
from advanced_data_profile_spark.sources.images import ground_truth, read_images

N_PARTS, ROWS = 4, 250


def _pixels(seed=0, w=20, h=12):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_raw_roundtrip():
    px = _pixels()
    assert np.array_equal(decode_raw(encode_raw(px), 20, 12), px)


def test_bmp_roundtrip_odd_width():
    # width 21 -> BMP rows need padding; roundtrip must still be exact
    px = _pixels(w=21, h=7)
    assert np.array_equal(decode_bmp(encode_bmp(px), 21, 7), px)


def test_decode_failures():
    px = _pixels()
    with pytest.raises(ValueError):
        decode_raw(encode_raw(px)[:-1], 20, 12)
    with pytest.raises(ValueError):
        decode_bmp(encode_bmp(px)[:-5], 20, 12)
    with pytest.raises(ValueError):
        decode_bmp(encode_bmp(px), 19, 12)  # dims mismatch vs header
    with pytest.raises(ValueError):
        decode(encode_raw(px), 20, 12, "tiff??")
    with pytest.raises(ValueError):
        decode(None, 20, 12, "raw")


def test_psnr():
    px = _pixels()
    assert psnr(px, px) == 99.0
    noisy = px.copy()
    noisy[0, 0, 0] = (int(noisy[0, 0, 0]) + 128) % 256
    assert 0 < psnr(px, noisy) < 99.0
    assert psnr(px, _pixels(seed=9)) < 40.0


def test_pixel_hash_deterministic_nonnegative():
    px = _pixels()
    assert pixel_hash(px) == pixel_hash(px.copy())
    assert pixel_hash(px) >= 0
    assert pixel_hash(px) != pixel_hash(_pixels(seed=1))


def test_stub_perceptual_phash_locality():
    px = _pixels(w=64, h=64)
    near = px.copy()
    near[0, 0, 0] ^= 1  # tiny perturbation
    a, b = stub_perceptual_phash(px), stub_perceptual_phash(near)
    assert bin((a ^ b) & ((1 << 64) - 1)).count("1") <= 4
    far = stub_perceptual_phash(_pixels(seed=7, w=64, h=64))
    assert bin((a ^ far) & ((1 << 64) - 1)).count("1") > 4


@pytest.fixture(scope="module")
def images(spark, images_path):
    return read_images(spark, images_path)


def test_validation_matches_ground_truth(images):
    verdicts = validation_verdicts(validate_payloads(images)).collect()
    gt = ground_truth(N_PARTS, ROWS)
    by = {(int(r.part_id), r.constraint): r for r in verdicts}
    for p in range(N_PARTS):
        g = gt[p]
        expected_decode_fails = (
            g["corrupt_payloads"] + g["fmt_violations"]
            + g["w_domain_violations"] + g["dim_mismatch"]
        )
        assert by[(p, "payload_decodes")].n_violations == expected_decode_fails
        assert by[(p, "fmt_known")].n_violations == g["fmt_violations"]


def test_verify_against_reference_self(images):
    # dedup planted duplicate ids first: self-verify must then pass 100%
    clean = images.dropDuplicates(["image_id"])
    out = verify_against_reference(clean, clean)
    agg = out.agg(
        F.sum((~F.col("caption_ok")).cast("int")).alias("cap_bad"),
        F.sum((F.col("error").isNull() & ~F.col("pixels_ok")).cast("int")).alias("px_bad"),
        F.min(F.when(F.col("error").isNull(), F.col("psnr"))).alias("min_psnr"),
    ).collect()[0]
    assert agg.cap_bad == 0
    assert agg.px_bad == 0
    assert agg.min_psnr == 99.0


def test_verify_detects_caption_tamper(spark, images):
    clean = images.dropDuplicates(["image_id"]).where(F.col("caption").isNotNull())
    tampered = clean.withColumn(
        "caption",
        F.when(F.col("image_id") == "img-0000-00000002",
               F.lit("tampered caption")).otherwise(F.col("caption")),
    )
    out = verify_against_reference(tampered, clean)
    bad = out.where(~F.col("caption_ok")).collect()
    assert [r.image_id for r in bad] == ["img-0000-00000002"]


def test_pyarrow_decode_leg_matches_jvm_leg(spark, images_path, images):
    """The pyarrow decode leg (row-group tasks, bytes read inside the
    Python workers) must produce row-identical validation output to
    the JVM-scan leg — same kernel, different transport — including on
    the fixture's planted corrupt/mismatched payloads."""
    from advanced_data_profile_spark.operators.image_verify import (
        decode_file_tasks,
        validate_payloads_files,
    )

    part_ids = sorted(
        r.part_id for r in images.select("part_id").distinct().collect()
    )
    tasks = decode_file_tasks(spark, images_path, part_ids)
    assert len(tasks) >= N_PARTS  # at least one row group per part dir
    assert {t[1] for t in tasks} == set(part_ids)
    via_files = validate_payloads_files(
        spark, images_path, part_ids, tasks=tasks
    )
    via_jvm = validate_payloads(images)

    def norm(df):
        return sorted(
            (
                r.image_id, r.part_id, r.decode_ok, r.dims_match,
                r.fmt_known, r.error,
            )
            for r in df.collect()
        )

    assert norm(via_files) == norm(via_jvm)
    # and the rolled-up verdicts agree with ground truth through the
    # new leg too
    verdicts = validation_verdicts(via_files).collect()
    gt = ground_truth(N_PARTS, ROWS)
    by = {(int(r.part_id), r.constraint): r for r in verdicts}
    for p in range(N_PARTS):
        g = gt[p]
        assert by[(p, "fmt_known")].n_violations == g["fmt_violations"]


def test_pyarrow_decode_leg_prunes_partitions(spark, images_path):
    """Listing only the pending part dirs IS the partition pruning:
    tasks and output rows cover exactly the requested partitions."""
    from advanced_data_profile_spark.operators.image_verify import (
        decode_file_tasks,
        validate_payloads_files,
    )

    tasks = decode_file_tasks(spark, images_path, [1, 3])
    assert {t[1] for t in tasks} == {1, 3}
    out = validate_payloads_files(spark, images_path, [1, 3], tasks=tasks)
    assert {
        r.part_id for r in out.select("part_id").distinct().collect()
    } == {1, 3}


def test_pyarrow_decode_leg_multi_file_part_dirs(spark, tmp_path):
    """Part dirs with MULTIPLE data files (the normal shape at scale —
    the standard fixture writes one file per dir): every file
    contributes its row groups as tasks and the union covers every row
    exactly once, matching the JVM leg."""
    from advanced_data_profile_spark.operators.image_verify import (
        decode_file_tasks,
        validate_payloads_files,
    )
    from advanced_data_profile_spark.sources.images import generate_images

    path = str(tmp_path / "multi")
    (
        generate_images(spark, n_parts=2, rows_per_part=300)
        .repartition(3)  # 3 files per part dir
        .write.partitionBy("part_id")
        .option("compression", "uncompressed")
        .parquet(path)
    )
    tasks = decode_file_tasks(spark, path, [0, 1])
    assert len(tasks) >= 6  # >= 3 files x 2 dirs, each >= 1 row group
    assert len(set(tasks)) == len(tasks)
    out = validate_payloads_files(spark, path, [0, 1], tasks=tasks)
    rows = out.collect()
    assert len(rows) == 600  # every row exactly once (the fixture
    # plants duplicate image_ids on purpose, so multiset parity with
    # the JVM leg below is the no-dup-read/no-missed-read check)
    jvm = validate_payloads(read_images(spark, path)).collect()
    assert sorted(
        (r.image_id, r.decode_ok, r.dims_match) for r in rows
    ) == sorted((r.image_id, r.decode_ok, r.dims_match) for r in jvm)


def test_pyarrow_decode_leg_tolerates_missing_part_dir(spark, images_path):
    """A pending partition whose hive dir is absent contributes no
    decode tasks (same zero rows the JVM scan would see) instead of
    raising inside the decode future — where the failure would surface
    only after the pipeline's results overwrite."""
    from advanced_data_profile_spark.operators.image_verify import (
        decode_file_tasks,
    )

    with_missing = decode_file_tasks(spark, images_path, [1, 9999])
    only_real = decode_file_tasks(spark, images_path, [1])
    assert with_missing == only_real and len(only_real) > 0


def test_pyarrow_decode_slices_read_each_row_group_once(spark, tmp_path, monkeypatch):
    """A hive file with several row groups, cut into more slices than
    it has row groups (the split constant made small): the slices
    cover every row group exactly once, so the pyarrow leg yields every
    row once and the same multiset as the JVM leg."""
    import pyarrow.parquet as pq

    from advanced_data_profile_spark.operators import image_verify as IV
    from advanced_data_profile_spark.sources.images import generate_images

    part = tmp_path / "rgs" / "part_id=0"
    part.mkdir(parents=True)
    t = generate_images(spark, n_parts=1, rows_per_part=500).drop("part_id").toArrow()
    pq.write_table(t, str(part / "f.parquet"), row_group_size=100,
                   compression="none")
    assert pq.ParquetFile(str(part / "f.parquet")).metadata.num_row_groups == 5
    size = (part / "f.parquet").stat().st_size
    monkeypatch.setattr(IV, "MIN_SPLIT_BYTES", 1)
    monkeypatch.setattr(IV, "MAX_SPLIT_BYTES", size // 10)
    n = -(-size // (size // 10))  # 10 or 11 slices over 5 row groups
    path = str(tmp_path / "rgs")
    tasks = IV.decode_file_tasks(spark, path, [0])
    assert [t[2:] for t in tasks] == [(k, n) for k in range(n)]
    rows = IV.validate_payloads_files(spark, path, [0], tasks=tasks).collect()
    assert len(rows) == 500

    def norm(rs):
        return sorted(
            (r.image_id, r.part_id, r.decode_ok, r.dims_match, r.fmt_known, r.error)
            for r in rs
        )

    jvm = IV.validate_payloads(read_images(spark, path)).collect()
    assert norm(rows) == norm(jvm)


def test_decode_slices_follow_spark_split_size(spark, images_path):
    """With no monkeypatching, a small hive input gets the floor split
    (MIN_SPLIT_BYTES): one slice per file of the fixture, planned from
    the listing with no Spark job."""
    from advanced_data_profile_spark.operators import image_verify as IV

    sc = spark.sparkContext
    sc.setJobGroup("decode_plan_probe", "decode_plan_probe")
    try:
        tasks = IV.decode_file_tasks(spark, images_path, [0, 1, 2, 3])
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("decode_plan_probe") == []
    assert sorted(t[1] for t in tasks) == [0, 1, 2, 3]
    assert all(t[2:] == (0, 1) for t in tasks)


def test_packing_covers_each_slice_once_within_the_split():
    """Slices of any size pack into groups holding every slice exactly
    once; a group of two or more slices stays within the split size,
    split-sized slices (table scale) get a group each, and slices that
    fit cores x split in pairs fill one group per core."""
    import random

    from advanced_data_profile_spark.operators import image_verify as IV

    rng = random.Random(7)
    split = 64 << 20
    slices = [
        ((f"f{i}", i % 3, 0, 1),
         rng.choice([rng.randrange(1, 1 << 20), rng.randrange(1 << 20, split), split]))
        for i in range(300)
    ]
    groups = IV.pack_slices(slices, split)
    assert sorted(t for g in groups for t in g) == sorted(t for t, _ in slices)
    size = dict(slices)
    assert all(len(g) == 1 or sum(size[t] for t in g) <= split for g in groups)
    assert any(len(g) > 1 for g in groups)
    full = [((f"f{i}", 0, 0, 1), split) for i in range(5)]
    assert IV.pack_slices(full, split) == [[t] for t, _ in full]
    assert IV.pack_slices([], split) == []
    mb = 1 << 20
    files = [((f"g{i}", i, 0, 1), b) for i, b in enumerate(
        [26 * mb, 27 * mb, 26 * mb, 26 * mb, 26 * mb, 26 * mb, 39 * mb, 38 * mb])]
    groups = IV.pack_slices(files, (sum(b for _, b in files) + 8 * IV.OPEN_COST_BYTES) // 4)
    assert sorted(len(g) for g in groups) == [2, 2, 2, 2]


def test_fixture_slices_pack_into_at_most_one_task_per_core(spark, images_path):
    from advanced_data_profile_spark.operators import image_verify as IV

    groups = IV.decode_file_groups(spark, images_path, [0, 1, 2, 3])
    assert 1 <= len(groups) <= spark.sparkContext.defaultParallelism
    assert sorted(t for g in groups for t in g) == sorted(
        IV.decode_file_tasks(spark, images_path, [0, 1, 2, 3]))


def test_fold_counts_each_verdict_per_partition():
    """The in-task fold and the driver rollup count what
    validation_verdicts counts, a decoded payload with the wrong dims
    included (the codecs reject one before it decodes, so only a
    hand-made batch holds it)."""
    import pyarrow as pa

    from advanced_data_profile_spark.operators import image_verify as IV

    b = pa.RecordBatch.from_pydict({
        "image_id": list("abcde"),
        "part_id": pa.array([0, 0, 1, 1, 1], pa.int32()),
        "decode_ok": [True, False, True, True, False],
        "dims_match": [True, False, False, True, False],
        "fmt_known": [True, True, False, True, False],
        "error": [None, "x", None, None, "y"],
    })
    folded = pa.Table.from_batches(list(IV._fold_verdicts(iter([b, b.slice(2)]))))
    assert sorted(folded.to_pylist(), key=lambda r: r["part_id"]) == [
        {"part_id": 0, "n_rows": 2, "v_decode": 1, "v_dims": 0, "v_fmt": 0},
        {"part_id": 1, "n_rows": 6, "v_decode": 2, "v_dims": 2, "v_fmt": 4},
    ]
    rows = {(r["part_id"], r["constraint"]): (r["kind"], r["n_rows"], r["n_violations"],
                                              r["passed"])
            for r in IV.verdict_rows(pa.concat_tables([folded, folded])).to_pylist()}
    assert rows == {
        ("0", "payload_decodes"): ("image", 4, 2, False),
        ("0", "dims_match_payload"): ("image", 4, 0, True),
        ("0", "fmt_known"): ("image", 4, 0, True),
        ("1", "payload_decodes"): ("image", 12, 4, False),
        ("1", "dims_match_payload"): ("image", 12, 4, False),
        ("1", "fmt_known"): ("image", 12, 8, False),
    }
    assert list(IV._fold_verdicts(iter([]))) == []


def _adversarial_tables(spark, root):
    """Hive and flat copies of a 2-partition images table with NULL,
    truncated, unknown-fmt (and NULL-fmt) payloads and declared dims
    that do not match their payload; each hive file has 6 row groups."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from advanced_data_profile_spark.sources.images import generate_images

    t = generate_images(spark, n_parts=2, rows_per_part=60).toArrow()
    payload, fmt, w = (t[c].to_pylist() for c in ("bytes", "fmt", "w"))
    for i in range(t.num_rows):
        kind = i % 6
        if kind == 1:
            payload[i] = None
        elif kind == 2 and payload[i]:
            payload[i] = payload[i][: len(payload[i]) // 2]
        elif kind == 3:
            fmt[i] = "tiff"
        elif kind == 4:
            w[i] += 1
        elif kind == 5:
            fmt[i] = None
    for name, col in (("bytes", pa.array(payload, pa.binary())),
                      ("fmt", pa.array(fmt, pa.string())),
                      ("w", pa.array(w, pa.int32()))):
        t = t.set_column(t.schema.get_field_index(name), name, col)
    flat = root / "flat"
    flat.mkdir()
    pq.write_table(t, str(flat / "f.parquet"), compression="none")
    for p in (0, 1):
        d = root / "hive" / f"part_id={p}"
        d.mkdir(parents=True)
        pq.write_table(t.filter(pc.equal(t["part_id"], p)).drop_columns(["part_id"]),
                       str(d / "f.parquet"), row_group_size=10, compression="none")
    return str(root / "hive"), str(flat)


def test_folded_verdicts_equal_per_image_verdicts_on_both_legs(spark, tmp_path, monkeypatch):
    """The pipeline's decode pass (per-task folds summed on the driver)
    gives the rows validation_verdicts(validate_payloads(...)) gives:
    through the pyarrow leg over a hive layout, with each file cut into
    several slices and, separately, with both partitions' files packed
    into one task, and through the JVM leg over a flat copy."""
    from advanced_data_profile_spark.operators import image_verify as IV
    from advanced_data_profile_spark.plans.pipeline import PipelineConfig, _payload_counts

    hive, flat = _adversarial_tables(spark, tmp_path)
    size = os.path.getsize(f"{hive}/part_id=0/f.parquet")

    def check(path):
        want = {tuple(r) for r in IV.validation_verdicts(
            IV.validate_payloads(read_images(spark, path))).collect()}
        counts = _payload_counts(spark, path, [0, 1], PipelineConfig()).toArrow()
        got = {tuple(r.values()) for r in IV.verdict_rows(counts).to_pylist()}
        assert got == want, path
        assert {(r[0], r[1]) for r in want if r[4] > 0} >= {
            (p, c) for p in ("0", "1") for c in ("payload_decodes", "fmt_known")}

    assert IV.decode_file_groups(spark, flat, [0, 1]) == []
    check(flat)
    with monkeypatch.context() as m:
        m.setattr(IV, "MIN_SPLIT_BYTES", 1)
        m.setattr(IV, "MAX_SPLIT_BYTES", size // 3)
        groups = IV.decode_file_groups(spark, hive, [0, 1])
        assert len(groups) >= 8 and all(len(g) == 1 for g in groups)
        check(hive)
    groups = IV.decode_file_groups(spark, hive, [0, 1])
    assert [sorted(t[1] for t in g) for g in groups] == [[0, 1]]
    check(hive)
