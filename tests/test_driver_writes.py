"""The driver-side partition writer (`manifest.write_partitions`) that
stores the pipeline's driver-sized result tables: dynamic-overwrite and
append semantics, one data file per partition directory, a crashed
overwrite's staging directory, read-back schemas equal to the relations
the tables are written from, and tables mixing its files with Spark's
partitionBy writer — each on a plain path and on a file:// URI."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators import constraints as C
from advanced_data_profile_spark.operators.drift import (
    categorical_counts,
    categorical_drift_verdicts,
    categorical_psi_chi2,
    drift_verdicts,
    histogram,
    ks_psi,
)
from advanced_data_profile_spark.operators.stats import SKETCH_FIELDS, profile
from advanced_data_profile_spark.plans.manifest import write_partitions
from advanced_data_profile_spark.plans.pipeline import (
    PipelineConfig,
    image_checks,
    run_pipeline,
)
from advanced_data_profile_spark.sources.images import read_images

N_PARTS = 4
DRIVER_TABLES = ("column_profiles", "profile_sketches", "constraint_results",
                 "histograms", "category_counts", "drift_results",
                 "drift_results_categorical")


def _uri(request, path) -> str:
    return path.as_uri() if request.param == "file_uri" else str(path)


@pytest.fixture(params=["plain", "file_uri"])
def table_path(request, tmp_path):
    """(path as given to the writer, local directory)."""
    return _uri(request, tmp_path / "t"), str(tmp_path / "t")


def _data_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if not f.startswith(("_", "."))]


def _spark_rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _dataset_rows(path):
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    return sorted(tuple(r.values()) for r in t.to_pylist())


def _tbl(rows):
    return pa.table({"v": [v for _, v in rows], "part_id": [p for p, _ in rows]})


def test_overwrite_replaces_only_the_partitions_present(spark, table_path):
    path, local = table_path
    write_partitions(_tbl([(1, "a"), (1, "b"), (2, "c"), (3, "d")]), path)
    write_partitions(_tbl([(2, "x"), (2, "y"), (4, "z")]), path)
    assert _spark_rows(spark, path) == [
        ("a", 1), ("b", 1), ("d", 3), ("x", 2), ("y", 2), ("z", 4)]
    for p in (1, 2, 3, 4):
        assert len(_data_files(f"{local}/part_id={p}")) == 1
    assert sorted(os.listdir(local)) == [f"part_id={p}" for p in (1, 2, 3, 4)]


def test_append_adds_one_file_per_partition(spark, table_path):
    path, local = table_path
    write_partitions(_tbl([(1, "a"), (2, "b")]), path)
    write_partitions(_tbl([(2, "c"), (2, "d")]), path, mode="append")
    assert _spark_rows(spark, path) == [("a", 1), ("b", 2), ("c", 2), ("d", 2)]
    assert len(_data_files(f"{local}/part_id=1")) == 1
    assert len(os.listdir(f"{local}/part_id=2")) == 2
    with pytest.raises(ValueError):
        write_partitions(_tbl([(1, "a")]), path, mode="ignore")


def test_crashed_overwrite_leaves_a_hidden_staging_dir_the_next_one_removes(
    spark, table_path, monkeypatch
):
    path, local = table_path
    write_partitions(_tbl([(1, "a"), (2, "b")]), path)
    before = _spark_rows(spark, path)
    real = pq.write_table
    calls = []

    def crash_on_second(*a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("planted crash")
        return real(*a, **k)

    monkeypatch.setattr(pq, "write_table", crash_on_second)
    with pytest.raises(OSError, match="planted crash"):
        write_partitions(_tbl([(1, "x"), (2, "y"), (3, "z")]), path)
    monkeypatch.undo()
    staged = [d for d in os.listdir(local) if d.startswith(".staging")]
    assert staged and _data_files(os.path.join(local, staged[0], "part_id=1"))
    # old partitions untouched, the staged file invisible to both readers
    assert _spark_rows(spark, path) == before
    assert _dataset_rows(local) == [("a", 1), ("b", 2)]

    write_partitions(_tbl([(3, "z")]), path)
    assert not [d for d in os.listdir(local) if d.startswith(".")]
    assert _spark_rows(spark, path) == [("a", 1), ("b", 2), ("z", 3)]


def test_partition_values_spark_escapes_name_the_same_dirs(spark, table_path):
    path, local = table_path
    vals = ["a/b", "x=y", "50%", None]
    write_partitions(pa.table({"v": [1, 2, 3, 4], "part_id": vals}), path)
    theirs = str(local) + "_spark"
    spark.createDataFrame([(1, "a/b"), (2, "x=y"), (3, "50%"), (4, None)],
                          "v long, part_id string").write.partitionBy(
        "part_id").parquet(theirs)
    assert sorted(os.listdir(local)) == sorted(
        d for d in os.listdir(theirs) if not d.startswith(("_", ".")))


@pytest.fixture(scope="module", params=["plain", "file_uri"])
def reruns(request, spark, images_path, tmp_path_factory):
    """A pipeline output dir after a fresh run and a resume=False rerun
    over the same partitions."""
    base = tmp_path_factory.mktemp("driver_writes")
    out = _uri(request, base / "out")
    assert run_pipeline(spark, images_path, out)["partitions"] == N_PARTS
    assert run_pipeline(spark, images_path, out, resume=False)["partitions"] == N_PARTS
    return out, str(base / "out")


def test_rerun_leaves_one_file_per_partition_dir(reruns):
    _, local = reruns
    base = PipelineConfig().baseline_part
    for table in DRIVER_TABLES:
        for p in range(N_PARTS):
            if table.startswith("drift_results") and p == base:
                continue
            want = 2 if table == "constraint_results" else 1
            assert len(_data_files(f"{local}/{table}/part_id={p}")) == want, (table, p)
        assert not [d for d in os.listdir(f"{local}/{table}") if d.startswith(".")]


def _data_schema(df):
    return [(f.name, f.dataType) for f in df.schema.fields if f.name != "part_id"]


def test_read_back_schemas_equal_the_relations_written(spark, images_path, reruns):
    out, _ = reruns
    cfg = PipelineConfig()
    images = read_images(spark, images_path)
    meta = images.withColumn("caption_len", F.length("caption"))
    meta_nb = meta.drop("bytes")
    rowwise = [c for c in image_checks(images, cfg) if c.kind in ("not_null", "domain")]
    hist = histogram(meta, list(cfg.drift_columns), "part_id")
    cats = categorical_counts(meta, list(cfg.categorical_drift_columns), "part_id")
    relations = {
        "column_profiles": profile(meta_nb, group_by="part_id", approx=True),
        "profile_sketches": spark.createDataFrame(
            [], ", ".join(f"{f} {t}" for f, t in SKETCH_FIELDS)),
        "constraint_results": C.evaluate(meta_nb, rowwise, part_col="part_id")[0],
        "histograms": hist,
        "category_counts": cats,
        "drift_results": drift_verdicts(ks_psi(hist, cfg.baseline_part)),
        "drift_results_categorical": categorical_drift_verdicts(
            categorical_psi_chi2(cats, cfg.baseline_part)),
    }
    for table, rel in relations.items():
        assert _data_schema(spark.read.parquet(f"{out}/{table}")) == _data_schema(rel), table


def test_a_table_mixing_spark_and_driver_files_reads_back_as_one(
    spark, images_path, table_path
):
    """The state of an output dir written by Spark's partitionBy writer
    after a resumed run adds partitions through the driver writer."""
    path, local = table_path
    meta = read_images(spark, images_path).withColumn(
        "caption_len", F.length("caption")).drop("bytes")
    rel = profile(meta, group_by="part_id", approx=True)
    rel.where(F.col("part_id") < 2).write.partitionBy("part_id").parquet(path)
    write_partitions(rel.where(F.col("part_id") >= 2).toArrow(), path)
    back = spark.read.parquet(path)
    assert _data_schema(back) == _data_schema(rel)
    want = sorted((tuple(r) for r in rel.select(*back.columns).collect()), key=repr)
    assert sorted((tuple(r) for r in back.collect()), key=repr) == want
    assert pads.dataset(local, format="parquet", partitioning="hive").count_rows() == len(want)


def test_constraint_results_files_share_one_schema_after_a_fresh_run_and_a_resume(
    spark, images_path, tmp_path
):
    """The metadata verdicts (overwrite) and the decode verdicts
    (append) land in the same partition directories; a reader that
    takes its schema from the first file it lists must read the same
    table whichever file that is."""
    done = str(tmp_path / "images_done")
    for p in range(N_PARTS - 1):
        os.makedirs(f"{done}/part_id={p}")
        for f in _data_files(f"{images_path}/part_id={p}"):
            os.link(f"{images_path}/part_id={p}/{f}", f"{done}/part_id={p}/{f}")
    out = str(tmp_path / "out")

    def schemas():
        root = f"{out}/constraint_results"
        return [
            pq.read_schema(f"{root}/{d}/{f}")
            for d in os.listdir(root) if not d.startswith((".", "_"))
            for f in _data_files(f"{root}/{d}")
        ]

    assert run_pipeline(spark, done, out)["partitions"] == N_PARTS - 1
    first = schemas()
    assert len(first) == 2 * (N_PARTS - 1)
    assert all(s.equals(first[0], check_metadata=True) for s in first)
    assert run_pipeline(spark, images_path, out)["partitions"] == 1
    resumed = schemas()
    assert len(resumed) == 2 * N_PARTS
    assert all(s.equals(first[0], check_metadata=True) for s in resumed)
