"""Approx profiles of a group whose numeric column holds no value the
KLL sketch keeps (all NULL, or only NaN): its quantiles are NULL, the
other groups' are unchanged, and the pipeline profiles a partition whose
caption is NULL throughout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators.stats import profile
from advanced_data_profile_spark.plans.pipeline import run_pipeline
from advanced_data_profile_spark.sources.images import generate_images, write_images

QUANTILES = ("p25", "p50", "p75")


@pytest.mark.parametrize("empty", [None, float("nan")], ids=["all_null", "nan_only"])
def test_grouped_approx_profile_of_a_group_with_an_empty_sketch(spark, empty):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", empty), ("b", empty)], "g string, x double"
    )
    rows = {r.g: r for r in profile(df, group_by="g", approx=True)
            .where(F.col("column") == "x").collect()}
    assert [rows["b"][q] for q in QUANTILES] == [None, None, None]
    alone = profile(df.where(F.col("g") == "a"), group_by="g", approx=True).where(
        F.col("column") == "x").first()
    assert [rows["a"][q] for q in QUANTILES] == [alone[q] for q in QUANTILES]
    assert None not in [alone[q] for q in QUANTILES]


def test_pipeline_profiles_a_partition_whose_caption_is_all_null(spark, tmp_path):
    imgs, out = str(tmp_path / "imgs"), str(tmp_path / "out")
    rows = 50
    write_images(generate_images(spark, n_parts=2, rows_per_part=rows).withColumn(
        "caption", F.when(F.col("part_id") == 1, F.lit(None)).otherwise(F.col("caption"))
    ), imgs)
    s = run_pipeline(spark, imgs, out)
    assert (s["partitions"], s["rows"]) == (2, 2 * rows)

    prof = {(r.part_id, r.column): r for r in spark.read.parquet(f"{out}/column_profiles")
            .where(F.col("column").isin("caption", "caption_len")).collect()}
    assert prof[(1, "caption")].n_null == rows
    assert [prof[(1, "caption_len")][q] for q in QUANTILES] == [None, None, None]
    assert None not in [prof[(0, "caption_len")][q] for q in QUANTILES]
    nn = {r.part_id: r.n_violations for r in spark.read.parquet(f"{out}/constraint_results")
          .where(F.col("constraint") == "caption_not_null").collect()}
    assert nn[1] == rows
