"""The uniqueness/referential chain: the per-(key, partition) counts
`constraints.evaluate` builds feed the verdicts, the violation rows, the
id-index append and the index-backed global check.

The result tables of a two-run resume over a small fixture are pinned to
values recorded before the chain was rebuilt on one count relation
(`goldens/unique_chain_3x12.json`). The fixture plants within- and
cross-partition duplicate ids, a duplicated NULL image_id and NULL and
negative phash values. Also: a crash between the id-index append and the
manifest commit, retried with resume=True, reports no false duplicates;
the full-rescan global pass releases what it persists."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators.constraints import (
    RESULT_COLUMNS,
    VIOLATION_COLUMNS,
)
from advanced_data_profile_spark.plans.manifest import Manifest
from advanced_data_profile_spark.plans.pipeline import (
    PipelineConfig,
    global_uniqueness_check,
    run_pipeline,
)
from advanced_data_profile_spark.sources.images import generate_images, write_images

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "unique_chain_3x12.json")
N_PARTS, ROWS = 3, 12
NULL_IDS = ("img-0000-00000009", "img-0001-00000003", "img-0002-00000004",
            "img-0002-00000010")
NULL_PHASH = ("img-0000-00000005", "img-0002-00000009")
NEG_PHASH = ("img-0001-00000010",)


def write_fixture(spark, base: str) -> None:
    """imgs: 3 x 12 rows; imgs_done: its partitions 0 and 1. Besides
    the generator's own duplicates (row 7 repeats row 6's id, row 0 of
    parts 1 and 2 repeats part 0's), part 2 row 11 repeats a part-1 id,
    four rows have a NULL image_id (one in each of parts 0 and 1, two in
    part 2), two a NULL phash and one a negative phash."""
    iid = F.col("image_id")
    df = (
        generate_images(spark, n_parts=N_PARTS, rows_per_part=ROWS)
        .withColumn("phash", F.when(iid.isin(*NULL_PHASH), F.lit(None))
                    .when(iid.isin(*NEG_PHASH), F.lit(-17)).otherwise(F.col("phash")))
        .withColumn("image_id", F.when(iid.isin(*NULL_IDS), F.lit(None))
                    .when(iid == "img-0002-00000011", F.lit("img-0001-00000008"))
                    .otherwise(iid))
    )
    write_images(df, f"{base}/imgs")
    write_images(df.where(F.col("part_id") < 2), f"{base}/imgs_done")


def chain_config(table: str) -> PipelineConfig:
    return PipelineConfig(validate_images=False, drift=False,
                          id_index_table=table, global_unique=True)


def chain_tables(spark, out: str, table: str) -> dict[str, list]:
    """Every table the chain writes, as sorted row lists."""
    def rows(df):
        return sorted((list(r) for r in df.collect()), key=repr)

    return {
        "constraint_results": rows(
            spark.read.parquet(f"{out}/constraint_results").select(*RESULT_COLUMNS)),
        "violations": rows(
            spark.read.parquet(f"{out}/violations").select(*VIOLATION_COLUMNS)),
        "id_index": rows(spark.table(table).select("key", "part_id", "n")),
        "constraint_results_global": rows(
            spark.read.parquet(f"{out}/constraint_results_global").select(*RESULT_COLUMNS)),
        "violations_global": rows(
            spark.read.parquet(f"{out}/violations_global").select(*VIOLATION_COLUMNS)),
    }


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("key_counts"))
    write_fixture(spark, base)
    return base


@pytest.fixture(scope="module")
def chain(spark, fixture_dir):
    """A run over partitions 0-1, then a resumed run adding partition 2."""
    table = "key_counts_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    out = f"{fixture_dir}/out"
    s1 = run_pipeline(spark, f"{fixture_dir}/imgs_done", out, cfg=chain_config(table))
    s2 = run_pipeline(spark, f"{fixture_dir}/imgs", out, cfg=chain_config(table))
    yield out, table, s1, s2
    spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.mark.parametrize("name", ["constraint_results", "violations", "id_index",
                                  "constraint_results_global", "violations_global"])
def test_tables_equal_the_recorded_values(spark, chain, golden, name):
    out, table, s1, s2 = chain
    assert (s1["partitions"], s2["partitions"]) == (2, 1)
    assert chain_tables(spark, out, table)[name] == golden[name]


def test_index_append_runs_beside_the_writes_and_before_the_commit(chain):
    _, _, _, s2 = chain
    tl = s2["legs"]
    assert tl["id_index_append"][0] >= tl["unique_referential"][1]
    assert tl["manifest"][0] >= tl["id_index_append"][1]
    assert tl["global_uniqueness"][0] >= tl["manifest"][1]


def test_crash_between_index_append_and_commit_reports_no_false_duplicates(
    spark, fixture_dir, golden, monkeypatch, tmp_path
):
    table = "key_counts_crash_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    out = str(tmp_path / "out")
    run_pipeline(spark, f"{fixture_dir}/imgs_done", out, cfg=chain_config(table))

    def crash(*_a, **_k):
        raise RuntimeError("planted commit crash")

    monkeypatch.setattr(Manifest, "record_many", crash)
    with pytest.raises(RuntimeError, match="planted commit crash"):
        run_pipeline(spark, f"{fixture_dir}/imgs", out, cfg=chain_config(table))
    monkeypatch.undo()
    # the append landed, the commit did not
    assert spark.table(table).where(F.col("part_id") == "2").count() > 0
    assert "2" not in {r.part_id for r in Manifest(spark, f"{out}/manifest").done_parts().collect()}

    s = run_pipeline(spark, f"{fixture_dir}/imgs", out, cfg=chain_config(table), resume=True)
    assert s["partitions"] == 1
    got = chain_tables(spark, out, table)
    for name in ("constraint_results", "violations", "constraint_results_global",
                 "violations_global"):
        assert got[name] == golden[name], name
    # the replayed append doubles partition 2's rows, never their counts
    assert {tuple(r) for r in got["id_index"]} == {tuple(r) for r in golden["id_index"]}
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_full_rescan_pass_releases_its_cache_and_sees_rewritten_rows(spark, tmp_path):
    imgs, out = str(tmp_path / "imgs"), str(tmp_path / "out")
    write_images(generate_images(spark, n_parts=2, rows_per_part=100), imgs)

    def rdds():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def n_rows(part):
        res = spark.read.parquet(f"{out}/constraint_results_global")
        return {r.n_rows for r in res.where(F.col("part_id") == str(part)).collect()}

    before = rdds()
    global_uniqueness_check(spark, imgs, out)
    assert rdds() == before
    assert n_rows(1) == {100}

    spark.read.parquet(f"{imgs}/part_id=1").limit(50).write.parquet(str(tmp_path / "p1"))
    shutil.rmtree(f"{imgs}/part_id=1")
    shutil.move(str(tmp_path / "p1"), f"{imgs}/part_id=1")
    global_uniqueness_check(spark, imgs, out)
    assert rdds() == before
    assert n_rows(1) == {50}
