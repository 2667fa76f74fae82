"""The pipeline's leg runner: error chaining, job labelling, failure
cleanup, release of cached intermediates, the per-leg timeline, and the
exact-mode branch."""

from __future__ import annotations

import json
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from advanced_data_profile_spark.plans import pipeline
from advanced_data_profile_spark.plans.manifest import Manifest
from advanced_data_profile_spark.plans.pipeline import (
    MIN_PARTS_CONF,
    SPLIT_CONF,
    PipelineConfig,
    _Legs,
    run_pipeline,
)
from advanced_data_profile_spark.sources.images import generate_images, write_images

N_PARTS, ROWS = 4, 250


def _rows(spark, path, where="true"):
    return sorted(tuple(r) for r in spark.read.parquet(path).where(where).collect())


def _leg_threads():
    return [t for t in threading.enumerate() if t.name.startswith("leg:")]


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def clean(spark, images_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("legs_clean") / "out")
    return out, run_pipeline(spark, images_path, out)


def test_runner_raises_first_error_with_later_ones_attached(spark):
    both_running = threading.Barrier(2)

    def fail(msg):
        def fn():
            both_running.wait(timeout=60)
            raise RuntimeError(msg)
        return fn

    with pytest.raises(RuntimeError) as ei:
        with _Legs(spark) as legs:
            legs.leg("a", fail("leg a broke"))
            legs.leg("b", fail("leg b broke"))
            legs.leg("after_a", lambda _: "never runs", after=["a"])
    text = "\n".join([str(ei.value), *getattr(ei.value, "__notes__", [])])
    assert "leg a broke" in text and "leg b broke" in text
    assert "after_a" not in legs.times
    assert not _leg_threads()


def test_runner_labels_each_legs_jobs(spark):
    sc = spark.sparkContext
    with _Legs(spark) as legs:
        legs.leg("label_probe", lambda: sc.getLocalProperty("spark.job.description"))
        legs.leg("with_input", lambda d: (d, sc.getLocalProperty("spark.job.description")),
                 after=["label_probe"])
        assert legs.result("with_input") == ("label_probe", "with_input")
    assert sc.getLocalProperty("spark.job.description") is None
    assert set(legs.timeline()) == {"label_probe", "with_input"}


def test_failed_run_cleans_up_and_resume_matches_clean_run(
    spark, images_path, tmp_path_factory, monkeypatch, clean
):
    out = str(tmp_path_factory.mktemp("legs_fail") / "out")
    rdds, split = _persistent_rdds(spark), spark.conf.get(SPLIT_CONF)
    spark.conf.set(SPLIT_CONF, "77m")  # values no run sets
    spark.conf.set(MIN_PARTS_CONF, "3")

    def broken(*_a, **_k):
        raise RuntimeError("planted drift failure")

    monkeypatch.setattr(pipeline, "drift_verdicts", broken)
    with pytest.raises(RuntimeError, match="planted drift failure"):
        run_pipeline(spark, images_path, out)
    monkeypatch.undo()
    assert not _leg_threads()
    assert _persistent_rdds(spark) == rdds
    assert spark.conf.get(SPLIT_CONF) == "77m"
    assert spark.conf.get(MIN_PARTS_CONF) == "3"
    spark.conf.set(SPLIT_CONF, split)
    spark.conf.unset(MIN_PARTS_CONF)
    assert not Manifest(spark, f"{out}/manifest").exists()

    s = run_pipeline(spark, images_path, out, resume=True)
    assert s["partitions"] == N_PARTS
    assert _rows(spark, f"{out}/constraint_results") == _rows(
        spark, f"{clean[0]}/constraint_results"
    )


def test_summary_and_manifest_carry_the_leg_timeline(spark, clean):
    out, s = clean
    tl, tm = s["legs"], s["timings"]
    for name in ("plan", "decode_verify", "histograms", "drift_results",
                 "drift_results_categorical", "profile_and_counts",
                 "unique_referential", "violations", "write_verdicts", "manifest"):
        assert 0 <= tl[name][0] <= tl[name][1] <= s["elapsed_sec"], name
    for name in ("profile_and_counts", "unique_referential", "violations",
                 "decode_verify", "manifest"):
        assert tm[name] == pytest.approx(tl[name][1] - tl[name][0], abs=0.002)
    assert tm["plan"] == pytest.approx(tl["plan"][1], abs=0.002)
    # the verdict append follows the constraint_results overwrite
    assert tl["write_verdicts"][0] >= tl["write_constraint_results"][1]
    for r in Manifest(spark, f"{out}/manifest").read().collect():
        assert "decode_verify" in json.loads(r.metrics_json)["legs"]


def test_exact_mode_matches_approx_counts(spark, images_path, tmp_path_factory, clean):
    out = str(tmp_path_factory.mktemp("legs_exact") / "out")
    s = run_pipeline(spark, images_path, out,
                     cfg=PipelineConfig(approx=False, validate_images=False))
    assert s["partitions"] == N_PARTS
    assert {"profile", "constraint_counts"} <= set(s["timings"])
    assert _rows(spark, f"{out}/constraint_results") == _rows(
        spark, f"{clean[0]}/constraint_results", F.col("kind") != "image"
    )
    assert spark.read.parquet(f"{out}/column_profiles").count() == N_PARTS * 7


def test_rerun_over_rewritten_input_sees_the_new_rows(spark, tmp_path):
    """The uniqueness/referential checks cache small intermediates; the
    run releases them when it ends, so a later run over the same path
    after a partition was rewritten counts the new rows instead of
    serving the previous run's cached counts."""
    imgs = str(tmp_path / "imgs")
    write_images(generate_images(spark, n_parts=2, rows_per_part=100), imgs)
    cfg = PipelineConfig(validate_images=False, drift=False)
    run_pipeline(spark, imgs, str(tmp_path / "out1"), cfg=cfg)
    spark.read.parquet(f"{imgs}/part_id=1").limit(50).write.parquet(str(tmp_path / "p1"))
    shutil.rmtree(f"{imgs}/part_id=1")
    shutil.move(str(tmp_path / "p1"), f"{imgs}/part_id=1")

    run_pipeline(spark, imgs, str(tmp_path / "out2"), cfg=cfg)
    res = spark.read.parquet(str(tmp_path / "out2" / "constraint_results"))
    n_rows = {(r.constraint, r.n_rows) for r in res.where(F.col("part_id") == 1).collect()}
    assert {n for _, n in n_rows} == {50}, n_rows


def _jobs_after(spark, job_id: int) -> list:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    jobs = jsc.statusStore().jobsList(None)
    return [j for j in (jobs.apply(i) for i in range(jobs.size())) if j.jobId() > job_id]


def test_decode_pass_is_one_job_without_an_exchange(spark, images_path, tmp_path):
    """On the 4-part fixture the decode pass submits one Spark job of
    one stage, with at most one task per core, and its plan holds no
    exchange; a clean run leaves the scan confs as it found them (here:
    unset)."""
    spark.conf.unset(MIN_PARTS_CONF)
    counts = pipeline._payload_counts(spark, images_path, list(range(N_PARTS)),
                                      PipelineConfig())
    assert "Exchange" not in counts._jdf.queryExecution().executedPlan().toString()

    first = max([j.jobId() for j in _jobs_after(spark, -1)], default=-1)
    s = run_pipeline(spark, images_path, str(tmp_path / "out"),
                     cfg=PipelineConfig(drift=False))
    assert s["partitions"] == N_PARTS
    decode = [j for j in _jobs_after(spark, first)
              if j.description().isDefined() and j.description().get() == "decode_verify"]
    assert len(decode) == 1
    assert decode[0].stageIds().size() == 1
    assert 1 <= decode[0].numTasks() <= spark.sparkContext.defaultParallelism
    assert spark.conf.get(MIN_PARTS_CONF, None) is None
