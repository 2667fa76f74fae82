"""Pinned drift scores: `ks_psi`, `categorical_psi_chi2` and
`with_chi2_pvalue` on inputs covering every edge of the scoring
contract, with the expected values as literals, and a resumed pipeline
run whose drift tables must equal the scorers applied to its own stored
counts."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators.drift import (
    categorical_drift_verdicts,
    categorical_psi_chi2,
    drift_verdicts,
    ks_psi,
    with_chi2_pvalue,
)
from advanced_data_profile_spark.plans.manifest import Manifest
from advanced_data_profile_spark.plans.pipeline import PipelineConfig, run_pipeline

# x: bins 0-1 only in the baseline, 6-7 only in "new", bin 9 only in
#    "third"; "solo" has one bin. y: no baseline rows (dropped).
# z: "new" has rows but all zero (dropped); "solo" has none (dropped).
NUM = (
    [("base", "x", b, c) for b, c in zip(range(0, 6), [3, 7, 11, 5, 2, 1])]
    + [("new", "x", b, c) for b, c in zip(range(2, 8), [4, 9, 6, 8, 3, 5])]
    + [("third", "x", b, c) for b, c in zip([1, 2, 3, 9], [10, 1, 2, 6])]
    + [("solo", "x", 4, 13)]
    + [("new", "y", b, 2) for b in range(3)] + [("third", "y", 1, 5)]
    + [("base", "z", b, c) for b, c in zip(range(1, 4), [6, 6, 7])]
    + [("new", "z", b, 0) for b in range(1, 4)]
    + [("third", "z", b, c) for b, c in zip(range(0, 5), [1, 2, 3, 4, 5])]
)
NUM_SCORES = {
    ("new", "x"): (0.609852, 7.66765),
    ("solo", "x"): (0.896552, 13.987753),
    ("third", "x"): (0.315789, 7.222393),
    ("third", "z"): (0.333333, 5.22256),
}
# c: "d" only in "new", "e" only in "third" (must not count for "new").
# k: no baseline rows. m: "new" all zero. s: one category (dof 0, whose
# p-value is NULL).
CAT = (
    [("base", "c", k, n) for k, n in [("a", 50), ("b", 30), ("c", 20)]]
    + [("new", "c", k, n) for k, n in [("a", 20), ("b", 30), ("c", 35), ("d", 15)]]
    + [("third", "c", k, n) for k, n in [("a", 5), ("e", 7)]]
    + [("new", "k", "a", 3)]
    + [("base", "m", "u", 4), ("base", "m", "v", 6), ("new", "m", "u", 0)]
    + [("third", "m", "v", 9), ("third", "m", "w", 1)]
    + [("base", "s", "q", 5), ("new", "s", "q", 8)]
)
CAT_SCORES = {  # psi, chi2, dof, n_categories, p_value
    ("new", "c"): (2.146588, 31.948052, 3, 4, 5.4e-07),
    ("new", "s"): (0.0, 0.0, 0, 1, None),
    ("third", "c"): (13.984505, 64.484848, 3, 4, 0.0),
    ("third", "m"): (6.432622, 5.6, 2, 3, 0.06081006),
}
IDS = {"base": 0, "new": 1, "third": 2, "solo": 3}
GRP_TYPES = {"string": ("base", "nobody", str), "int": (0, 7, IDS.get)}


def _frame(spark, rows, key, grp_type):
    conv = GRP_TYPES[grp_type][2]
    return spark.createDataFrame(
        [(conv(g), *r) for g, *r in rows],
        f"grp {grp_type}, column string, {key}, cnt bigint",
    )


def _by_pair(rows):
    return {(r[0], r[1]): tuple(r[2:]) for r in rows}


@pytest.mark.parametrize("grp_type", sorted(GRP_TYPES))
def test_ks_psi_golden(spark, grp_type):
    base, absent, conv = GRP_TYPES[grp_type]
    hist = _frame(spark, NUM, "bin int", grp_type)
    out = ks_psi(hist, base)
    assert out.schema.simpleString() == (
        f"struct<grp:{grp_type},column:string,ks:double,psi:double>"
    )
    assert _by_pair(out.collect()) == {
        (conv(g), c): v for (g, c), v in NUM_SCORES.items()
    }
    empty = ks_psi(hist, absent)
    assert empty.schema == out.schema and empty.collect() == []


@pytest.mark.parametrize("grp_type", sorted(GRP_TYPES))
def test_categorical_psi_chi2_and_pvalue_golden(spark, grp_type):
    base, absent, conv = GRP_TYPES[grp_type]
    counts = _frame(spark, CAT, "category string", grp_type)
    out = categorical_psi_chi2(counts, base)
    assert out.schema.simpleString() == (
        f"struct<grp:{grp_type},column:string,psi:double,chi2:double,"
        "dof:bigint,n_categories:bigint>"
    )
    want = {(conv(g), c): v for (g, c), v in CAT_SCORES.items()}
    assert _by_pair(out.collect()) == {k: v[:4] for k, v in want.items()}
    pv = with_chi2_pvalue(out)
    assert pv.columns == [*out.columns, "p_value"]
    assert _by_pair(pv.collect()) == want
    empty = categorical_psi_chi2(counts, absent)
    assert empty.schema == out.schema and empty.collect() == []
    assert with_chi2_pvalue(empty).collect() == []


def _rowset(df):
    return {
        tuple(r[c] if c != "part_id" else str(r[c]) for c in sorted(df.columns))
        for r in df.collect()
    }


def test_resumed_drift_equals_scores_over_stored_counts(
    spark, images_path, tmp_path_factory
):
    """A fresh run over parts 0-1 drifting on w and h, then a resumed run
    over all 4 that adds caption_len: it scores parts 2-3 against the
    stored baseline, which has no caption_len counts. Both drift tables
    must equal the scorers applied to the stored counts tables, and the
    unscorable cells must get skipped markers."""
    base = tmp_path_factory.mktemp("drift_resume")
    out, first = str(base / "out"), str(base / "imgs01")
    spark.read.parquet(images_path).where(F.col("part_id") < 2).write.parquet(first)
    cfg = PipelineConfig()
    s1 = run_pipeline(spark, first, out, cfg=PipelineConfig(drift_columns=("w", "h")))
    assert s1["partitions"] == 2
    assert run_pipeline(spark, images_path, out, resume=True, cfg=cfg)["partitions"] == 2

    hist = spark.read.parquet(f"{out}/histograms")
    cats = spark.read.parquet(f"{out}/category_counts")
    assert _rowset(spark.read.parquet(f"{out}/drift_results")) == _rowset(
        drift_verdicts(ks_psi(hist, cfg.baseline_part), cfg.ks_threshold, cfg.psi_threshold)
    )
    assert _rowset(spark.read.parquet(f"{out}/drift_results_categorical")) == _rowset(
        categorical_drift_verdicts(
            categorical_psi_chi2(cats, cfg.baseline_part), cfg.psi_threshold
        )
    )
    drift = {
        r.part_id: json.loads(r.metrics_json).get("drift")
        for r in Manifest(spark, f"{out}/manifest").read().collect()
    }
    late = {"skipped": [{"part_id": p, "column": "caption_len"} for p in ("2", "3")]}
    assert drift == {"0": None, "1": None, "2": late, "3": late}
