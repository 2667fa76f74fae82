"""assemble_report reads the result tables it is given with bounds:
at most 200 violation rows, and one latest manifest row per partition
by the rule resume uses."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from advanced_data_profile_spark.plans.manifest import ARROW_SCHEMA, Manifest
from advanced_data_profile_spark.plans.report import assemble_report


def test_report_collects_at_most_200_violation_rows(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "out")
    spark.range(5000).selectExpr(
        "cast(id % 4 as string) as part_id", "'w_domain' as constraint",
        "cast(id as string) as key",
    ).write.parquet(f"{out}/violations")
    collected = []
    frame = type(spark.range(0))  # the session's concrete DataFrame class
    real_collect = frame.collect

    def counting_collect(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(frame, "collect", counting_collect)
    rep = assemble_report(spark, out)
    assert len(rep["violation_samples"]) == 200
    assert collected and max(collected) <= 200


def test_report_counts_the_latest_manifest_row_resume_uses(spark, tmp_path):
    """Part 0 has one timed row. Part 1's only row has no time, so it
    has no latest row. Part 2 has a done and a failed row at the same
    time; the first wins. total_rows counts exactly the partitions
    Manifest.done_set reports done."""
    out = str(tmp_path / "out")
    rows = [
        ("r1", "0", "done", 1.0, 5.0, 10),
        ("r1", "1", "done", None, None, 7),
        ("r1", "2", "done", 1.0, 3.0, 5),
        ("r2", "2", "failed", 1.0, 3.0, 8),
    ]
    cols = ["run_id", "part_id", "status", "started_at", "finished_at", "n_rows"]
    t = pa.table(
        {c: [r[i] for r in rows] for i, c in enumerate(cols)}
        | {"metrics_json": [None] * 4, "input_path": [None] * 4},
        schema=ARROW_SCHEMA,
    )
    (tmp_path / "out" / "manifest").mkdir(parents=True)
    pq.write_table(t, str(tmp_path / "out" / "manifest" / "part-0.parquet"))

    done = Manifest(spark, f"{out}/manifest").done_set()
    assert done == {"0", "2"}
    assert assemble_report(spark, out)["total_rows"] == 10 + 5
