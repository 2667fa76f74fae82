"""The north_rule ship mechanism, tested end-to-end: the job must run
via ``spark-submit --py-files dist/adp_spark.zip`` with NOTHING but
the zip providing the package. The entry script is copied to a
directory outside the repo and spark-submit runs from /tmp, so any
accidental dependence on the repo's import path fails loudly — the
zip either carries the whole engine or the test breaks."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else None


@pytest.mark.skipif(_spark_submit() is None, reason="spark-submit not found")
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    from advanced_data_profile_spark.sources.images import (
        generate_images,
        write_images,
    )

    images = str(tmp_path / "images")
    write_images(generate_images(spark, n_parts=2, rows_per_part=100), images)

    # fresh zip of the current tree
    subprocess.run(
        [sys.executable, f"{REPO}/scripts/make_pyfiles.py"], check=True,
        capture_output=True,
    )
    iso = tmp_path / "iso"
    iso.mkdir()
    shutil.copy(f"{REPO}/scripts/run_validation.py", iso / "run_validation.py")
    out = str(tmp_path / "out")

    def submit(*extra):
        r = subprocess.run(
            [
                _spark_submit(), "--master", "local[4]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--py-files", f"{REPO}/dist/adp_spark.zip",
                str(iso / "run_validation.py"),
                "--images", images, "--output", out, *extra,
            ],
            capture_output=True, text=True, timeout=300, cwd="/tmp",
        )
        assert r.returncode == 0, r.stderr[-2000:]
        for line in r.stdout.splitlines():
            if line.startswith("{"):
                return json.loads(line)
        raise AssertionError(f"no summary JSON in stdout: {r.stdout[-500:]}")

    # the first submit also runs the full-rescan global uniqueness pass
    # from the shipped zip
    s1 = submit("--global-unique")
    assert s1["partitions"] == 2 and s1["rows"] == 200
    assert "global_uniqueness" in s1
    assert spark.read.parquet(f"{out}/constraint_results_global").count() == 2
    # the shipped job is resumable: a second submit over the same
    # output dir skips everything via the manifest
    s2 = submit()
    assert s2["partitions"] == 0 and s2.get("skipped") == "all partitions done"
    # and the results landed
    res = spark.read.parquet(f"{out}/constraint_results")
    assert res.where("constraint = 'image_id_unique'").count() > 0
