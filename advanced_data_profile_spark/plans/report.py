"""Report assembly — the analogue of the reference's gzip HTML report
(reference Profiler.py:1080-1112 renders Jinja → minify → gzip).

Here the report is structured JSON assembled DRIVER-SIDE from the
small result tables the pipeline wrote (column_profiles,
constraint_results, drift_results, histograms, manifest) — never from
raw data. Plots carry (bin, count) pairs, not values (SURVEY.md M8).
Optionally gzipped like the reference's artifact.
"""

from __future__ import annotations

import gzip
import json
import time

from pyspark.sql import SparkSession

from advanced_data_profile_spark.plans.manifest import Manifest, latest_rows


def _rows(spark: SparkSession, path: str, limit: int | None = None) -> list[dict]:
    from advanced_data_profile_spark.session import hadoop_path_exists

    # FileSystem-API probe: a skipped stage legitimately has no table,
    # but a real read error on an existing one must propagate
    if not hadoop_path_exists(spark, path):
        return []
    df = spark.read.parquet(path)
    if limit is not None:
        df = df.limit(limit)
    return [r.asDict(recursive=True) for r in df.collect()]


def assemble_report(
    spark: SparkSession, output_dir: str, table_name: str = "images"
) -> dict:
    profiles = _rows(spark, f"{output_dir}/column_profiles")
    constraints = _rows(spark, f"{output_dir}/constraint_results")
    drift = _rows(spark, f"{output_dir}/drift_results")
    cat_drift = _rows(spark, f"{output_dir}/drift_results_categorical")
    hists = _rows(spark, f"{output_dir}/histograms")
    manifest = Manifest(spark, f"{output_dir}/manifest").rows()
    # every violating key is stored (unbounded); the report shows 200
    violations = _rows(spark, f"{output_dir}/violations", limit=200)
    row_sample = _rows(spark, f"{output_dir}/row_sample")
    global_constraints = _rows(spark, f"{output_dir}/constraint_results_global")

    parts = sorted({str(p["part_id"]) for p in profiles})
    per_partition = {}
    for pid in parts:
        pc = [p for p in profiles if str(p["part_id"]) == pid]
        cr = [c for c in constraints if str(c["part_id"]) == pid]
        dr = [d for d in drift if str(d["part_id"]) == pid]
        cd = [d for d in cat_drift if str(d["part_id"]) == pid]
        per_partition[pid] = {
            "columns": {p["column"]: {k: v for k, v in p.items()
                                      if k not in ("part_id", "column")}
                        for p in pc},
            "constraints": {
                c["constraint"]: {
                    "kind": c["kind"],
                    "n_rows": c["n_rows"],
                    "n_violations": c["n_violations"],
                    "passed": bool(c["passed"]),
                }
                for c in cr
            },
            "drift": {
                d["constraint"]: {"ks": d.get("ks"), "psi": d.get("psi"),
                                  "passed": bool(d["passed"])}
                for d in dr
            },
            # categorical drift verdicts (PSI + chi-square over category
            # frequencies) sit beside the numeric ones and count toward
            # the partition's overall verdict the same way
            "drift_categorical": {
                d["constraint"]: {
                    "psi": d.get("psi"), "chi2": d.get("chi2"),
                    "dof": d.get("dof"),
                    "n_categories": d.get("n_categories"),
                    "passed": bool(d["passed"]),
                }
                for d in cd
            },
            "passed": all(bool(c["passed"]) for c in cr) and
                      all(bool(d["passed"]) for d in dr) and
                      all(bool(d["passed"]) for d in cd),
        }

    # the manifest is append-only: a partition re-processed across runs
    # has multiple rows — count only the LATEST row per partition (the
    # rule Manifest.done_set resolves resume by)
    latest = latest_rows(manifest)

    # cross-RUN global checks (unique_global): latest full-table pass,
    # grouped per constraint with per-partition attribution
    global_checks: dict[str, dict] = {}
    for g in global_constraints:
        gc = global_checks.setdefault(g["constraint"], {
            "kind": g["kind"], "n_violations": 0, "passed": True,
            "failed_partitions": [],
        })
        gc["n_violations"] += g["n_violations"] or 0
        if not g["passed"]:
            gc["passed"] = False
            gc["failed_partitions"].append(str(g["part_id"]))
    for gc in global_checks.values():
        gc["failed_partitions"].sort()

    from advanced_data_profile_spark.plans.figures import figures_for_report

    # the bin-grid size travels ON the stored histogram rows
    # (drift.histogram persists n_bins next to lo/hi) — read it back
    # rather than assuming the writer used the default
    hist_bins = next((h["n_bins"] for h in hists if h.get("n_bins")), None)
    return {
        "table": table_name,
        "generated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        # plotly-figure JSON (reference embeds PlotlyJSONEncoder output);
        # built from the aggregated rows below, never from raw data
        "figures": figures_for_report({"histograms": hists}),
        "histogram_bins": hist_bins,
        "n_partitions": len(parts),
        "total_rows": sum(
            m["n_rows"] or 0
            for m in latest.values()
            if m["status"] == "done" and m["part_id"] != "__global__"
        ),
        "overall_passed": all(p["passed"] for p in per_partition.values())
        and all(g["passed"] for g in global_checks.values()),
        "partitions": per_partition,
        "global_constraints": global_checks,
        "histograms": hists,
        "violation_samples": violations,
        "row_sample": row_sample[:100],
        "lineage": manifest,
    }


def write_report(report: dict, path: str, compress: bool = True) -> str:
    """Persist like the reference does (gzip) but as JSON."""
    data = json.dumps(report, default=str, indent=1).encode()
    if compress:
        path = path if path.endswith(".gz") else path + ".gz"
        with gzip.open(path, "wb") as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)
    return path


def read_report(path: str) -> dict:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rb") as f:
        return json.loads(f.read())
