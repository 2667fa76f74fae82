"""The benchmark's workloads: input generation from a seed, one timed
pipeline run, and the output checks every timed run must pass.

Inputs come from the package's own ``generate_images(seed=...)``; the
planted violations follow modulo rules, so ``ground_truth`` gives the
expected constraint counts for any seed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import pyarrow.dataset as pads

from advanced_data_profile_spark.plans.pipeline import PipelineConfig, run_pipeline
from advanced_data_profile_spark.sources.images import (
    DRIFT_PARTS,
    generate_images,
    ground_truth,
    write_images,
)

INDEX_TABLE = "perfbench_id_index"


@dataclass(frozen=True)
class Workload:
    name: str
    n_parts: int
    rows: int              # rows per partition
    dims: tuple            # payload edge lengths in pixels
    done_parts: int = 0    # partitions already validated in the restored snapshot

    @property
    def resume(self) -> bool:
        return self.done_parts > 0

    def config(self) -> PipelineConfig:
        if self.resume:
            return PipelineConfig(id_index_table=INDEX_TABLE, global_unique=True)
        return PipelineConfig()

    def pending(self, parts: list[int]) -> list[int]:
        return [p for p in parts if p >= self.done_parts]


WORKLOADS = {
    # decode-heavy: 64/128 px payloads (12-48 KB), the decode pass is
    # the only scan that reads `bytes`
    "validate_decode": Workload("validate_decode", 8, 1000, (64, 128)),
    # incremental: 6 of 8 small-payload partitions are already done in
    # the restored output dir; the run validates the last 2 against the
    # stored baseline and the id index (on a 4-core box a run over 2 new
    # partitions takes ~12 s and over 4 ~17 s; the run budget allows ~12)
    "validate_resume": Workload("validate_resume", 8, 500, (16, 32), done_parts=6),
}


def link_parts(src: str, dst: str, parts: list[int]) -> None:
    """A hive-layout table holding only ``parts`` of ``src``, as
    hard links (no copy of the payload bytes)."""
    shutil.rmtree(dst, ignore_errors=True)
    for p in parts:
        sd, dd = f"{src}/part_id={p}", f"{dst}/part_id={p}"
        os.makedirs(dd)
        for f in os.listdir(sd):
            os.link(f"{sd}/{f}", f"{dd}/{f}")


class Run:
    """One workload's inputs and output dir inside the work dir, and
    the pipeline runs over them."""

    def __init__(self, spark, wl: Workload, seed: int, work: str):
        self.spark, self.wl, self.seed = spark, wl, seed
        self.images = f"{work}/images"
        self.out = f"{work}/out"
        self.snapshot = f"{work}/snapshot"
        self.work = work

    def generate(self) -> None:
        wl = self.wl
        write_images(
            generate_images(self.spark, wl.n_parts, wl.rows, seed=self.seed, dims=wl.dims),
            self.images,
        )

    def all_parts(self) -> list[int]:
        return sorted(int(d.split("=", 1)[1]) for d in os.listdir(self.images)
                      if d.startswith("part_id="))

    def cold_run(self) -> None:
        """The first pipeline run of the session. For the resume
        workload it runs over the done partitions only, and its output
        dir becomes the snapshot every timed run restores."""
        shutil.rmtree(self.out, ignore_errors=True)
        src = self.images
        if self.wl.resume:
            src = f"{self.work}/images_done"
            link_parts(self.images, src, list(range(self.wl.done_parts)))
        run_pipeline(self.spark, src, self.out, cfg=self.wl.config())

    def save_snapshot(self) -> None:
        if self.wl.resume:
            shutil.rmtree(self.snapshot, ignore_errors=True)
            shutil.copytree(self.out, self.snapshot)

    def reset(self) -> None:
        """Untimed: an empty output dir, or the restored snapshot."""
        shutil.rmtree(self.out, ignore_errors=True)
        if self.wl.resume:
            shutil.copytree(self.snapshot, self.out)
            self.register_index()

    def register_index(self) -> None:
        """(Re-)point the catalog's id-index table at the restored
        files, with the bucket spec index_append checks for."""
        spark = self.spark
        if spark.catalog.tableExists(INDEX_TABLE):
            spark.catalog.refreshTable(INDEX_TABLE)
            return
        spark.sql(
            f"CREATE TABLE {INDEX_TABLE} (key STRING, part_id STRING, n BIGINT, "
            "run_id STRING, appended_at DOUBLE) USING parquet "
            f"CLUSTERED BY (key) SORTED BY (key) INTO {PipelineConfig().id_index_buckets} BUCKETS "
            f"LOCATION '{self.out}/id_index'"
        )

    def timed_run(self, images: str | None = None) -> tuple[dict, float]:
        t = time.perf_counter()
        summary = run_pipeline(self.spark, images or self.images, self.out, cfg=self.wl.config())
        return summary, time.perf_counter() - t

    def check(self, summary: dict) -> list[str]:
        return check_outputs(self.spark, self.wl, self.images, self.out, summary,
                             self.all_parts())


# result tables written with one data file per partition directory per
# write; constraint_results gets two writes (the metadata verdicts
# overwrite, then the decode verdicts append)
_FILES_PER_PART = {
    "constraint_results": 2, "column_profiles": 1, "profile_sketches": 1,
    "violations": 1, "histograms": 1, "category_counts": 1,
    "drift_results": 1, "drift_results_categorical": 1,
}


def _rows(path: str) -> list[dict]:
    return pads.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()


def check_outputs(spark, wl: Workload, images: str, out: str, summary: dict,
                  parts: list[int]) -> list[str]:
    """Every failed expectation of one run, as messages (empty = pass)."""
    errs: list[str] = []
    pending = wl.pending(parts)
    baseline = PipelineConfig().baseline_part
    if summary.get("partitions") != len(pending) or summary.get("rows") != len(pending) * wl.rows:
        errs.append(f"summary counts {summary.get('partitions')}/{summary.get('rows')}")

    gt = ground_truth(wl.n_parts, wl.rows)
    res = {(r["part_id"], r["constraint"], r["kind"]): r for r in _rows(f"{out}/constraint_results")}
    for p in pending:
        g = gt[p]
        expect = {
            ("caption_not_null", "not_null"): g["caption_violations"],
            ("w_domain", "domain"): g["w_domain_violations"],
            ("fmt_known", "domain"): g["fmt_violations"],
            ("phash_ref", "referential"): g["orphan_phash"],
            ("image_id_unique", "unique"): g["dup_id_pairs"] * 2 + 1,
            ("fmt_known", "image"): g["fmt_violations"],
            # a sum: no row carries two planted payload faults at these
            # partition sizes (up to 1,000 rows)
            ("payload_decodes", "image"): g["corrupt_payloads"] + g["fmt_violations"]
            + g["w_domain_violations"] + g["dim_mismatch"],
        }
        for (c, kind), n in expect.items():
            r = res.get((p, c, kind))
            if r is None or r["n_violations"] != n or r["n_rows"] != wl.rows:
                got = None if r is None else (r["n_violations"], r["n_rows"])
                errs.append(f"part {p} {c}/{kind}: expected ({n}, {wl.rows}), got {got}")

    for table, n_files in _FILES_PER_PART.items():
        for p in pending:
            d = f"{out}/{table}/part_id={p}"
            if table.startswith("drift_results") and p == baseline:
                continue
            files = [f for f in os.listdir(d) if not f.startswith(("_", "."))] if os.path.isdir(d) else []
            if len(files) != n_files:
                errs.append(f"{table}/part_id={p}: {len(files)} data files, expected {n_files}")

    drift = _rows(f"{out}/drift_results")
    for p in pending:
        if p == baseline:
            continue
        rows = [r for r in drift if r["part_id"] == p]
        if len(rows) != 3 or any(r["ks"] is None or r["psi"] is None for r in rows):
            errs.append(f"drift part {p}: {len(rows)} scored columns, expected 3")
        if p >= wl.n_parts - DRIFT_PARTS and all(r["passed"] for r in rows):
            errs.append(f"drift part {p}: planted drift not flagged")

    if wl.resume:
        g = summary.get("global_uniqueness") or {}
        if g.get("passed") is not False or sorted(g.get("failed_partitions", []), key=int) != [
            str(p) for p in parts
        ]:
            errs.append(f"global uniqueness {g}")

    again = run_pipeline(spark, images, out, cfg=wl.config())
    if again.get("partitions") != 0:
        errs.append(f"resume rerun processed {again.get('partitions')} partitions")
    return errs
