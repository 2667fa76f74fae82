"""Physical-plan assertions: the optimizations we rely on at 100 TB
must actually appear in the executed plans (pushdown, pruning,
broadcast, partial top-k, whole-stage codegen).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from advanced_data_profile_spark.operators.stats import profile
from advanced_data_profile_spark.sources.images import phash_reference, read_images


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(lineitem):
    df = lineitem.where(F.col("l_shipdate") < "1996-01-01").select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def _file_bytes_read(spark) -> int:
    """JVM-global file-scheme FS read counter (Hadoop FileSystem
    statistics) — lets tests assert column pruning BEHAVIORALLY for the
    r9 driver-assembled exact profile, whose scans run as eager jobs
    inside the call (the returned relation is local, so there is no
    lazy plan with a ReadSchema to inspect)."""
    total = 0
    for st in spark._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics():
        if st.getScheme() == "file":
            total += st.getBytesRead()
    return total


def test_column_pruning_excludes_bytes(spark, images_path):
    import os

    images = read_images(spark, images_path)
    # approx mode still returns a lazy plan: the parquet ReadSchema must
    # not contain the payload column (the exact path builds its scans
    # from the same column selection, so the pruning machinery is one
    # and the same)
    plan = _plan(profile(images.drop("bytes"), columns=["w", "h"], approx=True))
    assert "bytes" not in plan.split("ReadSchema")[1].split("\n")[0]
    # exact ungrouped mode (eager, driver-assembled): profiling (w, h)
    # must not READ the payload — the bytes column dominates the table's
    # on-disk size, so total file bytes read must stay far below it
    payload = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(images_path)
        for f in fs
    )
    before = _file_bytes_read(spark)
    profile(images.drop("bytes"), columns=["w", "h"]).collect()
    delta = _file_bytes_read(spark) - before
    assert delta < payload / 2


def test_profile_reads_pruned_schema(lineitem):
    prof = profile(lineitem, columns=["l_quantity"], approx=True)
    read_schema = _plan(prof).split("ReadSchema: ")[1].split("\n")[0]
    assert "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    # the exact path must produce the same pruned-column results
    # (its scans are eager jobs; the pruning proof for eager scans is
    # test_column_pruning_excludes_bytes' byte-counter assertion)
    rows = profile(lineitem, columns=["l_quantity"]).collect()
    assert [r.column for r in rows] == ["l_quantity"]


def test_referential_uses_broadcast_join(spark, images_path):
    from advanced_data_profile_spark.operators import constraints as C

    images = read_images(spark, images_path)
    res, _ = C.evaluate(
        images,
        [C.referential("p", "phash", phash_reference(images), "phash")],
        part_col="part_id",
    )
    assert "BroadcastHashJoin" in _plan(res)
    assert "LeftAnti" in _plan(res)


def test_topk_global_is_take_ordered(lineitem):
    df = lineitem.groupBy("l_returnflag").count().orderBy(F.desc("count")).limit(3)
    assert "TakeOrderedAndProject" in _plan(df)


def test_wide_agg_is_partial_then_final(lineitem):
    prof = profile(lineitem, columns=["l_quantity", "l_discount"], approx=True)
    plan = _plan(prof)
    # hash aggregate with map-side partial before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_partition_pruning_on_part_id(spark, images_path):
    images = read_images(spark, images_path)
    pruned = images.where(F.col("part_id") == 0).select("image_id")
    plan = _plan(pruned)
    # partition filters appear as PartitionFilters, not data filters
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters: ")[1].split("]")[0]
    assert "part_id" in seg


def test_melt_topk_partial_aggregation(lineitem):
    from advanced_data_profile_spark.operators.topk import top_k_values

    plan = _plan(top_k_values(lineitem, ["l_returnflag"], k=3))
    assert plan.count("HashAggregate") >= 2  # partial + final around Exchange


def test_lsh_near_dup_plans_never_cartesian(spark):
    """The 100 TB contract for every near-dup tier: candidate
    generation is an EQUI-join on bucket keys — no cartesian product,
    no broadcast nested loop — and aggregations keep map-side partials."""
    import pandas as pd

    from advanced_data_profile_spark.operators import dedup as D

    docs = spark.createDataFrame(pd.DataFrame({
        "id": range(40),
        "text": [f"some shared tokens plus unique token{i}" for i in range(40)],
    }))
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5 - 2) for d in range(32)]) for i in range(40)],
        "id long, v array<double>",
    )
    plans = {
        "simhash": _plan(
            D.simhash_near_dups(D.simhash(docs, "id", "text", bits=60), 3, bits=60)
        ),
        "minhash": _plan(D.minhash_dedup(docs, "id", "text", k=16, bands=4)),
        "embedding": _plan(
            D.embedding_near_dups(emb, "id", "v", 0.9, n_bands=4, bits_per_band=8)
        ),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_hll_sketch_rollup(spark, images_path):
    from advanced_data_profile_spark.operators.sketches import distinct_rollup

    images = read_images(spark, images_path)
    per_part, table = distinct_rollup(images, ["image_id", "fmt"])
    t = {r.column: r.n_distinct_est for r in table.collect()}
    exact_ids = images.select("image_id").distinct().count()
    assert t["image_id"] == pytest.approx(exact_ids, rel=0.05)
    assert t["fmt"] == pytest.approx(4, abs=1)  # raw, bmp, tiff??, ''
    pp = per_part.collect()
    assert len(pp) == 4 * 2
    # merged estimate must be >= any single partition's (union grows)
    assert t["image_id"] >= max(r.n_distinct_est for r in pp if r.column == "image_id") * 0.95


def test_kll_quantile_rollup(lineitem, tmp_path):
    """Merged per-group KLL sketches must estimate quantiles within the
    sketch's rank bound vs the exact distribution, INCLUDING after a
    persist/reload of the sketch relation — the north_star's KLL-sketch
    quantile state must survive storage so rollups never rescan raw
    data."""
    from advanced_data_profile_spark.operators.sketches import (
        merge_quantile_sketches,
        partition_quantile_sketches,
    )

    cols = ["l_quantity", "l_extendedprice"]
    probs = [0.1, 0.5, 0.9]
    sk = partition_quantile_sketches(lineitem, cols, group_by="l_returnflag")
    path = str(tmp_path / "kll_sketches")
    sk.write.parquet(path)  # binary sketch column round-trips parquet
    stored = lineitem.sparkSession.read.parquet(path)
    est = merge_quantile_sketches(stored, probs).collect()
    assert len(est) == len(cols) * len(probs)
    n_total = lineitem.count()
    for r in est:
        assert r.n == n_total  # merge saw every row exactly once
        exact_rank = (
            lineitem.where(F.col(r.column).cast("double") <= r.quantile_est).count()
            / n_total
        )
        # k=200 rank error ~1.65%; l_quantity discreteness adds ~2%
        assert abs(exact_rank - r.prob) <= 0.05, (r.column, r.prob, exact_rank)


def test_moment_sketches_merge_exact(lineitem):
    """Chan-merged per-group (n, mean, m2) must equal direct whole-table
    moments to fp tolerance — the no-rescan mean/stddev rollup."""
    from advanced_data_profile_spark.operators.sketches import (
        merge_moments,
        moment_sketches,
    )

    cols = ["l_quantity", "l_extendedprice"]
    sk = moment_sketches(lineitem, cols, group_by="l_returnflag").persist()
    merged = {r.column: r for r in merge_moments(sk).collect()}
    direct = lineitem.agg(
        *[F.avg(c).alias(f"m_{c}") for c in cols],
        *[F.stddev_samp(c).alias(f"s_{c}") for c in cols],
        *[F.count(c).alias(f"n_{c}") for c in cols],
    ).first()
    sk.unpersist()
    for c in cols:
        assert merged[c].n == direct[f"n_{c}"]
        assert merged[c].mean == pytest.approx(direct[f"m_{c}"], rel=1e-12)
        assert merged[c].stddev == pytest.approx(direct[f"s_{c}"], rel=1e-9)


def test_moment_merge_numerically_stable(spark):
    """|mean| >> stddev (epoch-seconds style): the merge must use the
    deviations-from-grand-mean form — the sum-of-squares closed form
    cancels catastrophically here (garbage or NaN stddev)."""
    import math

    import pandas as pd

    from advanced_data_profile_spark.operators.sketches import (
        merge_moments,
        moment_sketches,
    )

    base = 1.7e9
    vals = [base + i * 0.5 for i in range(4000)]
    df = spark.createDataFrame(
        pd.DataFrame({"g": [i % 8 for i in range(4000)], "ts": vals})
    )
    merged = merge_moments(moment_sketches(df, ["ts"], group_by="g")).first()
    n = len(vals)
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / (n - 1)
    assert merged.mean == pytest.approx(mean, rel=1e-12)
    assert merged.stddev == pytest.approx(math.sqrt(var), rel=1e-6)
    # near-constant column: m2 clamps at 0, never NaN
    df2 = spark.createDataFrame(
        pd.DataFrame({"g": [0, 0, 1], "x": [0.1, 0.1, 0.1]})
    )
    m2 = merge_moments(moment_sketches(df2, ["x"], group_by="g")).first()
    assert m2.stddev == m2.stddev  # not NaN (m2 clamped at >= 0)
    assert abs(m2.stddev) < 1e-12  # fp noise only


def test_tfidf_plan_shapes(spark):
    """TF-IDF: the final top-k executes as TakeOrderedAndProject (no
    global sort) and the (doc, term) count aggregation is partial-then-
    final (map-side combine collapses the token fan-out)."""
    import pandas as pd

    from advanced_data_profile_spark.operators.text_ml import tfidf_top_ngrams

    df = spark.createDataFrame(pd.DataFrame({
        "t": ["the quick brown fox", "jumps over the lazy dog"] * 10
    }))
    plan = tfidf_top_ngrams(df, "t", ngrams=(1, 2), top=5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per agg stage


def test_quality_and_sampling_plans_shuffle_free(spark):
    """The quality verdict and the fraction sample are pure JVM
    projections/filters — zero Exchange, zero Python — so at 100 TB
    they ride the scan."""
    from advanced_data_profile_spark.operators.quality import quality_filter
    from advanced_data_profile_spark.operators.sampling import (
        hash_fraction_sample,
    )

    # parquet-backed source (a local relation constant-folds to
    # LocalTableScan and shows no codegen node at all)
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for out in (
        quality_filter(df, "text", id_col="doc_id"),
        hash_fraction_sample(df, "doc_id", 0.5),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan          # no shuffle
        assert "EvalPython" not in plan        # no Python in the path
        assert "FileScan parquet" in plan      # rides the scan directly


def test_bucketed_join_is_shuffle_free(spark, images_path):
    """Bucketed tables co-locate the join key: the image_id equi-join
    (the verify-against-reference shape) plans as a SortMergeJoin with
    NO Exchange on either side — the biggest shuffle in the
    verification pipeline removed by table layout. (A local per-bucket
    Sort remains: Spark only trusts sortedness with one file per
    bucket; it is node-local and spill-free, not a shuffle.)"""
    from advanced_data_profile_spark.sources.images import (
        read_images,
        write_images_bucketed,
    )

    meta = read_images(spark, images_path).select("image_id", "w", "h", "phash")
    for t in ("bkt_cand", "bkt_ref"):
        write_images_bucketed(meta, t, buckets=8)
    # the fixture is small enough to broadcast, which would hide the
    # bucketed-join shape; at 10^12 rows neither side broadcasts
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand, ref = spark.table("bkt_cand"), spark.table("bkt_ref")
        joined = cand.join(
            ref.select(F.col("image_id"), F.col("phash").alias("ref_phash")),
            "image_id",
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # and the data is actually right
        n = joined.where(F.col("phash") == F.col("ref_phash")).count()
        assert n >= meta.count()  # every id matches itself (dups fan out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        for t in ("bkt_cand", "bkt_ref"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_slice_chunks_plan_single_window_shuffle(spark):
    """slice_chunks must be ONE group-keyed window shuffle end to end:
    the token payload rides carry_cols through that single Exchange —
    no join back to the documents (a second shuffle at corpus scale)
    and no Python."""
    import pandas as pd

    from advanced_data_profile_spark.operators.packing import slice_chunks

    df = spark.createDataFrame(pd.DataFrame({
        "grp": ["a", "b"] * 10, "doc_id": range(20),
        "toks": [["x", "y", "z"]] * 20,
    }))
    plan = _plan(slice_chunks(df, "doc_id", "toks", 2, group_col="grp"))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "Window" in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_drift_from_sketches_plan_merges_only(spark):
    """drift_from_sketches operates on the sketch relation only: the
    plan aggregates/merges sketches and joins the two tiny per-column
    sides — it must never contain a Python stage, and its only scans
    are of the sketch inputs."""
    import pandas as pd

    from advanced_data_profile_spark.operators.drift import drift_from_sketches
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pd.DataFrame({
        "x": [float(i % 13) for i in range(200)],
        "part_id": [i % 4 for i in range(200)],
    }))
    sk = df.groupBy("part_id").agg(
        F.kll_sketch_agg_double("x", F.lit(200)).alias("kll")
    ).select("part_id", F.lit("x").alias("column"), "kll")
    plan = _plan(drift_from_sketches(sk, sk))
    assert "kll_merge_agg_double" in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_ngram_repetition_plan_linear_shuffles(spark):
    """ngram_repetition is explode -> keyed aggregations: a bounded
    number of Exchanges (gram counts, per-(id, n), per-id), no joins,
    no Python, no per-row quadratic HOF self-scans (the explode row
    count is linear in corpus tokens)."""
    import pandas as pd

    from advanced_data_profile_spark.operators.quality import ngram_repetition

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(10), "text": ["a b c d e f g"] * 10,
    }))
    plan = _plan(ngram_repetition(df, "doc_id", "text"))
    assert plan.count("Exchange") <= 3
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "Generate" in plan  # the single explode
