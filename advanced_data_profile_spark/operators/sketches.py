"""Mergeable-sketch operators for incremental / hierarchical rollups.

At 10^12 rows you never recompute table-level stats from raw data:
each partition keeps a mergeable sketch (HyperLogLog for distinct,
KLL for quantiles, Welford/Chan tuples for moments), and any rollup —
table-level, snapshot-over-snapshot, cluster-of-partitions — is a
merge of sketches. PySpark 4.x exposes both Datasketches families
natively: ``hll_sketch_agg``/``hll_union_agg``/``hll_sketch_estimate``
for distinct and ``kll_sketch_agg_double``/``kll_merge_agg_double``/
``kll_sketch_get_quantile_double`` for quantiles (the north_star's
'KLL-sketch quantiles' merged per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_distinct_sketches(
    df: DataFrame, columns: list[str], group_by: str = "part_id",
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch per (partition, column) — stored as binary, so it
    can be persisted next to column_profiles and merged later without
    touching raw data."""
    agg = df.groupBy(group_by).agg(
        *[F.hll_sketch_agg(F.col(c).cast("string"), lg_k).alias(f"__s_{c}")
          for c in columns]
    )
    melted = agg.select(
        F.col(group_by),
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("column"), F.col(f"__s_{c}").alias("sketch"))
                for c in columns
            ])
        ).alias("s"),
    )
    return melted.select(group_by, "s.column", "s.sketch")


def merge_distinct_sketches(sketches: DataFrame) -> DataFrame:
    """Roll partition sketches up to table level: (column, n_distinct_est).
    Operates on the tiny sketch relation only — NO raw-data scan."""
    return (
        sketches.groupBy("column")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "column",
            F.hll_sketch_estimate("merged").cast("bigint").alias("n_distinct_est"),
        )
    )


def moment_sketches(
    df: DataFrame, columns: list[str], group_by: str = "part_id"
) -> DataFrame:
    """Per-(partition, column) moment sketches (n, mean, m2) — the
    Welford/Chan parallel-variance state. m2 = sum of squared deviations
    from the partition mean; (n, mean, m2) tuples merge EXACTLY (Chan
    et al. 1979 pairwise update), so table/cluster-level mean/stddev
    never rescan raw data — the north_star's 'mean/stddev via Welford
    merge' shape."""
    agg = df.groupBy(group_by).agg(
        *[F.count(F.col(c)).alias(f"__n_{c}") for c in columns],
        *[F.avg(F.col(c)).alias(f"__m_{c}") for c in columns],
        *[
            (F.var_pop(F.col(c)) * F.count(F.col(c))).alias(f"__m2_{c}")
            for c in columns
        ],
    )
    melted = agg.select(
        F.col(group_by),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(f"__n_{c}").alias("n"),
                    F.col(f"__m_{c}").alias("mean"),
                    F.col(f"__m2_{c}").alias("m2"),
                )
                for c in columns
            ])
        ).alias("s"),
    )
    return melted.select(group_by, "s.column", "s.n", "s.mean", "s.m2")


def merge_moments(sketches: DataFrame) -> DataFrame:
    """Chan-merge the per-partition (n, mean, m2) relation to one row
    per column: N = Σn; mean = Σ(n·meanᵢ)/N; M2 = Σm2ᵢ +
    Σnᵢ·(meanᵢ − mean)² — the DEVIATIONS-FROM-GRAND-MEAN form. The
    algebraically equivalent Σn·meanᵢ² − N·mean² cancels
    catastrophically when |mean| >> stddev (epoch timestamps: terms
    ~1e24, true m2 ~1e8 — garbage or NaN), so it must not be used.
    Two passes over the TINY sketch relation only — never raw data;
    exact up to fp rounding, clamped at 0 for near-constant columns."""
    g = sketches.groupBy("column").agg(
        F.sum("n").alias("total_n"),  # NB: "N" would collide with "n"
        (F.sum(F.col("n") * F.col("mean")) / F.sum("n")).alias("gmean"),
    )
    j = sketches.join(g, "column")
    dev = F.col("mean") - F.col("gmean")
    out = j.groupBy("column").agg(
        F.first("total_n").alias("total_n"),
        F.first("gmean").alias("gmean"),
        F.greatest(
            F.sum("m2") + F.sum(F.col("n") * dev * dev), F.lit(0.0)
        ).alias("merged_m2"),
    )
    return out.select(
        "column",
        F.col("total_n").alias("n"),
        F.col("gmean").alias("mean"),
        F.sqrt(F.col("merged_m2") / (F.col("total_n") - 1)).alias("stddev"),
        F.sqrt(F.col("merged_m2") / F.col("total_n")).alias("stddev_pop"),
    )


def partition_quantile_sketches(
    df: DataFrame, columns: list[str], group_by: str = "part_id",
    k: int = 200,
) -> DataFrame:
    """One KLL double sketch per (partition, column) — the north_star's
    'KLL-sketch quantiles' per-partition state (binary, persistable
    next to column_profiles, mergeable later without raw data).
    k=200 gives ~1.65% normalized rank error (Datasketches default)."""
    agg = df.groupBy(group_by).agg(
        *[
            F.kll_sketch_agg_double(F.col(c).cast("double"), F.lit(k)).alias(
                f"__s_{c}"
            )
            for c in columns
        ]
    )
    melted = agg.select(
        F.col(group_by),
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("column"), F.col(f"__s_{c}").alias("sketch"))
                for c in columns
            ])
        ).alias("s"),
    )
    return melted.select(group_by, "s.column", "s.sketch")


def merge_quantile_sketches(
    sketches: DataFrame, probs: list[float]
) -> DataFrame:
    """Roll partition KLL sketches up to table level and evaluate the
    requested quantiles: (column, prob, quantile_est, n). Operates on
    the tiny sketch relation only — NO raw-data rescan; rank error is
    the sketch's (~1.65% at k=200), merging adds none beyond the
    combined sketch's own bound."""
    merged = sketches.groupBy("column").agg(
        F.kll_merge_agg_double("sketch").alias("__m")
    )
    return merged.select(
        "column",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(float(p)).alias("prob"),
                    F.kll_sketch_get_quantile_double("__m", F.lit(float(p))).alias(
                        "quantile_est"
                    ),
                )
                for p in probs
            ])
        ).alias("s"),
        F.kll_sketch_get_n_double("__m").alias("n"),
    ).select("column", "s.prob", "s.quantile_est", "n")


def quantile_rollup(
    df: DataFrame, columns: list[str], probs: list[float],
    group_by: str = "part_id", k: int = 200,
) -> tuple[DataFrame, DataFrame]:
    """(per-partition sketches, table-level quantile estimates from the
    merged sketches) — the two-level KLL rollup in ONE pass over raw
    data; the merge path never rescans."""
    sk = partition_quantile_sketches(df, columns, group_by, k)
    sk = sk.persist()
    return sk, merge_quantile_sketches(sk, probs)


def rollup_stored_profile_sketches(
    spark, path: str, probs: list[float] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """Table-level profile stats from the pipeline's PERSISTED
    per-partition sketch state ({output_dir}/profile_sketches, written
    by every approx-mode plans.pipeline run): one row per column
    with the merged HLL distinct estimate and merged KLL quantiles.
    Reads only the tiny sketch relation — the raw table is never
    rescanned, which is the point: at 10^12 rows a table-level (or
    any-subset-of-partitions) profile rollup is a metadata-sized job."""
    sk = spark.read.parquet(path)
    merged = sk.groupBy("column").agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).cast("bigint").alias(
            "n_distinct_est"
        ),
        F.kll_merge_agg_double("kll").alias("__kll"),
        # non-numeric columns carry NULL kll state; merging zero inputs
        # yields an EMPTY buffer that get_quantile rejects — gate on
        # having merged at least one real sketch
        F.count("kll").alias("__n_kll"),
    )
    qcols = [
        F.when(
            F.col("__n_kll") > 0,
            F.kll_sketch_get_quantile_double("__kll", F.lit(float(p))),
        ).alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return merged.select("column", "n_distinct_est", *qcols)


def distinct_rollup(
    df: DataFrame, columns: list[str], group_by: str = "part_id"
) -> tuple[DataFrame, DataFrame]:
    """(per-partition estimates, table-level estimates from merged
    sketches) — the two-level rollup in one pass over raw data."""
    sk = partition_distinct_sketches(df, columns, group_by)
    sk = sk.persist()
    per_part = sk.select(
        group_by, "column",
        F.hll_sketch_estimate("sketch").cast("bigint").alias("n_distinct_est"),
    )
    return per_part, merge_distinct_sketches(sk)


def partition_frequency_sketches(
    df: DataFrame, columns: list[str], group_by: str = "part_id",
    eps: float = 0.001, confidence: float = 0.99, seed: int = 1,
) -> DataFrame:
    """One count-min sketch per (partition, column) — the FREQUENCY
    member of the stored-state triad (HLL distinct / KLL quantiles /
    CMS counts): binary, persistable, mergeable. Items are sketched as
    strings (the HLL discipline). eps/confidence/seed are part of the
    sketch SPEC — every sketch that will ever be merged must use the
    same values (functions/cmsketch.merge_cms enforces this)."""
    agg = df.groupBy(group_by).agg(
        *[
            F.count_min_sketch(
                F.col(c).cast("string"), F.lit(eps), F.lit(confidence),
                F.lit(seed),
            ).alias(f"__s_{c}")
            for c in columns
        ]
    )
    melted = agg.select(
        F.col(group_by),
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("column"), F.col(f"__s_{c}").alias("cms"))
                for c in columns
            ])
        ).alias("s"),
    )
    return melted.select(group_by, "s.column", "s.cms")


def heavy_hitters_from_state(
    sketches: DataFrame,
    candidates: DataFrame,
    min_count: int = 1,
) -> list[dict]:
    """Heavy hitters from STORED state alone — no raw rescan. Spark
    ships no CMS merge/estimate functions, so the merge runs
    driver-side over the collected sketch relation (kilobytes per
    (partition, column)) via functions/cmsketch.

    `candidates` supplies (column, value) rows to score — the standard
    CMS recovery shape: a global heavy hitter is a local top-k member
    in at least one partition, so per-partition top-k output
    (operators/topk.py) is a sound candidate superset. Returns
    [{column, value, est_count}] sorted by (column, -est_count, value),
    filtered to est_count >= min_count. CMS never undercounts, so no
    true heavy hitter can be dropped by the filter."""
    from advanced_data_profile_spark.functions.cmsketch import (
        estimate_cms,
        merge_cms,
    )

    by_col: dict[str, list[bytes]] = {}
    for r in sketches.select("column", "cms").collect():
        by_col.setdefault(r.column, []).append(bytes(r.cms))
    merged = {c: merge_cms(parts) for c, parts in by_col.items()}
    out = []
    seen = set()
    # stringify candidate values IN SPARK: the sketches hashed Spark's
    # cast('string') rendering, which differs from Python's str() for
    # booleans ('true' vs 'True'), doubles ('1.0E7'), timestamps... —
    # a Python-side str() would estimate 0 for such values and silently
    # drop true heavy hitters
    # NULL candidates are dropped: count_min_sketch skipped NULL inputs
    # when the state was built, and a None surviving to Python would be
    # scored as the literal string 'None' — misattributing counts when
    # that string genuinely occurs in the data
    cand = candidates.select(
        "column", F.col("value").cast("string").alias("value")
    ).where(F.col("value").isNotNull())
    for r in cand.collect():
        key = (r.column, r.value)
        if key in seen or r.column not in merged:
            continue
        seen.add(key)
        est = estimate_cms(merged[r.column], str(r.value))
        if est >= min_count:
            out.append({"column": r.column, "value": r.value, "est_count": est})
    out.sort(key=lambda d: (d["column"], -d["est_count"], str(d["value"])))
    return out
