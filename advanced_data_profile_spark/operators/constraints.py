"""Declarative constraint engine: per-partition pass/fail + violations.

north_rule (BASELINE.json): uniqueness of image_id, referential phash
checks via broadcast join, fmt/dimension domain predicates, caption
non-null — emitting exact pass/fail verdicts and violation rows per
partition. No reference counterpart (the reference validates nothing);
shapes follow SURVEY.md §2.9.

Scale design:
- ALL count-style checks for a table fuse into ONE wide aggregation
  (`evaluate`): a single scan computes every domain/not-null violation
  count per partition. Violation SAMPLES are a second, filter-pushdown
  scan that only runs for failed constraints.
- unique and referential checks share ONE count relation
  (`key_counts`): one scan, one aggregation of (partition, check, key)
  records, persisted. Its map-side partial aggregation is the implicit
  salt: each key collapses to one count row per input split before the
  shuffle, so a duplicate-heavy key never concentrates raw rows on one
  reducer (an explicit spark_partition_id() salt, used through round
  7, was redundant for count aggregation and cost a second full
  Exchange). The per-partition totals, the verdicts, every violating
  key and the pipeline's id-index append all read that relation.
- referential checks anti-join the count relation against the
  broadcast (small) reference set; the orphan keys left are the
  violations.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RESULT_COLUMNS = ["part_id", "constraint", "kind", "n_rows", "n_violations", "passed"]
# constraint_results as every driver-side writer stores it: one schema
# for each of its files, whichever leg wrote them
RESULT_SCHEMA = pa.schema(list(zip(RESULT_COLUMNS, (
    pa.string(), pa.string(), pa.string(), pa.int64(), pa.int64(), pa.bool_()))))
VIOLATION_COLUMNS = ["part_id", "constraint", "key", "detail"]


@dataclass
class Check:
    name: str
    kind: str                      # not_null | domain | unique | referential
    column: str | None = None      # key / checked column
    predicate: Column | None = None   # domain: rows must satisfy this
    ref: DataFrame | None = None      # referential: valid-keys table
    ref_column: str | None = None
    params: dict = field(default_factory=dict)


def not_null(name: str, column: str) -> Check:
    return Check(name, "not_null", column=column)


def domain(name: str, predicate: Column, column: str | None = None) -> Check:
    """predicate is the INVARIANT (rows must satisfy it); nulls in the
    predicate count as violations unless the predicate handles them."""
    return Check(name, "domain", column=column, predicate=predicate)


def unique(name: str, column: str) -> Check:
    return Check(name, "unique", column=column)


def referential(name: str, column: str, ref: DataFrame, ref_column: str) -> Check:
    return Check(name, "referential", column=column, ref=ref, ref_column=ref_column)


def _violation_flag(chk: Check) -> Column:
    if chk.kind == "not_null":
        c = F.col(chk.column)
        return c.isNull() | (F.trim(c.cast("string")) == "")
    if chk.kind == "domain":
        return ~F.coalesce(chk.predicate, F.lit(False))
    raise ValueError(chk.kind)


def rowwise_count_exprs(rowwise: list[Check]) -> list[Column]:
    """The per-check violation-count aggregate expressions — exposed so
    callers (plans.pipeline) can FUSE them into another wide aggregation
    over the same scan (e.g. the column profile) instead of paying a
    second pass."""
    return [
        F.sum(_violation_flag(c).cast("long")).alias(f"__v_{i}")
        for i, c in enumerate(rowwise)
    ]


def results_from_agg(
    agg: DataFrame, checks: list[Check], part_col: str | None
) -> DataFrame:
    """Melt a wide per-partition aggregate carrying `n_rows` and one
    ``__v_<i>`` violation count per check (rowwise_count_exprs, or the
    `key_counts` agg) into RESULT_COLUMNS rows."""
    part_expr = (
        F.col(part_col).cast("string") if part_col else F.lit("__all__")
    ).alias("part_id")
    melted = agg.select(
        part_expr,
        F.col("n_rows"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c.name).alias("constraint"),
                    F.lit(c.kind).alias("kind"),
                    F.col(f"__v_{i}").alias("n_violations"),
                )
                for i, c in enumerate(checks)
            ])
        ).alias("s"),
    )
    return melted.select(
        "part_id", "s.constraint", "s.kind", "n_rows", "s.n_violations",
        (F.col("s.n_violations") == 0).alias("passed"),
    )


def results_arrow(agg, checks: list[Check]):
    """`results_from_agg` over a wide aggregate already on the driver:
    ``agg`` is a pyarrow Table with part_id, `n_rows` and the
    ``__v_<i>`` columns (one row per partition); returns the same
    RESULT_COLUMNS rows as a pyarrow Table of RESULT_SCHEMA."""
    import pyarrow.compute as pc

    part, n = agg["part_id"].cast(pa.string()), agg.num_rows
    return pa.concat_tables([
        pa.table([
            part, pa.array([c.name] * n, pa.string()),
            pa.array([c.kind] * n, pa.string()), agg["n_rows"],
            agg[f"__v_{i}"], pc.equal(agg[f"__v_{i}"], 0),
        ], schema=RESULT_SCHEMA)
        for i, c in enumerate(checks)
    ])


def rowwise_violation_samples(
    df: DataFrame,
    rowwise: list[Check],
    part_col: str | None,
    sample_violations: int,
) -> DataFrame:
    """Violation samples: ONE scan for all row-wise checks — filter to
    rows violating anything (predicate pushdown), explode the violated
    constraint names, keep k per (partition, constraint) via a window
    over the (small) violating subset."""
    if not rowwise:
        return df.sparkSession.createDataFrame(
            [], "part_id string, constraint string, key string, detail string"
        )
    part_expr = (
        F.col(part_col).cast("string") if part_col else F.lit("__all__")
    ).alias("part_id")
    flags = [(c, _violation_flag(c)) for c in rowwise]
    any_flag = None
    for _, fl in flags:
        any_flag = fl if any_flag is None else (any_flag | fl)
    detail_cols = [F.col(x) for x, t in df.dtypes if t != "binary"]
    exploded = (
        df.where(any_flag)
        .select(
            part_expr,
            F.explode(
                F.filter(
                    F.array(*[
                        F.when(
                            fl,
                            F.struct(
                                F.lit(c.name).alias("constraint"),
                                (
                                    F.col(c.column).cast("string")
                                    if c.column else F.lit(None).cast("string")
                                ).alias("key"),
                            ),
                        )
                        for c, fl in flags
                    ]),
                    lambda x: x.isNotNull(),
                )
            ).alias("s"),
            F.to_json(F.struct(*detail_cols)).alias("detail"),
        )
    )
    w = Window.partitionBy("part_id", "s.constraint").orderBy(F.col("s.key"))
    return (
        exploded.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= sample_violations)
        .select("part_id", "s.constraint", "s.key", "detail")
    )


def key_counts(
    df: DataFrame,
    checks: list[Check],
    part_col: str | None = "part_id",
    cached: list | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The unique and referential checks over ONE persisted count
    relation: returns (counts, agg, violations).

    ``counts`` is one aggregation over one scan of ``df``: each row
    becomes one record per check, keyed by that check's column, plus
    one totals record, and records are counted per (partition, check,
    key) into ``part_cnt``. Spark's map-side partial aggregation
    collapses each (partition, key) to one row per input split before
    the shuffle, so a duplicate-heavy key never concentrates raw rows
    on one reducer (an explicit salt stage would only add an Exchange).
    A unique check's rows then get ``cnt``, the key's count summed over
    every partition in ``df``: uniqueness is table-wide, so a key seen
    once in each of two partitions is a violation in both. A NULL key is
    a group like any other, so a duplicated NULL is a violation too. A
    referential check keeps only its orphan keys: its count rows are
    anti-joined against the broadcast distinct reference keys. The
    relation (part_col, __c = check index or -1 for the totals,
    __key = the key as a string, part_cnt, cnt, __viol) is persisted
    (and appended to ``cached`` when given, for the caller to release).

    ``agg`` is one row per partition (part_col, n_rows, __v_<i> per
    check), the shape `results_from_agg` and `results_arrow` melt into
    RESULT_COLUMNS rows. ``violations`` is every duplicated or orphan
    key per partition, in VIOLATION_COLUMNS, with its count as detail.

    The scope is the partitions in ``df``; on a resumed pipeline run
    that is the pending set (the cross-run check is the id index or the
    full-table pass, see plans.pipeline)."""
    keys = [part_col] if part_col else []
    kcols = [f"__k{i}" for i in range(len(checks))]
    uniq = [i for i, c in enumerate(checks) if c.kind == "unique"]
    c_col, cnt = F.col("__c"), F.col("part_cnt")

    def record(i: int) -> Column:
        # WHEN false THEN col is a NULL of col's type: every record of
        # the array has the same struct type
        return F.struct(F.lit(i).alias("__c"), *[
            F.when(F.lit(i == j), F.col(c.column)).alias(k)
            for j, (c, k) in enumerate(zip(checks, kcols))
        ])

    per_key = (
        df.select(*keys, F.explode(F.array(*map(record, range(-1, len(checks))))).alias("r"))
        .select(*keys, "r.*")
        .groupBy(*keys, "__c", *kcols)
        .agg(F.count(F.lit(1)).alias("part_cnt"))
    )
    # a referential check's anti-join drops its records whose key is in
    # the reference set; every other record has a NULL in that check's
    # key column, matches nothing and is kept. The always-true
    # part_cnt > 0 keeps the join above the aggregation: pushed below
    # it (the optimizer would), the count scan could not start before
    # the reference set is broadcast, where above it the two run side
    # by side
    for i, c in enumerate(checks):
        if c.kind == "referential":
            ref_keys = c.ref.select(F.col(c.ref_column).alias("__ref_key")).distinct()
            per_key = per_key.join(
                F.broadcast(ref_keys),
                (F.col(kcols[i]) == F.col("__ref_key")) & (cnt > 0),
                "left_anti",
            )
        elif c.kind != "unique":
            raise ValueError(c.kind)
    is_unique = c_col.isin(uniq)
    global_cnt = F.sum(cnt).over(Window.partitionBy("__c", *kcols)) if keys else cnt
    counts = per_key.select(
        *keys, "__c",
        F.coalesce(*[F.when(c_col == i, F.col(k).cast("string"))
                     for i, k in enumerate(kcols)]).alias("__key"),
        "part_cnt",
        F.when(is_unique, global_cnt).otherwise(cnt).alias("cnt"),
    ).withColumn("__viol", (c_col >= 0) & (~is_unique | (F.col("cnt") > 1)))
    counts = counts.persist()
    if cached is not None:
        cached.append(counts)

    def n(cond: Column) -> Column:
        return F.coalesce(F.sum(F.when(cond, cnt)), F.lit(0))

    agg = (counts.groupBy(*keys) if keys else counts).agg(
        n(c_col == -1).alias("n_rows"),
        *[n((c_col == i) & F.col("__viol")).alias(f"__v_{i}") for i in range(len(checks))],
    )
    part_str = F.col(part_col).cast("string") if part_col else F.lit("__all__")
    dup_detail = F.to_json(F.struct(F.col("cnt").alias("duplicate_count")))
    orphan_detail = F.to_json(F.struct(F.col("cnt").alias("orphan_count")))
    violations = counts.where("__viol").select(
        part_str.alias("part_id"),
        F.element_at(F.array(*[F.lit(c.name) for c in checks]), c_col + 1).alias("constraint"),
        F.col("__key").alias("key"),
        F.when(is_unique, dup_detail).otherwise(orphan_detail).alias("detail"),
    )
    return counts, agg, violations


def check_counts(counts: DataFrame, checks: list[Check], name: str,
                 part_col: str = "part_id") -> DataFrame:
    """(key, part_id, n) rows of check ``name`` from `key_counts`'
    relation: its per-(key, partition) counts, part_id as a string."""
    i = next(i for i, c in enumerate(checks) if c.name == name)
    return counts.where(F.col("__c") == i).select(
        F.col("__key").alias("key"),
        F.col(part_col).cast("string").alias("part_id"),
        F.col("part_cnt").alias("n"),
    )


def evaluate(
    df: DataFrame,
    checks: list[Check],
    part_col: str | None = "part_id",
    sample_violations: int = 20,
    cached: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run all checks; return (results, violations).

    results: one row per (partition, constraint) with pass/fail.
    violations: up to sample_violations rows per (partition, constraint)
    for row-level checks, ALL violating keys for unique/referential.

    Row-wise checks are one wide aggregation plus a violation-sample
    scan. Unique and referential checks all read the one count relation
    `key_counts` persists; when ``cached`` is a list it is appended
    there so the caller can unpersist it once it has consumed the
    results."""
    rowwise = [c for c in checks if c.kind in ("not_null", "domain")]
    others = [c for c in checks if c.kind not in ("not_null", "domain")]
    results: list[DataFrame] = []
    violations: list[DataFrame] = []

    if rowwise:
        agg = (df.groupBy(part_col) if part_col else df).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *rowwise_count_exprs(rowwise),
        )
        results.append(results_from_agg(agg, rowwise, part_col))
        violations.append(
            rowwise_violation_samples(df, rowwise, part_col, sample_violations)
        )
    if others:
        _, agg, vio = key_counts(df, others, part_col, cached)
        results.append(results_from_agg(agg, others, part_col))
        violations.append(vio)

    def _union(dfs: list[DataFrame], cols: list[str]) -> DataFrame:
        return reduce(DataFrame.unionByName, [d.select(*cols) for d in dfs])

    return _union(results, RESULT_COLUMNS), _union(violations, VIOLATION_COLUMNS)


def dedup_exact(df: DataFrame, key: str) -> DataFrame:
    """Exact dedup on key after hash repartition (J3): keeps one
    deterministic row per key (min by a stable tiebreak hash)."""
    h = F.xxhash64(*[F.col(c) for c, t in df.dtypes if t != "binary"])
    ranked = (
        df.repartition(F.col(key))
        .withColumn("__h", h)
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy(key).orderBy("__h")),
        )
    )
    return ranked.where(F.col("__rn") == 1).drop("__h", "__rn")
