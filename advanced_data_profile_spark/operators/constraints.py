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
- uniqueness uses a two-stage aggregation so a duplicate-heavy key
  never concentrates raw rows on one reducer: stage 1 is Spark's OWN
  map-side partial agg (each key collapses to one count row per input
  split before the shuffle — the implicit salt the north_star's
  "salted repartition" asks for), stage 2 merges per key. Making the
  salt explicit via spark_partition_id() (rounds 1-7) was redundant
  for count aggregation and cost a second full Exchange.
- referential checks broadcast the (small) reference set and anti-join;
  violations come straight from the anti-join output.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RESULT_COLUMNS = ["part_id", "constraint", "kind", "n_rows", "n_violations", "passed"]
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


def rowwise_results_from_agg(
    agg: DataFrame, rowwise: list[Check], part_col: str | None
) -> DataFrame:
    """Melt a wide aggregate carrying `n_rows` + rowwise_count_exprs
    columns into RESULT_COLUMNS rows."""
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
                for i, c in enumerate(rowwise)
            ])
        ).alias("s"),
    )
    return melted.select(
        "part_id", "s.constraint", "s.kind", "n_rows", "s.n_violations",
        (F.col("s.n_violations") == 0).alias("passed"),
    )


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
    Both read small persisted intermediates; when ``cached`` is a list,
    they are appended to it so the caller can unpersist them once it
    has consumed the results.
    """

    def _persist(d: DataFrame) -> DataFrame:
        if cached is not None:
            cached.append(d)
        return d.persist()

    keys = [part_col] if part_col else []
    part_str = (F.col(part_col).cast("string") if part_col else F.lit("__all__"))

    rowwise = [c for c in checks if c.kind in ("not_null", "domain")]
    uniques = [c for c in checks if c.kind == "unique"]
    refs = [c for c in checks if c.kind == "referential"]

    results: list[DataFrame] = []
    violations: list[DataFrame] = []

    # --- row-wise checks: ONE wide agg for every constraint ---
    if rowwise:
        agg = (df.groupBy(*keys) if keys else df).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *rowwise_count_exprs(rowwise),
        )
        results.append(rowwise_results_from_agg(agg, rowwise, part_col))
        violations.append(
            rowwise_violation_samples(df, rowwise, part_col, sample_violations)
        )

    # per-partition totals shared by unique/referential verdicts —
    # cached because it is tiny (one row per partition) and otherwise
    # re-scanned by every downstream action
    totals = None
    if uniques or refs:
        totals = (df.groupBy(*keys) if keys else df).agg(
            F.count(F.lit(1)).alias("__total")
        )
        totals = _persist(totals)

    # --- uniqueness: two-stage aggregation (implicit map-side salt) ---
    # stage 1 is Spark's OWN partial hash aggregation: the map-side
    # combine collapses each (part, key) to one pre-aggregated count
    # row per input split BEFORE the shuffle, so a duplicate-heavy key
    # never concentrates raw rows on one reducer; stage 2 merges per
    # (part, key); stage 3 merges per key GLOBALLY — uniqueness is a
    # table-wide invariant, so a key duplicated ACROSS partitions is a
    # violation even though each partition sees it once. (An explicit
    # spark_partition_id() salt stage, used through round 7, is
    # redundant for count aggregation — partial agg keys by input
    # split implicitly, so the salted groups were singletons and the
    # extra groupBy only added a full Exchange; A/B-measured ~35% of
    # the query's wall time at sf0.1. Explicit salting stays necessary
    # only where partial agg cannot collapse: exact per-key distincts,
    # collect_list.) Violations are attributed back to every partition
    # holding a globally-duplicated key. Only the (small)
    # duplicate-key set is persisted — verdicts AND violation rows
    # both derive from it.
    # NB: the scope is the partitions in `df`; on a resumed run that is
    # the pending set (cross-RUN global uniqueness needs a dedicated
    # full-table pass — see pipeline docstring).
    for c in uniques:
        per_key_part = (
            df.select(*keys, F.col(c.column).alias("__key"))
            .groupBy(*keys, "__key")
            .agg(F.count(F.lit(1)).alias("part_cnt"))
        )
        if keys:
            per_key = per_key_part.groupBy("__key").agg(
                F.sum("part_cnt").alias("cnt")
            )
            dup_global = per_key.where(F.col("cnt") > 1).withColumnRenamed(
                "__key", "__gkey"
            )
            # attribute: every (part, key) row whose key is globally dup.
            # NULL-SAFE join: groupBy treats NULL as a key group, so a
            # duplicated NULL key is a violation too — a plain equi-join
            # would silently drop it
            dup_keys = _persist(per_key_part.join(
                dup_global, F.col("__key").eqNullSafe(F.col("__gkey"))
            ).drop("__gkey"))
            viol = dup_keys.groupBy(*keys).agg(
                F.sum("part_cnt").alias("n_violations")
            )
        else:
            dup_keys = _persist(
                per_key_part.where(F.col("part_cnt") > 1)
                .withColumn("cnt", F.col("part_cnt"))
            )
            viol = dup_keys.agg(F.sum("part_cnt").alias("n_violations"))
        res = (
            totals.join(viol, on=keys, how="left") if keys
            else totals.crossJoin(viol)
        ).withColumn("n_violations", F.coalesce(F.col("n_violations"), F.lit(0)))
        results.append(
            res.select(
                part_str.alias("part_id"),
                F.lit(c.name).alias("constraint"),
                F.lit("unique").alias("kind"),
                F.col("__total").alias("n_rows"),
                "n_violations",
                (F.col("n_violations") == 0).alias("passed"),
            )
        )
        violations.append(
            dup_keys.select(
                part_str.alias("part_id"),
                F.lit(c.name).alias("constraint"),
                F.col("__key").cast("string").alias("key"),
                F.to_json(F.struct(F.col("cnt").alias("duplicate_count"))).alias("detail"),
            )
        )

    # --- referential: broadcast anti-join; only the (small) orphan-key
    # counts are persisted, feeding both verdicts and violations ---
    for c in refs:
        ref_keys = c.ref.select(F.col(c.ref_column).alias("__ref_key")).distinct()
        orphans = df.select(*keys, F.col(c.column).alias("__key")).join(
            F.broadcast(ref_keys),
            F.col("__key") == F.col("__ref_key"),
            "left_anti",
        )
        orph_counts = _persist(orphans.groupBy(*keys, "__key").agg(
            F.count(F.lit(1)).alias("cnt")
        ))
        viol = (orph_counts.groupBy(*keys) if keys else orph_counts).agg(
            F.sum("cnt").alias("n_violations")
        )
        res = (
            totals.join(viol, on=keys, how="left") if keys
            else totals.crossJoin(viol)
        ).withColumn("n_violations", F.coalesce(F.col("n_violations"), F.lit(0)))
        results.append(
            res.select(
                part_str.alias("part_id"),
                F.lit(c.name).alias("constraint"),
                F.lit("referential").alias("kind"),
                F.col("__total").alias("n_rows"),
                "n_violations",
                (F.col("n_violations") == 0).alias("passed"),
            )
        )
        violations.append(
            orph_counts.select(
                part_str.alias("part_id"),
                F.lit(c.name).alias("constraint"),
                F.col("__key").cast("string").alias("key"),
                F.to_json(F.struct(F.col("cnt").alias("orphan_count"))).alias("detail"),
            )
        )

    def _union(dfs: list[DataFrame], cols: list[str]) -> DataFrame:
        out = dfs[0].select(*cols)
        for d in dfs[1:]:
            out = out.unionByName(d.select(*cols))
        return out

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
