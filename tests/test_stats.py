"""Wide-agg profiler vs independently computed (pandas/duckdb) values.

pandas-parity cases pin the ddof adjustments (SURVEY.md A11-A13):
reference uses pandas describe()/skew()/kurtosis() semantics.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from pyspark.sql import functions as F

from advanced_data_profile_spark.operators.stats import (
    SKIP_PROFILE_TYPES,
    column_profile_struct,
    outlier_pct,
    profile,
    sketch_state_struct,
    table_summary,
)
from advanced_data_profile_spark.sources.images import read_images


@pytest.fixture(scope="module")
def li_profile(lineitem):
    rows = profile(lineitem).collect()
    return {r.column: r for r in rows}


def test_counts_and_nulls(lineitem, li_profile):
    pdf = lineitem.toPandas()
    for col in ("l_orderkey", "l_extendedprice", "l_returnflag"):
        r = li_profile[col]
        assert r.n_rows == len(pdf)
        assert r.n_null == int(pdf[col].isna().sum())
        assert r.n_distinct == pdf[col].nunique()


def test_moments_pandas_parity(lineitem, li_profile):
    pdf = lineitem.toPandas()
    for col in ("l_extendedprice", "l_quantity", "l_discount"):
        r = li_profile[col]
        s = pdf[col]
        assert r.mean == pytest.approx(s.mean(), rel=1e-9)
        assert r.stddev == pytest.approx(s.std(ddof=1), rel=1e-9)
        assert r.stddev_pop == pytest.approx(s.std(ddof=0), rel=1e-9)
        assert r.skewness == pytest.approx(s.skew(), rel=1e-6)
        assert r.kurtosis == pytest.approx(s.kurtosis(), rel=1e-6)
        assert r.min_num == s.min()
        assert r.max_num == s.max()


def test_exact_percentiles_linear_interpolation(lineitem, li_profile):
    pdf = lineitem.toPandas()
    s = pdf["l_extendedprice"]
    r = li_profile["l_extendedprice"]
    assert r.p25 == pytest.approx(s.quantile(0.25), rel=1e-12)
    assert r.p50 == pytest.approx(s.quantile(0.50), rel=1e-12)
    assert r.p75 == pytest.approx(s.quantile(0.75), rel=1e-12)


def test_string_column_profile(li_profile):
    r = li_profile["l_returnflag"]
    assert r.mean is None and r.p50 is None
    assert r.min_str == "A" and r.max_str == "R"
    assert r.max_length == 1
    assert r.has_non_ascii is False


def test_max_decimals(li_profile):
    assert li_profile["l_discount"].max_decimals == 2
    assert li_profile["l_orderkey"].max_decimals == 0


def test_profile_grouped(spark):
    pdf = pd.DataFrame({
        "g": ["a"] * 4 + ["b"] * 4,
        "x": [1.0, 2.0, None, 4.0, 10.0, 20.0, 30.0, 40.0],
    })
    out = profile(spark.createDataFrame(pdf), group_by="g").collect()
    by = {(r.g, r.column): r for r in out}
    assert by[("a", "x")].n_null == 1
    assert by[("a", "x")].mean == pytest.approx(7.0 / 3)
    assert by[("b", "x")].mean == pytest.approx(25.0)
    assert by[("b", "x")].null_ratio == 0.0


def test_outlier_pct_zscore(spark):
    # 99 values at 0, one at 100 -> z of the spike >> 3
    vals = [0.0] * 99 + [100.0]
    df = spark.createDataFrame(pd.DataFrame({"x": vals}))
    r = outlier_pct(df, ["x"]).collect()[0]
    assert r.outlier_pct == pytest.approx(1.0)  # 1 of 100 rows


def test_outlier_pct_none(lineitem):
    # uniform-ish TPC-H columns have no |z|>3 points
    rows = outlier_pct(lineitem, ["l_quantity"]).collect()
    assert rows[0].outlier_pct == 0.0


def test_table_summary(spark, lineitem):
    r = table_summary(lineitem).collect()[0]
    assert r.n_rows == lineitem.count()
    assert r.n_cols == len(lineitem.columns)
    assert r.n_nulls_total == 0
    dup = spark.createDataFrame(pd.DataFrame({"a": [1, 1, 2], "b": ["x", "x", "y"]}))
    assert table_summary(dup).collect()[0].has_duplicates is True


def test_approx_mode_close(lineitem):
    rows = profile(lineitem, columns=["l_extendedprice"], approx=True).collect()
    r = rows[0]
    exact = profile(lineitem, columns=["l_extendedprice"]).collect()[0]
    assert r.n_distinct == pytest.approx(exact.n_distinct, rel=0.05)
    assert r.p50 == pytest.approx(exact.p50, rel=0.01)


def test_empty_column(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [None, None, None]}), "x double")
    r = profile(df).collect()[0]
    assert r.n_nonnull == 0 and r.null_ratio == 1.0
    assert r.mean is None


def test_profile_survives_nan_and_inf(spark):
    """Real corpora carry NaN/Inf doubles: the KLL quantile path must
    not throw, and quantiles stay on the finite values (Spark's KLL
    aggregate skips NaN; Inf is an ordinary orderable value)."""
    df = spark.sql(
        "SELECT x FROM VALUES (1.0D),(double('NaN')),(2.0D),"
        "(double('Infinity')),(3.0D),(CAST(NULL AS DOUBLE)) AS t(x)"
    )
    r = profile(df, approx=True).collect()[0]
    assert r.n_nonnull == 5 and r.n_null == 1
    assert (r.p25, r.p50, r.p75) == (1.0, 2.0, 3.0)
    # exact mode must also not throw (NaN sorts beyond Inf)
    profile(df, approx=False).collect()


def test_skew_kurt_small_n_guards(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0]}))
    r = profile(df).collect()[0]
    assert r.skewness is None and r.kurtosis is None  # pandas returns NaN too


def test_estimated_size_bytes(lineitem):
    from advanced_data_profile_spark.operators.stats import estimated_size_bytes

    size = estimated_size_bytes(lineitem)
    assert size > 100_000  # 6k rows x 11 cols is at least ~100KB


def test_exact_quantiles_hot_value_and_refinement_paths(spark, monkeypatch):
    """Exercise the r9 raw-scan rank search's guard paths, which real
    data sizes never hit at the production CAP (1<<17 rows): shrink
    the caps so (a) a hot value concentrates more ROWS than the
    collect cap in its bucket (resolved by the fused guarded distinct
    collect, NOT by refinement), (b) a dense many-distinct bucket
    exceeds the cap AND the attempt row bound (resolved by sub-bucket
    refinement), (c) NaN and +-inf sit in an over-cap column or make
    up most or all of one (their own cells outside the bucket grid),
    (d) a range so wide that width_bucket's arithmetic would overflow,
    (e) many distinct values that width_bucket's rounding leaves in a
    sub-grid's edge cell (sub-bucketed over their own min/max),
    and assert the quantiles still match F.percentile's in-plan exact
    interpolation bit-for-bit (NaN equal to NaN)."""
    import pyspark.sql.functions as F

    from advanced_data_profile_spark.operators import stats as S

    monkeypatch.setattr(S, "_QUANTILE_COLLECT_CAP", 50)
    monkeypatch.setattr(S, "_QUANTILE_ATTEMPT_ROW_CAP", 400)

    def one(name, col, n):
        return spark.range(0, n).select(col.alias(name))

    def plus(df, *vals):
        return df.unionAll(spark.createDataFrame([(v,) for v in vals], "x double"))

    nan, inf = float("nan"), math.inf
    # hot: one value repeated 3000x (>> both caps) + a spread tail;
    # dense: 5000 distinct values packed into a narrow range so its
    # buckets hold > 50 distincts and > 400 rows at the shrunken caps;
    # over: 500 distinct values (> 50) spread over the whole grid
    hot = spark.range(0, 3000).select(F.lit(7.5).alias("hot")).unionAll(
        spark.range(0, 1000).select((F.col("id") * 0.01).alias("hot"))
    )
    dense = spark.range(0, 5000).select(
        (F.col("id") * 1e-7 + 3.0).alias("dense")
    )

    def over(name):
        return one(name, F.col("id") * 0.37 + 1.0, 500)

    cases = {
        "hot": hot,
        "dense": dense,
        "over": plus(over("over"), nan),
        "over_inf": plus(over("over_inf"), nan, inf),
        "over_ninf": plus(over("over_ninf"), nan, inf, -inf),
        "nan_heavy": one(
            "nan_heavy",
            F.when(F.col("id") % 4 != 0, F.lit(nan)).otherwise(F.col("id") * 0.5),
            2000,
        ),
        "all_nan": one("all_nan", F.lit(nan), 300),
        "const_nan": one(
            "const_nan",
            F.when(F.col("id") == 7, F.lit(nan)).otherwise(F.lit(0.1)),
            300,
        ),
        "single": one("single", F.lit(2.5), 1),
        "inf_only": plus(one("inf_only", F.lit(inf), 2), -inf),
        "wide": one("wide", (F.col("id") - 100) * F.lit(1e303), 200),
        # width_bucket rounds -1e-12 - (-1e6) to 1e6, so the tiny
        # negatives share the middle cell with the tiny positives but
        # fall below its sub-grid, into an over-cap edge cell
        "band": plus(
            one(
                "band",
                F.when(F.col("id") < 60, -(F.col("id") + 1) * 1e-12)
                .otherwise((F.col("id") - 59) * 1e-12),
                120,
            ),
            -1e6,
            1e6,
        ),
    }
    for name, df in cases.items():
        got = {
            r.column: r
            for r in S.profile(
                df, fields=["n_rows", "n_nonnull", "p25", "p50", "p75"]
            ).collect()
        }[name]
        exact = df.agg(
            F.percentile(
                F.col(name).cast("double"),
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
            )
        ).collect()[0][0]
        for g, e in zip((got.p25, got.p50, got.p75), exact):
            assert g == e or (math.isnan(g) and math.isnan(e)), (name, got, exact)


def test_exact_quantiles_driver_raises_on_unresolved_rank(spark):
    """A row count the scans cannot account for (the input changed
    between the profile's jobs) raises, naming the column, instead of
    returning a partial or recomputed answer."""
    import pyspark.sql.functions as F

    from advanced_data_profile_spark.operators.stats import _exact_quantiles_driver

    df = spark.range(0, 4).select((F.col("id") * 1.5).alias("x"))
    n, mn, mx = df.agg(F.count("x"), F.min("x"), F.max("x")).first()
    with pytest.raises(RuntimeError, match="'x'"):
        _exact_quantiles_driver(df, ["x"], {"x": (n + 5, mn, mx)})


def test_profile_structs_build_with_one_jvm_call_each(spark, images_path, monkeypatch):
    """The pipeline's 7 profiled columns: each profile and sketch struct
    is one SQL expression, built by one ``F.expr`` (a class lookup, a
    member lookup and the call: 3 py4j round trips). The Column API form
    made ~750 calls per column."""
    meta = read_images(spark, images_path).withColumn(
        "caption_len", F.length("caption")).drop("bytes")
    cols = {f.name: f.dataType for f in meta.schema.fields
            if not isinstance(f.dataType, SKIP_PROFILE_TYPES) and f.name != "part_id"}
    assert len(cols) == 7
    gateway = spark.sparkContext._gateway._gateway_client
    send, calls = gateway.send_command, []
    monkeypatch.setattr(gateway, "send_command",
                        lambda *a, **k: calls.append(1) or send(*a, **k))
    structs = [column_profile_struct(c, t, True) for c, t in cols.items()]
    structs += [sketch_state_struct(c, t) for c, t in cols.items()]
    monkeypatch.undo()
    assert len(calls) <= 3 * len(structs)
    assert meta.groupBy("part_id").agg(*structs).count() == 4


def test_profile_struct_of_a_column_whose_name_needs_quoting(spark):
    name = "it's `a` \\ b"
    df = spark.createDataFrame([(1,), (2,)], "x int").withColumnRenamed("x", name)
    dt = df.schema[name].dataType
    prof, sk = df.agg(
        column_profile_struct(name, dt, True), sketch_state_struct(name, dt)).first()
    assert (prof.column, prof.n_rows, prof.max_num, sk.column) == (name, 2, 2.0, name)


@pytest.mark.parametrize("group_by,approx", [(None, True), ("g", True), ("g", False)])
def test_profile_of_a_column_whose_name_holds_a_backtick(spark, group_by, approx):
    """The melt selects each column's struct by a quoted name (and the
    exact grouped path its columns and distinct counts), so a backtick
    in a column name reaches the output as the column's name instead of
    failing the attribute-name parse."""
    name = "a`b"
    df = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 5)], "g string, v int"
    ).withColumnRenamed("v", name)
    rows = profile(df, columns=[name], group_by=group_by, approx=approx).collect()
    got = sorted((r[group_by] if group_by else None, r.column, r.n_rows, r.max_num)
                 for r in rows)
    want = [("x", name, 2, 2.0), ("y", name, 1, 5.0)] if group_by else [(None, name, 3, 5.0)]
    assert got == want
