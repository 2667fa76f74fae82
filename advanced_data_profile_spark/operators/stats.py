"""One-pass wide-aggregation column profiler.

The reference profiles columns one at a time in Python loops
(reference Profiler.py:576, 627, 695) — one full-table pass per column
per metric. Here every per-column statistic for every column is emitted
as one expression list into a single ``df.agg(...)`` (optionally
``groupBy(partition_col)``), so Catalyst executes ONE scan with
map-side partial aggregation before any shuffle. The wide result is
then melted to one row per (group, column) — the `column_profiles`
shape of SURVEY.md §1.3.

Scale notes (100 TB design point):
- the agg is a straight HashAggregate: partials per input partition,
  one shuffle keyed by the (low-cardinality) group column. No skew risk
  because group keys are table partitions, each roughly equal sized.
- exact mode uses ``count_distinct`` and exact quantiles: ungrouped,
  a bucketed rank search over raw scans (_exact_quantiles_driver, with
  its own cells for -inf, +inf and NaN); grouped, per-group
  ``percentile``. ``approx`` mode (default for scale) uses
  Datasketches HLL distincts
  (``hll_sketch_agg``) and KLL sketch quantiles
  (``kll_sketch_agg_double``), both single-pass and MERGEABLE — the
  north_star's per-partition 'KLL-sketch quantiles + HyperLogLog
  distinct counts' state. ``sketch_state_struct`` emits the SAME
  aggregates as binary state (shared buffers when fused), which
  plans.pipeline persists to {out}/profile_sketches and
  operators/sketches.rollup_stored_profile_sketches merges — profile
  rollups never rescan raw data.
- column pruning: only profiled columns are read; profiling an image
  table never touches the ``bytes`` payload column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from advanced_data_profile_spark.functions.numeric import (
    decimal_places,
    sample_kurtosis,
    sample_skewness,
)

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_TIME_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)
# column types profile() skips — the single source of truth for the
# "profilable column" policy (pipeline/profile_report import these)
SKIP_PROFILE_TYPES = (T.BinaryType, T.ArrayType, T.MapType, T.StructType)
NUMERIC_TYPES = _NUMERIC_TYPES

# Schema of one melted profile row (field order = output column order).
PROFILE_FIELDS = [
    ("column", "string"),
    ("n_rows", "bigint"),
    ("n_nonnull", "bigint"),
    ("n_null", "bigint"),
    ("null_ratio", "double"),
    ("n_distinct", "bigint"),
    ("unique_ratio", "double"),
    ("mean", "double"),
    ("stddev", "double"),          # sample, ddof=1 (reference parity)
    ("stddev_pop", "double"),
    ("min_num", "double"),
    ("max_num", "double"),
    ("p25", "double"),
    ("p50", "double"),
    ("p75", "double"),
    ("skewness", "double"),        # pandas-parity G1
    ("kurtosis", "double"),        # pandas-parity excess G2
    ("min_str", "string"),
    ("max_str", "string"),
    ("max_length", "bigint"),      # A15
    ("max_decimals", "bigint"),    # A16
    ("has_non_ascii", "boolean"),  # P4
]


# Schema of one melted sketch-state row (pipeline profile_sketches
# output): the PER-PARTITION mergeable state behind the approx profile
# (north_star: per-partition KLL quantiles + HLL distincts, merged) —
# persisting it makes any later rollup (table-level, snapshot-over-
# snapshot) a merge over stored sketches, never a raw rescan
# (operators/sketches.rollup_stored_profile_sketches).
SKETCH_FIELDS = [
    ("column", "string"),
    ("kll", "binary"),    # numeric columns only; NULL otherwise
    ("hll", "binary"),
]

KLL_K = 2048      # ~0.2% normalized rank error
HLL_LG_K = 12     # ~1.6% distinct-count error
_QUANTILE_PROBS = (0.25, 0.5, 0.75)
_QUANTILE_FIELDS = list(zip(("p25", "p50", "p75"), _QUANTILE_PROBS))


def _ident(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _str_lit(s: str) -> str:
    """``s`` as a SQL string literal, read back unchanged."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _struct(schema: list[tuple[str, str]], exprs: dict[str, str], alias: str) -> Column:
    """One ``named_struct`` aggregate with every field of ``schema``:
    a field without SQL in ``exprs`` is ``CAST(NULL AS <its type>)``."""
    body = ", ".join(
        f"{_str_lit(f)}, {exprs.get(f, f'CAST(NULL AS {t})')}" for f, t in schema
    )
    return F.expr(f"named_struct({body}) AS {_ident(alias)}")


def _kll(c: str) -> str:
    return f"kll_sketch_agg_double(CAST({c} AS DOUBLE), {KLL_K})"


def _hll(c: str) -> str:
    return f"hll_sketch_agg(CAST({c} AS STRING), {HLL_LG_K})"


def sketch_state_struct(name: str, dt: T.DataType) -> Column:
    """One column's mergeable sketch state as a struct-valued aggregate
    (SKETCH_FIELDS), one SQL expression. Its KLL and HLL aggregates are
    the text column_profile_struct(approx=True) uses for its quantiles
    and distincts, so when both are fused into one agg Catalyst dedupes
    them into shared buffers: persisting the state costs (almost)
    nothing beyond the profile scan itself. ``kll`` is NULL for a
    non-numeric column."""
    c = _ident(name)
    kll = {"kll": _kll(c)} if _is_numeric(dt) else {}
    exprs = {"column": _str_lit(name), "hll": _hll(c), **kll}
    return _struct(SKETCH_FIELDS, exprs, f"__sk_{name}")


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_TYPES)


# requesting any field of a set computes the whole set
_TOGETHER = (
    {f for f, _ in _QUANTILE_FIELDS}, {"min_str", "max_str"}, {"n_distinct", "unique_ratio"},
)
_ALWAYS = {"column", "n_rows", "n_nonnull", "n_null", "null_ratio"}
_NON_ASCII = _str_lit(r"[^\x00-\x7F]")


def column_profile_struct(
    name: str, dt: T.DataType, approx: bool, with_quantiles: bool = True,
    fields: set[str] | None = None,
) -> Column:
    """All stats for one column as a single struct-valued aggregate:
    one ``named_struct`` SQL expression, so building it is one
    ``F.expr`` call (a handful of py4j round trips).

    The NULL rule: each stat the column's type has maps to its SQL;
    every PROFILE_FIELDS slot without one (the type lacks it, or
    ``fields`` did not request it) is ``CAST(NULL AS <its type>)``, so
    the melted schema is stable. ``fields`` (None = all) limits what is
    COMPUTED, with these exceptions: n_rows, n_nonnull, n_null and
    null_ratio are always computed; p25/p50/p75, min_str/max_str and
    n_distinct/unique_ratio are each computed together; has_non_ascii
    is false for a non-string column. The expensive off-menu items are
    the string-cast aggregates (max_length/max_decimals render every
    numeric value as a string — ~1.2s of a 1.6s fused agg on 4 double
    columns at sf1.0) and skew/kurt's higher power sums; callers that
    only read a subset (the profile_lineitem contract reads 9 of 22
    fields) shouldn't pay for the rest.

    n_distinct note: exact ``count_distinct`` must NOT live in this
    struct — mixing DISTINCT aggregates with the heavy percentile /
    moment aggregates makes Catalyst rewrite the whole agg through an
    EXPAND (one replicated input copy per distinct group), multiplying
    the cost of every other aggregate (measured 10x at sf0.1). Exact
    mode therefore leaves n_distinct NULL and computes distincts in a
    separate scan (see ``profile``); approx HLL sketches are
    expand-free and stay fused. Exact mode without ``with_quantiles``
    leaves the quantiles NULL too: they come from the rank search
    (_exact_quantiles_driver), since Percentile is a
    TypedImperativeAggregate whose boxed value->count map merges
    single-threaded — measured 13s of an 18.9s profile on one
    4.5M-distinct double column at sf1.0.
    """
    c = _ident(name)
    n, nn, cd = "count(1)", f"count({c})", f"CAST({c} AS DOUBLE)"
    stringy, numeric = isinstance(dt, T.StringType), _is_numeric(dt)
    exprs = {
        "column": _str_lit(name), "n_rows": n, "n_nonnull": nn, "n_null": f"{n} - {nn}",
        "null_ratio": f"CASE WHEN {n} > 0 THEN ({n} - {nn}) / {n} END",
        "max_length": f"CAST(max(length(CAST({c} AS STRING))) AS BIGINT)",
    }
    if approx:
        # Datasketches HLL (the sketch_state_struct aggregate, so a
        # fused agg shares ONE buffer for the estimate and the
        # persisted state; estimate error ~1.6% at lg_k=12)
        nd = f"CAST(hll_sketch_estimate({_hll(c)}) AS BIGINT)"
        exprs["n_distinct"] = nd
        exprs["unique_ratio"] = f"CASE WHEN {n} > 0 THEN {nd} / {n} END"
    if stringy or numeric or isinstance(dt, _TIME_TYPES):
        exprs.update((f"{m}_str", f"CAST({m}({c}) AS STRING)") for m in ("min", "max"))
    if stringy:
        exprs["has_non_ascii"] = (
            f"coalesce(max(CAST({c} RLIKE {_NON_ASCII} AS INT)) = 1, false)"
        )
    if numeric:
        exprs.update(
            mean=f"avg({cd})", stddev=f"stddev_samp({cd})",
            stddev_pop=f"stddev_pop({cd})", min_num=f"min({cd})", max_num=f"max({cd})",
            skewness=sample_skewness(cd, nn), kurtosis=sample_kurtosis(cd, nn),
            max_decimals=f"CAST(max({decimal_places(c)}) AS BIGINT)",
        )
    if numeric and approx:
        # KLL sketch quantiles (north_star: per-partition stats via
        # 'KLL-sketch quantiles'): the sketch aggregate appears once
        # (Catalyst dedupes identical aggregate expressions into one
        # buffer), the three quantile reads are scalar post-steps.
        # Unlike percentile_approx's GK summary, the KLL state is
        # MERGEABLE (kll_merge_agg_double — see operators/sketches), so
        # per-partition profile state rolls up without rescans.
        # k=KLL_K → ~0.2% normalized rank error. A group with no
        # non-NULL, non-NaN value leaves the sketch empty, which the
        # quantile getter rejects: its quantiles are NULL.
        exprs.update((f, f"CASE WHEN kll_sketch_get_n_double({_kll(c)}) > 0 THEN "
                         f"kll_sketch_get_quantile_double({_kll(c)}, {p}D) END")
                     for f, p in _QUANTILE_FIELDS)
    elif numeric and with_quantiles:
        probs = ", ".join(f"{p}D" for p in _QUANTILE_PROBS)
        exprs.update((f, f"percentile({cd}, array({probs}))[{i}]")
                     for i, (f, _) in enumerate(_QUANTILE_FIELDS))
    if fields is not None:
        want = _ALWAYS | set(fields)
        want |= {f for group in _TOGETHER if want & group for f in group}
        exprs = {f: e for f, e in exprs.items() if f in want}
    if not stringy:
        exprs["has_non_ascii"] = "false"
    return _struct(PROFILE_FIELDS, exprs, f"__p_{name}")


_QUANTILE_BUCKETS = 1024
# max exact-histogram rows the final quantile job may collect per
# bracketing region; a needed region with more DISTINCT values than
# this is sub-bucketed in another (cheap, filter-pushed) pass instead —
# bounds driver memory by CAP x (a few regions) regardless of scale
_QUANTILE_COLLECT_CAP = 1 << 17
# max region ROW count for which the guarded distinct collect is tried
# before sub-bucket refinement: under this bound a wasted attempt (the
# region turns out to hold > CAP distinct values) costs one bounded
# sub-second aggregation, while a successful one saves the whole
# refinement cascade a hot value would otherwise cause
# (log_buckets(range/ulp) raw scans); above it, refinement goes first
# so an over-cap-distinct region never aggregates unboundedly many
# values just to trip the limit
_QUANTILE_ATTEMPT_ROW_CAP = 1 << 22


def _exact_quantiles_driver(
    df: DataFrame,
    live: list[str],
    stats: dict[str, tuple[int, float | None, float | None]],
    probs: tuple[float, ...] = _QUANTILE_PROBS,
    buckets: int = _QUANTILE_BUCKETS,
) -> dict[str, tuple[float, ...]]:
    """Exact quantiles for numeric columns via a bucketed rank search
    over RAW value scans, finished DRIVER-side — the replacement for
    ``F.percentile`` (a TypedImperativeAggregate whose boxed
    value->count map merges single-threaded: ~13s on one 4.5M-distinct
    double at sf1.0), for the r8 window/join formulation (whose
    per-bucket-offset side re-built the melt histogram from raw
    because diverging pushed filters broke the intended ReusedExchange
    — two full extra passes, 4.9s of a 5.0s profile at sf1.0), and for
    the first r9 draft that materialized the full exact value
    histogram (groupBy(value), persisted): building + caching a
    distincts-sized relation cost ~1.5-1.8s on the 5.8M-distinct
    column at sf1.0, while the rank search only ever needs ~1k-row
    bucket summaries and CAP-bounded bracketing regions — both
    computable from raw scans with map-side combine (0.27s + 0.3s
    measured), and the exact distinct count now comes from the
    caller's concurrent count_distinct leg instead of the histogram's
    row count. At 100 TB the difference is starker still: no
    distincts-sized cached relation exists at any point.

    ``stats[c] = (n_nonnull, min, max)`` — supplied by the caller, who
    already has them from the wide profile aggregate (no extra job).
    ``live`` must only contain columns with n_nonnull > 0.

    Per column (columns run as CONCURRENT driver jobs — an in-session
    A/B beat the r9-draft single melted 4x-explode job 1.04s vs 1.61s
    at sf0.1 and 1.44s vs 2.2s at sf1.0: the per-column scans read one
    column chunk each and overlap, and the rows never carry a column
    id):

    1. ONE scan aggregates per-range-bucket row counts (~1k rows, from
       the DETERMINISTIC ``width_bucket`` on the literal bounds —
       monotone in v, so bucket order == value order; 1k groups means
       map-side partial aggregation collapses the shuffle to ~1k rows
       per task). ``-inf``, ``+inf`` and ``NaN`` each get their own
       cell outside the grid, in SQL order (-inf < grid < +inf <
       NaN), which resolves its ranks without a job. When (min, max)
       are not two distinct finite values (the column holds NaN or
       +-inf, or one finite value) the finite values share one cell
       without a grid. The driver walks the cumulative bucket counts
       to find which bucket holds each bracketing rank (floor/ceil of
       (n-1)*p) and that bucket's global rank offset.
    2. A needed bucket with more than _QUANTILE_COLLECT_CAP ROWS but
       at most _QUANTILE_ATTEMPT_ROW_CAP of them is first resolved by
       a GUARDED distinct collect (one fused groupBy(v).count() job
       over all such regions, limited to regions x CAP + 1 rows):
       over-cap row counts at in-cap row volume are the HOT-VALUE
       signature (a low-cardinality column concentrates its whole
       mass on a few buckets), and sub-bucketing a hot value would
       recurse log_buckets(range/ulp) levels for nothing. Only a
       region that genuinely holds more distinct values than the cap
       (the guarded collect overflows), or more rows than the attempt
       bound (so the wasted aggregation would not be cheap), is
       sub-bucketed by another width_bucket pass over just that
       bucket's value range (a raw scan with the same membership
       predicate; log_buckets levels — 2 cover 10^9 rows). An
       over-cap region whose guarded collect overflowed, or that has
       no sub-bounds (a grid edge cell, whose values
       ``width_bucket``'s rounding can spread past the cell's
       computed range; a cell narrower than its grid can split; the
       finite values of a column without a top-level grid), takes its
       own (min, max) from one fused min/max job: a single value
       resolves it, otherwise it is sub-bucketed over that range, so
       values clustered in a small part of their cell split in one
       level. A grid whose range times ``buckets`` overflows a double
       runs on values scaled by 2^-12, where ``width_bucket`` stays
       finite and monotone.
    3. a final job aggregates ONLY the needed regions' (value, count)
       rows from raw (CAP-bounded: each region holds <= CAP rows, so
       <= CAP distinct values); the driver walks them to the exact
       bracketing values and interpolates with the same formula
       Spark's Percentile.getPercentile uses ((hi - pos) * v_lo +
       (pos - lo) * v_hi) in the same IEEE double arithmetic, so
       results are bit-identical to the in-plan formulation's.

    Returns ``{column: (q_per_prob...)}`` for every live column. Raises
    RuntimeError naming the column when a needed rank stays
    unresolved, which happens only if the input changed between the
    profile's jobs.

    A pre-histogram repartition of under-split sources was
    A/B-measured and REJECTED (sf1.0 summary job 1.87s -> 3.74s): the
    hash-aggregate exchange, not the single-task map side, bounds this
    job.

    Scale shape: every Spark job here is a raw scan + a
    map-side-combined aggregation whose group count is <= buckets per
    refinement level (plus the CAP-bounded final/guarded collects);
    nothing distincts-sized is ever shuffled, cached, or collected; no
    windows, no joins.
    """
    import math
    from concurrent.futures import ThreadPoolExecutor

    if not live:
        return {}

    def one_column(c: str):
        n, mn, mx = stats[c]
        v = F.col(c).cast("double")
        raw = df.where(v.isNotNull()).select(v.alias("v"))
        hv = F.col("v")

        def scale(lo: float, hi: float) -> float:
            # width_bucket computes buckets * (v - lo) / (hi - lo); on a
            # range that wide the product overflows and lands in a wrong
            # cell, so such a grid runs on values scaled by a power of two
            return 1.0 if math.isfinite(buckets * (hi - lo)) else 2.0 ** -12

        def bucket_over(lo: float, hi: float) -> Column:
            s = scale(lo, hi)
            x = hv if s == 1.0 else hv * s
            return F.width_bucket(x, F.lit(lo * s), F.lit(hi * s), F.lit(buckets))

        def sub_bounds(lo, hi, b):
            # value range of width_bucket cell b over [lo, hi] — used
            # only to DEFINE the next sub-bucketing grid, never for
            # membership (membership is always the same width_bucket
            # expression == literal, so float rounding here cannot
            # misplace a value)
            if not 1 <= b <= buckets:
                return None  # a grid edge cell
            s = scale(lo, hi)
            w = (hi * s - lo * s) / buckets
            slo, shi = (lo * s + (b - 1) * w) / s, (lo * s + b * w) / s
            if not (math.isfinite(slo) and math.isfinite(shi) and slo < shi):
                return None
            return slo, shi

        rs = set()
        for p in probs:
            pos = (n - 1) * p
            rs.add(math.floor(pos))
            rs.add(math.ceil(pos))
        need = sorted(rs)

        rank_val: dict[int, float] = {}

        def walk(region, rows):
            # rows: (value, count) pairs covering the region; assign
            # the region's needed global ranks by cumulative count in
            # value order
            cum = region["offset"]
            it = iter(region["ranks"])
            want = next(it, None)
            for vv, f in sorted(rows, key=lambda t: (math.isnan(t[0]), t[0])):
                while want is not None and cum <= want < cum + f:
                    rank_val[want] = vv
                    want = next(it, None)
                cum += f

        def tagged(regions):
            # the rows of all the regions, and a CASE WHEN giving each
            # row its region's index
            pred, rid = regions[0]["pred"], F.when(regions[0]["pred"], F.lit(0))
            for k, r in enumerate(regions[1:], 1):
                pred = pred | r["pred"]
                rid = rid.when(r["pred"], F.lit(k))
            return raw.where(pred), rid.alias("rid")

        def attempt(region) -> bool:
            # guarded distinct collect for one over-cap region:
            # succeeds iff the region's DISTINCT count fits the cap
            # (hot-value regions: huge row count, few values)
            rows = (
                raw.where(region["pred"])
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("f"))
                .limit(_QUANTILE_COLLECT_CAP + 1)
                .collect()
            )
            if len(rows) > _QUANTILE_COLLECT_CAP:
                return False
            walk(region, [(r.v, r.f) for r in rows])
            return True

        def attempt_many(regions) -> list:
            # fused guarded distinct collect (ONE job for all
            # candidate regions); returns the regions it could NOT
            # resolve. If the fused limit trips, each region is
            # retried alone so a single over-cap-distinct region does
            # not drag its hot-value siblings into refinement.
            rows_df, rid = tagged(regions)
            bound = len(regions) * _QUANTILE_COLLECT_CAP
            rows = (
                rows_df.groupBy(rid, "v")
                .agg(F.count(F.lit(1)).alias("f"))
                .limit(bound + 1)
                .collect()
            )
            if len(rows) <= bound:
                vals: dict[int, list] = {k: [] for k in range(len(regions))}
                for r in rows:
                    vals[r.rid].append((r.v, r.f))
                for k, region in enumerate(regions):
                    walk(region, vals[k])
                return []
            if len(regions) == 1:
                return regions  # the retry alone would be the same job
            return [r for r in regions if not attempt(r)]

        def own_bounds(regions) -> list:
            # ONE fused min/max job over over-cap regions without
            # sub-bounds or whose guarded collect overflowed; a region
            # holding one value is resolved outright, the others take
            # their own value range as the grid to sub-bucket over and
            # are returned
            rows_df, rid = tagged(regions)
            got = {
                r.rid: (r.lo, r.hi)
                for r in rows_df.groupBy(rid)
                .agg(F.min(hv).alias("lo"), F.max(hv).alias("hi"))
                .collect()
            }
            split = []
            for k, region in enumerate(regions):
                lo, hi = got.get(k, (None, None))
                if lo is not None and lo < hi:
                    region["bounds"] = (lo, hi)
                    split.append(region)
                elif lo is not None:
                    walk(region, [(lo, region["bf"])])
            return split

        # top-level cells in SQL order: -inf (-1) < finite values <
        # +inf (buckets+2) < NaN (buckets+3). The finite values fill
        # the width_bucket grid over (min, max), 0..buckets+1, when
        # those are two distinct finite values, else one cell 0 (a
        # column holding NaN or +-inf, or one finite value). A special
        # cell holds one known value and needs no job.
        grid = math.isfinite(mn) and math.isfinite(mx) and mn < mx
        special = {-1: -math.inf, buckets + 2: math.inf, buckets + 3: math.nan}
        bexpr = (
            F.when(F.isnan(hv), buckets + 3)
            .when(hv == math.inf, buckets + 2)
            .when(hv == -math.inf, -1)
            .otherwise(bucket_over(mn, mx) if grid else F.lit(0))
        )
        cells = (
            raw.groupBy(bexpr.alias("b"))
            .agg(F.count(F.lit(1)).alias("bf"))
            .collect()
        )
        cells = sorted((r.b, r.bf) for r in cells)

        # regions: pred is the exact width_bucket membership chain;
        # offset the region's global rank offset; ranks the needed
        # global ranks inside it
        pending = []
        cum = 0
        it = iter(need)
        want = next(it, None)
        for b, bf in cells:
            inside = []
            while want is not None and cum <= want < cum + bf:
                inside.append(want)
                want = next(it, None)
            if inside and b in special:
                walk({"offset": cum, "ranks": inside}, [(special[b], bf)])
            elif inside:
                pending.append({
                    "pred": bexpr == F.lit(int(b)),
                    "bounds": sub_bounds(mn, mx, int(b)) if grid else None,
                    "bf": bf,
                    "offset": cum,
                    "ranks": inside,
                })
            cum += bf

        # resolve/refine oversized regions (per level: one fused
        # guarded collect, one fused min/max, one fused sub-bucket
        # pass). A region without sub-bounds (a grid edge cell, a cell
        # narrower than its grid can split, the finite values of a
        # column without a top-level grid) or whose guarded collect
        # overflowed gets its own min/max as bounds. The loop
        # terminates: a bounded region's range shrinks by `buckets`
        # per level until sub_bounds gives out, and a grid over a
        # region's own (min, max) puts its min and max in different
        # cells, so every region it yields holds fewer distinct values.
        final_regions = []
        while pending:
            final_regions.extend(
                r for r in pending if r["bf"] <= _QUANTILE_COLLECT_CAP
            )
            over = [r for r in pending if r["bf"] > _QUANTILE_COLLECT_CAP]
            loose = [r for r in over if r["bounds"] is None]
            att = [r for r in over if r["bounds"] is not None
                   and r["bf"] <= _QUANTILE_ATTEMPT_ROW_CAP]
            big = [r for r in over if r["bounds"] is not None
                   and r["bf"] > _QUANTILE_ATTEMPT_ROW_CAP]
            loose += attempt_many(att) if att else []
            big += own_bounds(loose) if loose else []
            if not big:
                break
            rows_df, rid = tagged(big)
            sub = None
            subs = [bucket_over(*r["bounds"]) for r in big]
            for k, r in enumerate(big):
                sub = (F.when(r["pred"], subs[k]) if sub is None
                       else sub.when(r["pred"], subs[k]))
            rows = (
                rows_df.groupBy(rid, sub.alias("sb"))
                .agg(F.count(F.lit(1)).alias("bf"))
                .collect()
            )
            sub_cells: dict[int, list] = {k: [] for k in range(len(big))}
            for r in rows:
                sub_cells[r.rid].append((r.sb, r.bf))
            for cl in sub_cells.values():
                cl.sort()
            pending = []
            for k, parent in enumerate(big):
                cum = parent["offset"]
                it = iter(parent["ranks"])
                want = next(it, None)
                for sb, bf in sub_cells[k]:
                    inside = []
                    while want is not None and cum <= want < cum + bf:
                        inside.append(want)
                        want = next(it, None)
                    if inside:
                        pending.append({
                            "pred": parent["pred"]
                            & (subs[k] == F.lit(int(sb))),
                            "bounds": sub_bounds(*parent["bounds"], int(sb)),
                            "bf": bf,
                            "offset": cum,
                            "ranks": inside,
                        })
                    cum += bf

        # final job: the needed regions' exact (value, count) rows,
        # aggregated from raw (each region <= CAP rows by construction)
        if final_regions:
            rows_df, rid = tagged(final_regions)
            rows = (
                rows_df.groupBy(rid, "v")
                .agg(F.count(F.lit(1)).alias("f"))
                .collect()
            )
            vals: dict[int, list] = {k: [] for k in range(len(final_regions))}
            for r in rows:
                vals[r.rid].append((r.v, r.f))
            for k, region in enumerate(final_regions):
                walk(region, vals[k])

        qs = []
        for p in probs:
            # Spark Percentile.getPercentile interpolation, identical
            # IEEE double arithmetic driver-side
            pos = (n - 1) * p
            lo, hi = math.floor(pos), math.ceil(pos)
            if lo not in rank_val or hi not in rank_val:
                # the profile's jobs are separate scans of `df`, so a
                # source whose file set changes between them (e.g.
                # concurrent appends to the scanned path) can leave a
                # needed rank unresolved
                raise RuntimeError(
                    f"exact quantiles of column {c!r}: ranks {lo}/{hi} of "
                    f"{n} unresolved; the input changed between the "
                    "profile's jobs"
                )
            if lo == hi:
                qs.append(float(rank_val[lo]))
            else:
                qs.append(
                    (float(hi) - pos) * float(rank_val[lo])
                    + (pos - float(lo)) * float(rank_val[hi])
                )
        return tuple(qs)

    with ThreadPoolExecutor(max_workers=min(len(live), 8)) as pool:
        return dict(zip(live, pool.map(one_column, live)))


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    group_by: str | None = None,
    approx: bool = False,
    fields: list[str] | None = None,
) -> DataFrame:
    """Profile columns in one aggregation pass (plus, in exact mode, a
    second distinct-count pass — see column_profile_struct); melt to
    long format.

    Returns one row per (group_by?, column) with PROFILE_FIELDS.
    Binary columns are skipped by default (never scan image payloads
    for stats — reference stats are never over raw bytes either).

    ``fields`` (None = all) restricts which stats are computed —
    manual projection pushdown into the aggregate. The output schema is
    unchanged (unrequested fields come back NULL); the savings are the
    string-cast aggregates, the skew/kurt power sums, and whole side
    passes (distinct scan, quantile histogram) when their fields are
    not requested. Catalyst cannot prune these itself: the stats live
    inside struct-valued aggregates that are exploded before the
    caller's select.

    Execution shape by mode:
    - approx (any grouping): one fused sketch aggregation, melted
      in-plan — single scan, mergeable state.
    - exact grouped: fused aggregation incl. per-group Percentile
      (per-group maps are small — grouping is partition-grained by
      contract) + a count_distinct pass joined back.
    - exact ungrouped (r9): assembled DRIVER-side as a local relation
      (_profile_exact_ungrouped_local) from three CONCURRENT legs —
      the wide struct agg (one collected row), exact distinct counts
      (per-column count_distinct jobs, or one fused agg when many
      columns), and the bucketed rank search over raw scans
      (_exact_quantiles_driver, total on any input: -inf, +inf and
      NaN get their own cells outside the bucket grid). No
      melt/explode plan, no broadcast joins, no materialized value
      histogram, and no separate (count, min, max) pre-job — the
      collected structs already carry those (a column holding NaN or
      +-inf takes its grid from a min/max job over its finite values
      inside the rank search).
    """
    if fields is not None:
        known = {f for f, _ in PROFILE_FIELDS}
        bad = set(fields) - known
        if bad:
            raise ValueError(f"unknown profile fields: {sorted(bad)}")
    fset = set(fields) if fields is not None else None

    def need(f: str) -> bool:
        return fset is None or f in fset

    if columns is None:
        columns = [
            f.name for f in df.schema.fields
            if not isinstance(f.dataType, SKIP_PROFILE_TYPES)
            and f.name != group_by
        ]
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    want_q = need("p25") or need("p50") or need("p75")
    want_nd = need("n_distinct") or need("unique_ratio")

    if not approx and group_by is None:
        return _profile_exact_ungrouped_local(
            df, columns, dtypes, fset, want_q, want_nd
        )

    structs = [
        column_profile_struct(
            c, dtypes[c], approx, with_quantiles=True, fields=fset,
        )
        for c in columns
    ]

    if not approx:
        # grouped exact percentile is a sort-heavy aggregate whose
        # parallelism is capped by input splits (parquet row groups);
        # when the source is under-split, a cheap narrow-projection
        # shuffle buys full-width parallelism (~35% faster at sf0.1).
        # Approx mode is single-pass mergeable sketches and skips this.
        sc = df.sparkSession.sparkContext
        keep_cols = [group_by] + columns
        narrow = df.select(*[F.col(_ident(c)) for c in keep_cols])
        if narrow.rdd.getNumPartitions() < sc.defaultParallelism:
            df = narrow.repartition(sc.defaultParallelism)

    if group_by is not None:
        agg = df.groupBy(group_by).agg(*structs)
        keep = [F.col(group_by)]
    else:
        agg = df.agg(*structs)
        keep = []

    melted = agg.select(
        *keep,
        F.explode(F.array(*[F.col(_ident(f"__p_{c}")) for c in columns])).alias("s"),
    )
    out = melted.select(*keep, *[F.col(f"s.{f}").alias(f) for f, _ in PROFILE_FIELDS])
    if approx:
        return out

    if not want_nd:
        # distinct stats not requested: skip the count_distinct pass and
        # leave the struct's NULL placeholders in place
        order = [group_by] + [f for f, _ in PROFILE_FIELDS]
        return out.select(*order)

    # exact distinct counts (grouped): dedicated scan, melted and
    # joined back. Kept OUT of the main agg to avoid the EXPAND
    # rewrite (docstring above); this agg has only count_distincts so
    # the expand carries no heavy expressions. Round-5 A/B vs a
    # melt-shuffle variant (explode to (column, value) rows,
    # count_distinct per column — no EXPAND but shuffles
    # n_rows x n_cols rows): 3.242s vs 3.299s at sf0.1 x 32 cores, and
    # the melt's distinct is over string casts. The dedicated scan
    # stays.
    keys = [group_by]
    dagg = df.groupBy(*keys).agg(
        *[F.count_distinct(F.col(_ident(c))).alias(f"__d_{c}") for c in columns]
    )
    dmelt = dagg.select(
        *keys,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(_ident(f"__d_{c}")).cast("bigint").alias("__nd"),
                )
                for c in columns
            ])
        ).alias("d"),
    ).select(*keys, "d.column", "d.__nd")
    joined = out.join(F.broadcast(dmelt), on=keys + ["column"], how="left")
    joined = joined.withColumn(
        "n_distinct", F.col("__nd").cast("bigint")
    ).withColumn(
        "unique_ratio",
        F.when(F.col("n_rows") > 0, F.col("n_distinct") / F.col("n_rows")),
    ).drop("__nd")
    order = [group_by] + [f for f, _ in PROFILE_FIELDS]
    return joined.select(*order)


def _profile_exact_ungrouped_local(
    df: DataFrame,
    columns: list[str],
    dtypes: dict,
    fset: set[str] | None,
    want_q: bool,
    want_nd: bool,
) -> DataFrame:
    """Ungrouped exact profile assembled driver-side (r9).

    Three CONCURRENT legs (driver threads — the multi-job pattern used
    throughout plans/pipeline.py), then a LOCAL relation:

    - wide struct agg -> one collected row (counts/moments/min/max);
    - exact distinct counts: a count_distinct scan per column when few
      columns (the per-column jobs overlap each other and both other
      legs; no EXPAND), or ONE fused count_distinct agg when many (the
      r5 A/B-kept expand scan — 22 per-column scans would thrash);
      this leg depends on nothing and nothing depends on it until
      assembly, so it runs entirely under the other legs' wall time
      minus contention;
    - the bucketed rank search of _exact_quantiles_driver (bucket
      summary + bounded final collect from raw scans), which needs
      only (n_nonnull, min, max) from the wide row.

    The result rows are values in PROFILE_FIELDS order — callers'
    selects/rounds apply to literals, and the values are bit-identical
    to the in-plan formulation's (same aggregate expressions, same
    interpolation arithmetic; collect round-trips IEEE doubles
    exactly). n_distinct semantics per column are count_distinct over
    the ORIGINAL column values for every column (the pre-r9 split —
    histogram row count for injective-cast types, count_distinct for
    the rest — computed the same numbers: a cast that is injective
    preserves distinct counts, and groupBy/count_distinct normalize
    NaN and -0.0 identically).

    Replaces the r8 plan: agg -> explode -> broadcast-join(quantile
    relation) -> broadcast-join(distinct melt), whose quantile side
    cost two redundant melt passes (broken ReusedExchange) plus a
    dedicated (count, min, max) job. Measured at sf1.0 (local[32],
    min-of-N): profile_lineitem 5.94s -> see OPTIMIZATION_r09.md.
    """
    from concurrent.futures import ThreadPoolExecutor

    spark = df.sparkSession
    hist_cols = (
        [c for c in columns if _is_numeric(dtypes[c])] if want_q else []
    )
    aug = fset
    if fset is not None and hist_cols:
        # the rank search needs (n_nonnull, min, max); n_nonnull is
        # always computed — make sure min/max are too (they are cheap
        # fused aggregates), and null them back out below if the
        # caller did not ask for them
        aug = fset | {"min_num", "max_num"}
    structs = [
        column_profile_struct(
            c, dtypes[c], approx=False, with_quantiles=False, fields=aug,
        )
        for c in columns
    ]

    cd_cols = list(columns) if want_nd else []
    cd_vals: dict[str, int] = {}

    def _cd_one(c: str) -> int:
        return df.agg(F.count_distinct(F.col(c))).collect()[0][0]

    def _cd_fused() -> dict[str, int]:
        drow = df.agg(
            *[
                F.count_distinct(F.col(c)).alias(f"__d_{i}")
                for i, c in enumerate(cd_cols)
            ]
        ).collect()[0]
        return {c: drow[i] for i, c in enumerate(cd_cols)}

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(cd_cols)))) as pool:
        cd_futs = fused_fut = None
        if cd_cols:
            if len(cd_cols) <= 8:
                cd_futs = {c: pool.submit(_cd_one, c) for c in cd_cols}
            else:
                fused_fut = pool.submit(_cd_fused)
        # the wide agg runs inline on THIS thread — the cd futures
        # above already overlap it from the pool
        wide = df.agg(*structs).collect()[0]
        srows = {c: wide[f"__p_{c}"] for c in columns}

        stats = {
            c: (srows[c]["n_nonnull"], srows[c]["min_num"], srows[c]["max_num"])
            for c in hist_cols
        }
        live = [c for c in hist_cols if stats[c][0] > 0]
        qres = _exact_quantiles_driver(df, live, stats)
        if cd_futs is not None:
            cd_vals = {c: f.result() for c, f in cd_futs.items()}
        elif fused_fut is not None:
            cd_vals = fused_fut.result()

    rows_out = []
    for c in columns:
        d = srows[c].asDict()
        if fset is not None:
            for f, _ in PROFILE_FIELDS:
                if f == "column" or f in fset:
                    continue
                if want_q and f in ("p25", "p50", "p75"):
                    continue
                if want_nd and f in ("n_distinct", "unique_ratio"):
                    continue
                d[f] = None
        if want_q and c in qres:
            d["p25"], d["p50"], d["p75"] = qres[c]
        if want_nd:
            nd = cd_vals[c]
            nd = int(nd) if nd is not None else None
            n_rows = d["n_rows"]
            d["n_distinct"] = nd
            d["unique_ratio"] = (
                nd / n_rows if nd is not None and n_rows and n_rows > 0
                else None
            )
        rows_out.append(tuple(d[f] for f, _ in PROFILE_FIELDS))
    ddl = ", ".join(f"{f} {t}" for f, t in PROFILE_FIELDS)
    return spark.createDataFrame(rows_out, ddl)


def outlier_pct(
    df: DataFrame,
    columns: list[str],
    group_by: str | None = None,
    threshold: float = 3.0,
) -> DataFrame:
    """% of non-null values with |z| > threshold (population sigma),
    per column — reference Profiler.py:359-362 / P3 in SURVEY.md.

    Two fused aggregation passes over the same scan: pass 1 computes
    (mu, sigma) for every column at once; pass 2 computes all ratios at
    once. At scale this is 2 scans total for ANY number of columns —
    versus the reference's 2 scans *per column*.

    The broadcast moment relation is groups x 2*columns doubles —
    fine for partition-grained group_by (the profiling contract here);
    a group_by in the many-millions would need the hint dropped in
    favor of an AQE-chosen join.
    """
    keys = [group_by] if group_by else []
    m1 = (df.groupBy(*keys) if keys else df).agg(
        *[F.avg(c).alias(f"mu_{c}") for c in columns],
        *[F.stddev_pop(c).alias(f"sd_{c}") for c in columns],
    )
    if keys:
        joined = df.join(F.broadcast(m1), on=keys)
    else:
        joined = df.crossJoin(F.broadcast(m1))
    outlier_exprs = []
    for c in columns:
        z_hit = (
            F.abs(F.col(c) - F.col(f"mu_{c}")) / F.col(f"sd_{c}") > threshold
        ).cast("int")
        pct = F.when(
            F.count(c) > 0,
            F.round(F.sum(F.coalesce(z_hit, F.lit(0))) * 100.0 / F.count(c), 4),
        ).otherwise(0.0)
        outlier_exprs.append(pct.alias(f"__o_{c}"))
    agg2 = (joined.groupBy(*keys) if keys else joined).agg(*outlier_exprs)
    melted = agg2.select(
        *[F.col(k) for k in keys],
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("column"), F.col(f"__o_{c}").alias("outlier_pct"))
                for c in columns
            ])
        ).alias("s"),
    )
    return melted.select(*keys, "s.column", "s.outlier_pct")


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the relation (A4 'memory usage' —
    plan statistics instead of the reference's pandas deep memory scan;
    report-only metadata, never an exact byte count)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def table_summary(df: DataFrame, group_by: str | None = None) -> DataFrame:
    """Table-level stats: row/col counts, duplicate flag, null totals
    (reference first_phase/second_phase, Profiler.py:514-622)."""
    cols = [f.name for f in df.schema.fields if f.name != group_by]
    n_cols = len(cols)
    null_counts = [F.count(F.lit(1)) - F.count(F.col(c)) for c in cols]
    total_nulls = None
    for e in null_counts:
        total_nulls = e if total_nulls is None else total_nulls + e
    # duplicate-row detection via 64-bit hash inequality (A3): exact
    # count_distinct over the hash — collision odds negligible for a
    # verdict, and it avoids a groupBy over full-width rows.
    row_hash = F.xxhash64(*[F.col(c) for c in cols])
    agg = (df.groupBy(group_by) if group_by else df).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(row_hash).alias("n_distinct_rows"),
        total_nulls.alias("n_nulls_total"),
    )
    return agg.select(
        *([group_by] if group_by else []),
        "n_rows",
        F.lit(n_cols).alias("n_cols"),
        (F.col("n_rows") > F.col("n_distinct_rows")).alias("has_duplicates"),
        "n_nulls_total",
        (F.col("n_rows") * n_cols - F.col("n_nulls_total")).alias("n_nonnull_total"),
    )
