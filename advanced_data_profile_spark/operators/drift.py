"""Distribution-drift checks: two-sample KS statistic + PSI over
shared-bin histograms (north_rule; SURVEY.md §2.9).

Design for scale: raw data is reduced ONCE per (group, column) to a
fixed-width histogram — a single wide aggregation over the scan (bin
edges from a prior global min/max agg, so 2 scans total for any number
of columns/groups). Histograms are tiny (n_groups × n_cols × n_bins
rows) and mergeable, so KS/PSI between any pair of snapshots is
computed over the histogram table alone — no second pass over raw
data, and re-checking a new partition against an old baseline needs
only the stored histogram, not the old data. Because the relation is
that small, scoring is driver work: it is collected once through
Arrow and scored by one vectorized numpy scorer (`score_counts`, both
the histogram and the category-count families), and the scores come
back as a local relation — Spark windows, joins or a UDF over a few
hundred rows would cost a dozen jobs and Python-worker tasks.

KS here is the binned approximation D = max|ECDF1 - ECDF2| over shared
bin boundaries (exact KS needs full sorts of both samples — not viable
at 10^12 rows; the binned D converges to exact D as bins grow and is
a documented tolerance). PSI uses the standard sum((p-q)*ln(p/q)) with
epsilon smoothing.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def shared_bins(
    df: DataFrame, columns: list[str], n_bins: int = 50
) -> dict[str, tuple[float, float]]:
    """Global (min, max) per column — one agg, driver-side dict."""
    exprs = []
    for c in columns:
        exprs.append(F.min(F.col(c).cast("double")).alias(f"__mn_{c}"))
        exprs.append(F.max(F.col(c).cast("double")).alias(f"__mx_{c}"))
    row = df.agg(*exprs).collect()[0].asDict()
    return {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in columns}


def histogram(
    df: DataFrame,
    columns: list[str],
    group_by: str,
    bounds: dict[str, tuple[float, float]] | None = None,
    n_bins: int = 50,
) -> DataFrame:
    """(group, column, bin, cnt) with shared bins across groups.

    bin = width_bucket(value, lo, hi, n_bins) ∈ [0, n_bins+1]
    (0/n_bins+1 are underflow/overflow so snapshots with outliers
    still share edges). All columns in one melt + one aggregation.
    """
    bounds = bounds or shared_bins(df, columns, n_bins)
    structs = []
    for c in columns:
        lo, hi = bounds[c]
        if lo is None or hi is None or hi <= lo:
            lo, hi = (lo or 0.0), (lo or 0.0) + 1.0
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.width_bucket(
                    F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(n_bins)
                ).alias("bin"),
                # bin-grid metadata rides along so a stored histogram is
                # self-describing: a later run comparing against it can
                # REUSE these edges instead of recomputing bounds from
                # different data (bins from different edges are not
                # comparable — the resume path depends on this)
                F.lit(float(lo)).alias("lo"),
                F.lit(float(hi)).alias("hi"),
                # interior-bin count rides along too: max(bin) can't pin
                # it (width_bucket sends max-valued rows to the overflow
                # bin n_bins+1), and figure midpoints need the true grid
                F.lit(int(n_bins)).alias("n_bins"),
            )
        )
    return (
        df.select(F.col(group_by).alias("grp"), F.explode(F.array(*structs)).alias("s"))
        .select("grp", "s.column", "s.bin", "s.lo", "s.hi", "s.n_bins")
        .where(F.col("bin").isNotNull())
        .groupBy("grp", "column", "bin", "lo", "hi", "n_bins")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sum_by(codes: np.ndarray, *values: np.ndarray):
    """Sorted distinct ``codes`` and the sum of each of ``values`` per
    code (counts: exact in float64 below 2^53)."""
    u, inv = np.unique(codes, return_inverse=True)
    return u, *(np.bincount(inv, v, len(u)).astype(np.int64) for v in values)


def _running_sums(v: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Left-to-right running sum of ``v`` within each segment: the order
    Spark's running window and per-group sum add in, so the doubles
    match (a flat cumsum would carry across segments, reduceat sums
    pairwise). One vectorized step per position, longest segments
    first."""
    order = np.argsort(-lens, kind="stable")
    s, n = starts[order], lens[order]
    out, acc = np.empty(len(v)), np.zeros(len(s))
    for j in range(int(n[0]) if len(n) else 0):
        k = np.searchsorted(-n, -j)  # segments longer than j
        idx = s[:k] + j
        acc[:k] += v[idx]
        out[idx] = acc[:k]
    return out


def score_counts(cur, base, eps: float = 1e-6) -> dict[str, np.ndarray]:
    """KS, PSI and two-sample chi-square of every (group, column) pair
    of ``cur`` = (grp, column, key, cnt) arrays against the baseline
    ``base`` = (column, key, cnt) arrays. Keys order the cells (bin
    order for KS); rows repeating a cell add up.

    A pair is scored only when both its own and the baseline's total
    for the column are positive; callers report the others as skipped.
    Its cells are the keys with a count on either side — a cell empty
    on both sides (seen only in some other group) moves none of the
    scores, and would only inflate dof — so the work is O(rows + pairs
    × baseline cells), never groups × every cell. Per cell p = cnt/ct,
    q = bcnt/bt; KS = max |cum p − cum q|; PSI = Σ (p+eps − q−eps)
    ln((p+eps)/(q+eps)) with unnormalized eps; χ² = Σ (O−E)²/E over
    both sides with the two-sample expected counts; dof =
    n_categories − 1. Returns grp, column, ks, psi, chi2, dof and
    n_categories arrays, one entry per scored pair, sorted by pair."""
    grp, column, key, cnt = cur
    n = len(grp)
    cols, ci = np.unique(np.concatenate([column, base[0]]), return_inverse=True)
    keys, ki = np.unique(np.concatenate([key, base[1]]), return_inverse=True)
    grps, gi = np.unique(grp, return_inverse=True)
    nc, nk = len(cols), len(keys)
    # baseline cells sorted by (column, key), and each column's total
    bcell, bcnt = _sum_by(ci[n:] * nk + ki[n:], base[2])
    bcol = bcell // nk
    btot = np.bincount(bcol, bcnt, nc).astype(np.int64)
    # (group, column) pairs with a positive total on both sides
    pair_of = gi * nc + ci[:n]
    pair, ctot = _sum_by(pair_of, cnt)
    keep = (ctot > 0) & (btot[pair % nc] > 0)
    pair, ctot = pair[keep], ctot[keep]
    pcol = pair % nc
    # this run's rows of kept pairs, plus every baseline cell of the
    # pair's column, summed per (pair, key)
    mine = np.isin(pair_of, pair)
    lo = np.searchsorted(bcol, pcol)
    width = np.searchsorted(bcol, pcol, side="right") - lo
    at = np.repeat(lo - (np.cumsum(width) - width), width) + np.arange(width.sum())
    cell, c, b = _sum_by(
        np.concatenate([pair_of[mine] * nk + ki[:n][mine],
                        np.repeat(pair, width) * nk + bcell[at] % nk]),
        np.concatenate([cnt[mine], np.zeros(len(at), dtype=np.int64)]),
        np.concatenate([np.zeros(mine.sum(), dtype=np.int64), bcnt[at]]),
    )
    nz = (c > 0) | (b > 0)
    cell, c, b = cell[nz], c[nz], b[nz]
    seg = cell // nk
    starts = np.flatnonzero(np.r_[True, seg[1:] != seg[:-1]]) if len(seg) else seg
    lens = np.diff(np.r_[starts, len(seg)])
    ends = starts + lens - 1
    ct, bt = np.repeat(ctot, lens), np.repeat(btot[pcol], lens)
    p, q = c / ct, b / bt
    # unnormalized epsilon smoothing (same convention as the
    # oracle-checked q_drift_psi_events): renormalizing by
    # (1 + eps * n_bins) would need the actual bin count — a hard-coded
    # constant silently biases the (ps - qs) term when bins differ
    ps, qs = p + eps, q + eps
    tot = c + b
    ec, eb = tot * ct / (ct + bt), tot * bt / (ct + bt)
    gap = np.abs(_running_sums(p, starts, lens) - _running_sums(q, starts, lens))
    return {
        "grp": grps[pair // nc],
        "column": cols[pcol],
        "ks": np.maximum.reduceat(gap, starts) if len(starts) else gap,
        "psi": _running_sums((ps - qs) * np.log(ps / qs), starts, lens)[ends],
        "chi2": _running_sums(
            (c - ec) * (c - ec) / ec + (b - eb) * (b - eb) / eb, starts, lens
        )[ends],
        "dof": lens - 1,
        "n_categories": lens,
    }


def _scores(spark, counts: pa.Table, key: str, is_base, eps: float, stored) -> DataFrame:
    """``score_counts`` over a counts table (grp, column, <key>, cnt)
    already on the driver, whose baseline rows ``is_base`` (a boolean
    array over its rows) flags, plus ``stored`` baseline rows; the
    scores come back as a local relation (a JVM LocalTableScan, no
    Python worker) keeping the input's grp and column types. A row
    whose flag, column or key is NULL would match nothing in a join
    and is dropped."""
    keep = pc.and_(pc.and_(pc.is_valid(is_base), pc.is_valid(counts["column"])),
                   pc.is_valid(counts[key]))
    t = counts.filter(keep)
    b = pc.filter(is_base, keep).to_numpy(zero_copy_only=False).astype(bool)
    arrays = [t[c].to_numpy() for c in ("grp", "column", key, "cnt")]
    base = [a[b] for a in arrays[1:]]
    if stored is not None:
        base = [np.concatenate([a, stored[c].to_numpy()])
                for a, c in zip(base, ("column", key, "cnt"))]
    s = score_counts([a[~b] for a in arrays], base, eps)
    return spark.createDataFrame(pa.table({
        "grp": pa.array(s.pop("grp"), counts.schema.field("grp").type),
        "column": pa.array(s.pop("column"), counts.schema.field("column").type),
        **s,
    }))


def _collect(counts: DataFrame, key: str, baseline_grp):
    """(spark, counts table, baseline flags) of a counts relation,
    collected once through Arrow. The flag is Spark's own
    ``grp = baseline_grp``, so its int/string coercion applies (NULL
    for a NULL grp)."""
    t = counts.select(
        "grp", "column", key, "cnt", (F.col("grp") == baseline_grp).alias("__is_base")
    ).toArrow()
    return counts.sparkSession, t.drop_columns("__is_base"), t["__is_base"]


def ks_psi(
    hist: DataFrame,
    baseline_grp: str | int,
    eps: float = 1e-6,
    stored: pa.Table | None = None,
) -> DataFrame:
    """KS statistic + PSI of every group vs the baseline group, per
    column, from the histogram table alone.

    Returns (grp, column, ks, psi), rounded to 6 places. The histogram
    relation is tiny (groups × columns × bins rows): it is collected
    once and scored on the driver by `score_counts`, so this is one
    Spark job plus a local relation. ``stored`` (column, bin, cnt) adds
    baseline counts already on the driver, such as a snapshot of a
    stored histograms table. A column with an EMPTY baseline (all-NULL
    in the baseline partition, or drift_columns grew after the baseline
    was stored) or an empty group is unscorable and has no row; callers
    emit an explicit skipped marker (the same contract as the
    no-baseline-at-all path in plans.pipeline)."""
    return ks_psi_arrow(*_collect(hist, "bin", baseline_grp), eps, stored)


def ks_psi_arrow(spark, hist: pa.Table, is_base, eps: float = 1e-6,
                 stored: pa.Table | None = None) -> DataFrame:
    """`ks_psi` over a histogram table already on the driver (a pyarrow
    Table with grp, column, bin and cnt), whose baseline rows the
    boolean array ``is_base`` flags: no Spark job at all."""
    return _scores(spark, hist, "bin", is_base, eps, stored).select(
        "grp", "column", F.round("ks", 6).alias("ks"), F.round("psi", 6).alias("psi")
    )


def _merge_kll_side(sketches: DataFrame, sketch_col: str, out: str) -> DataFrame:
    """(column, <out>) — one merged KLL sketch per column from a
    per-partition sketch relation. NULL sketch rows (non-numeric
    columns in the stored profile state) are dropped: merging zero
    inputs yields an empty buffer the quantile getter rejects."""
    return (
        sketches.where(F.col(sketch_col).isNotNull())
        .groupBy("column")
        .agg(F.kll_merge_agg_double(sketch_col).alias(out))
    )


DEFAULT_N_GRID = 128
DEFAULT_N_BINS = 10


def edge_grid_indices(n_grid: int = DEFAULT_N_GRID,
                      n_bins: int = DEFAULT_N_BINS) -> list[int]:
    """1-based baseline-grid indices of the equi-mass PSI edges: the
    grid position whose prob (i-0.5)/n_grid is nearest k/n_bins, for
    k = 1..n_bins-1. The SINGLE source of this mapping — the exact-PSI
    verification in __spark_entry__ imports it so the harness can
    never silently bin on different edges than the operator."""
    return [
        min(n_grid, max(1, round((k / n_bins) * n_grid - 0.5) + 1))
        for k in range(1, n_bins)
    ]


def drift_from_sketches(
    base_sketches: DataFrame,
    cur_sketches: DataFrame,
    sketch_col: str = "kll",
    n_grid: int = DEFAULT_N_GRID,
    n_bins: int = DEFAULT_N_BINS,
    eps: float = 1e-6,
) -> DataFrame:
    """KS + PSI per column from STORED KLL sketch state alone — the
    snapshot-over-snapshot drift check as a merge over persisted
    per-partition sketches. No raw-data rescan, no bin pre-pinning:
    any two snapshots (or any two partition subsets of one snapshot)
    whose sketch state exists can be compared after the fact, which
    `histogram`+`ks_psi` cannot do unless their bin grids were pinned
    when the data was still on disk.

    Method: Spark's KLL rank getter needs a foldable value argument,
    so each merged sketch's ECDF is reconstructed from its QUANTILES
    at a literal midpoint prob grid ((i+0.5)/n_grid):
    F(v) ~= |{i : Q((i+0.5)/n_grid) <= v}| / n_grid — the generalized
    inverse, within 1/n_grid of the sketch's own ECDF. KS is the exact
    sup-gap of the two grid-ECDFs (both only jump at their own grid
    quantiles, so the max over the union of grid values IS the sup);
    PSI uses n_bins equi-mass bins from the BASELINE sketch's quantiles
    with unbounded outer bins (out-of-range drift lands in the tails)
    and the same eps smoothing convention as `ks_psi`. The bin edges
    are READ OFF the already-built baseline grid (element_at on the
    nearest grid prob to k/n_bins) rather than issued as extra getter
    expressions: both sides are binned on identical edges, so PSI
    stays a valid equi-mass-edged comparison and the plan carries
    exactly 2*n_grid quantile getters — the whole fixed plan/codegen
    overhead of this job, which is why n_grid defaults to 128: total
    KS error vs the exact two-sample statistic is bounded by the two
    sketches' rank error (~1.65% each at k=200) + 2/n_grid — <= ~0.05
    at the defaults, and the contract query verifies the bound against
    the exact KS on the fixture.

    Scale shape: everything after the two sketch merges operates on a
    relation of n_columns rows with array columns of n_grid doubles —
    a metadata-sized job regardless of raw table size. Columns present
    in only one snapshot are unscorable and dropped (inner join), the
    same contract as `ks_psi`'s empty-baseline filter.

    Returns (column, ks, psi, n_base, n_cur).
    """
    b = _merge_kll_side(base_sketches, sketch_col, "__b")
    c = _merge_kll_side(cur_sketches, sketch_col, "__c")
    j = b.join(c, "column")
    probs = [(i + 0.5) / n_grid for i in range(n_grid)]
    # equi-mass PSI edge positions on the baseline grid: 1-based index
    # of the grid prob nearest k/n_bins — qb[i] == Q((i-0.5)/n_grid)
    edge_idx = edge_grid_indices(n_grid, n_bins)
    m = repr(float(n_grid)) + "D"

    # Fixed-overhead budget. Two costs dominated this job regardless of
    # data size: (1) building ~2*n_grid getter Columns from Python is
    # ~500 py4j round trips (~0.5s) — so the WHOLE scored expression is
    # generated as ONE SQL string and parsed JVM-side in a single
    # F.expr call; (2) CollapseProject duplicates any getter array that
    # is referenced more than once — so the two grids are built exactly
    # once inside a single-element array<struct> and all scoring runs
    # in a transform lambda over it, where every grid use is a lambda
    # VARIABLE (leaf) reference; inline() then expands the one scored
    # struct to columns without a second reference to the tree. Net:
    # plan build+exec ~0.1s where the naive construction took ~2.5s.
    def grid_sql(col: str) -> str:
        gs = ", ".join(
            f"kll_sketch_get_quantile_double({col}, {p!r}D)" for p in probs
        )
        return f"array({gs})"

    def ecdf(grid: str, v: str) -> str:
        return f"(size(filter({grid}, x -> x <= {v})) / {m})"

    ks = (
        f"array_max(transform(concat(s.qb, s.qc), "
        f"v -> abs({ecdf('s.qb', 'v')} - {ecdf('s.qc', 'v')})))"
    )
    # equi-mass PSI edges read off the baseline grid; cumulative mass
    # of each snapshot at those edges with implicit -inf/+inf outer
    # edges -> n_bins masses summing to exactly 1 on each side
    edges = (
        f"transform(array({', '.join(str(i) for i in edge_idx)}), "
        f"i -> element_at(s.qb, i))"
    )

    def cum(grid: str) -> str:
        return (
            f"concat(array(0.0D), transform({edges}, "
            f"e -> {ecdf(grid, 'e')}), array(1.0D))"
        )

    def mass(c: str) -> str:
        return (
            f"zip_with(slice({c}, 2, {n_bins}), slice({c}, 1, {n_bins}), "
            f"(hi, lo) -> hi - lo)"
        )

    e = repr(float(eps)) + "D"
    psi_terms = (
        f"zip_with({mass(cum('s.qc'))}, {mass(cum('s.qb'))}, "
        f"(p, q) -> ((p + {e}) - (q + {e})) * ln((p + {e}) / (q + {e})))"
    )
    psi = f"aggregate({psi_terms}, 0.0D, (acc, t) -> acc + t)"
    scored = (
        f"inline(transform("
        f"array(named_struct('qb', {grid_sql('__b')}, 'qc', {grid_sql('__c')})), "
        f"s -> named_struct('ks', round({ks}, 6), 'psi', round({psi}, 6))))"
    )
    g = j.select(
        F.col("column"),
        F.expr("cast(kll_sketch_get_n_double(__b) as bigint)").alias("n_base"),
        F.expr("cast(kll_sketch_get_n_double(__c) as bigint)").alias("n_cur"),
        F.expr(scored),
    )
    return g.select("column", "ks", "psi", "n_base", "n_cur")


def drift_from_stored_state(
    spark,
    base_path: str,
    cur_path: str,
    base_parts: list[str] | None = None,
    cur_parts: list[str] | None = None,
    **kwargs,
) -> DataFrame:
    """`drift_from_sketches` over two pipeline runs' PERSISTED sketch
    state ({output_dir}/profile_sketches, written by every approx-mode
    plans.pipeline run). Optional part_id filters compare any
    partition subsets — e.g. this week's partitions vs last week's —
    reading only the tiny sketch relations; the raw tables are never
    rescanned. `base_path`/`cur_path` may be the same directory with
    different part filters."""
    b = spark.read.parquet(base_path)
    c = spark.read.parquet(cur_path)
    if base_parts is not None:
        b = b.where(F.col("part_id").isin([str(p) for p in base_parts]))
    if cur_parts is not None:
        c = c.where(F.col("part_id").isin([str(p) for p in cur_parts]))
    return drift_from_sketches(b, c, **kwargs)


def drift_verdicts(
    scores: DataFrame,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """constraint_results-shaped rows: one per (group, column)."""
    return scores.select(
        F.col("grp").cast("string").alias("part_id"),
        F.concat(F.lit("drift_"), F.col("column")).alias("constraint"),
        F.lit("drift").alias("kind"),
        F.lit(None).cast("bigint").alias("n_rows"),
        F.lit(None).cast("bigint").alias("n_violations"),
        ((F.col("ks") <= ks_threshold) & (F.col("psi") <= psi_threshold)).alias("passed"),
        F.col("ks"), F.col("psi"),
    )


def categorical_drift_verdicts(
    scores: DataFrame, psi_threshold: float = 0.25
) -> DataFrame:
    """drift_verdicts for `categorical_psi_chi2` scores: one row per
    (group, column), passing when PSI is within the threshold."""
    return scores.select(
        F.col("grp").cast("string").alias("part_id"),
        F.concat(F.lit("drift_cat_"), F.col("column")).alias("constraint"),
        F.lit("drift_categorical").alias("kind"),
        (F.col("psi") <= psi_threshold).alias("passed"),
        "psi", "chi2", "dof", "n_categories",
    )


def categorical_counts(
    df: DataFrame, columns: list[str], group_by: str
) -> DataFrame:
    """(grp, column, category, cnt) — the categorical analogue of
    `histogram`: raw data reduced ONCE per (group, column) to category
    frequencies (all columns in one melt + one aggregation). NULL
    categories count as the sentinel '__null__' so null-rate shifts are
    drift too. Like histograms, the counts relation is tiny and
    mergeable — store it per snapshot and compare later without
    rescans."""
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.coalesce(F.col(c).cast("string"), F.lit("__null__")).alias(
                "category"
            ),
        )
        for c in columns
    ]
    return (
        df.select(F.col(group_by).alias("grp"), F.explode(F.array(*structs)).alias("s"))
        .select("grp", "s.column", "s.category")
        .groupBy("grp", "column", "category")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def categorical_psi_chi2(
    counts: DataFrame,
    baseline_grp: str | int,
    eps: float = 1e-6,
    stored: pa.Table | None = None,
) -> DataFrame:
    """PSI + chi-square statistic of every group vs the baseline, per
    column, from the category-counts relation alone (no raw rescans —
    the categorical counterpart of `ks_psi`; KS needs an ordering, so
    the order-free signals here are PSI over category masses and the
    two-sample chi-square statistic with its degrees of freedom).

    Categories absent on one side get zero mass (eps-smoothed for PSI;
    chi-square uses the standard two-sample expected counts, which
    handle zeros natively); categories seen only in some other group
    are not part of the pair and do not count towards dof. Columns with
    an empty baseline are unscorable and dropped — same contract, same
    driver-side scorer and same ``stored`` baseline rows (column,
    category, cnt) as ks_psi. Returns (grp, column, psi, chi2, dof,
    n_categories), psi and chi2 rounded to 6 places."""
    return categorical_psi_chi2_arrow(
        *_collect(counts, "category", baseline_grp), eps, stored
    )


def categorical_psi_chi2_arrow(spark, counts: pa.Table, is_base, eps: float = 1e-6,
                               stored: pa.Table | None = None) -> DataFrame:
    """`categorical_psi_chi2` over a category-counts table already on
    the driver (grp, column, category, cnt), whose baseline rows the
    boolean array ``is_base`` flags: no Spark job at all."""
    return _scores(spark, counts, "category", is_base, eps, stored).select(
        "grp", "column", F.round("psi", 6).alias("psi"),
        F.round("chi2", 6).alias("chi2"), "dof", "n_categories",
    )


def with_chi2_pvalue(scores: DataFrame) -> DataFrame:
    """Append `p_value` = chi-square upper-tail probability to a
    categorical_psi_chi2 scores relation. The chi2 STATISTIC grows
    linearly with sample size (at 10^12 rows any real difference is
    astronomically 'significant'), so thresholding raw chi2 conflates
    sample size with effect size — use PSI for effect size and the
    p-value for is-this-noise; both ride on the same tiny relation.

    The scores relation (n_groups x n_cols rows — never raw data) is
    collected through Arrow and the p-values computed on the driver by
    the fully vectorized chi2_sf_np; the result is a local relation
    with p_value rounded to 8 places. Invalid dof and non-convergence
    come back NaN, which becomes a null p_value (the surfaced
    don't-trust-this signal)."""
    from advanced_data_profile_spark.functions.numeric import chi2_sf_np

    t = scores.toArrow()
    p = chi2_sf_np(
        np.asarray(t["chi2"].to_numpy(), dtype=np.float64),
        np.asarray(t["dof"].to_numpy(), dtype=np.float64),
    )
    schema = StructType([*scores.schema.fields, StructField("p_value", DoubleType())])
    return scores.sparkSession.createDataFrame(
        t.append_column("p_value", pa.array(p, from_pandas=True)), schema
    ).withColumn("p_value", F.round("p_value", 8))
