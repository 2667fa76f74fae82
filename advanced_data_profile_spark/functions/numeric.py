"""Numeric statistic expressions with explicit parity semantics.

The reference computes moments with pandas defaults: sample stddev
(ddof=1), sample-adjusted skewness G1 and excess kurtosis G2
(reference Profiler.py:706-726). Spark's built-ins are population
(g1, g2), so the adjustment factors are applied explicitly here. Each
formula is SQL text over the SQL of its operands, so a caller splices
it into a larger expression (operators.stats builds each column's
profile as one) and it stays inside whole-stage codegen.
"""

from __future__ import annotations


def sample_skewness(x: str, n: str) -> str:
    """pandas-style G1 = g1 * sqrt(n*(n-1)) / (n-2) of the values ``x``
    with non-NULL count ``n``; NULL when n < 3."""
    return (
        f"CASE WHEN {n} >= 3 THEN skewness({x})"
        f" * (sqrt({n} * ({n} - 1)) / ({n} - 2)) END"
    )


def sample_kurtosis(x: str, n: str) -> str:
    """pandas-style excess G2 = (n-1)/((n-2)(n-3)) * ((n+1)*g2 + 6) of
    the values ``x`` with non-NULL count ``n``; NULL when n < 4."""
    return (
        f"CASE WHEN {n} >= 4 THEN ({n} - 1) / (({n} - 2) * ({n} - 3))"
        f" * (({n} + 1) * kurtosis({x}) + 6) END"
    )


def decimal_places(c: str) -> str:
    """Number of digits after the decimal point of ``c`` as rendered by
    a plain string cast (reference Profiler.py:584-588 splits on '.');
    0 when there is none."""
    return rf"coalesce(length(split(CAST({c} AS STRING), '\\.')[1]), 0)"


def _iter_caps(a_max: float) -> tuple[int, int]:
    """Iteration caps scaled with a = dof/2. The series needs ~a + few
    sqrt(a) terms when x is near a (term ratio x/n only drops below 1
    once n > x); the continued fraction converges in O(sqrt(a)) there.
    A fixed 500 silently truncated at dof in the tens of thousands —
    now the caps grow with a and non-convergence returns NaN instead
    of a plausible-looking number. The caps stay bounded in practice
    because dof above _WH_DOF_THRESHOLD never reaches the iterative
    branches (Wilson-Hilferty takes over), so a_max <= threshold/2."""
    import math

    s = math.sqrt(max(a_max, 1.0))
    return int(2.0 * a_max + 60.0 * s) + 500, int(60.0 * s) + 500


# above this dof the exact series/CF iteration count (O(dof)) would be
# a runtime cliff for a driver-side p-value; Wilson-Hilferty's cube-
# root normal approximation is accurate to ~1e-4 absolute well before
# dof 100, far tighter than any is-this-noise verdict needs
_WH_DOF_THRESHOLD = 10_000

# Abramowitz & Stegun 7.1.26 erf coefficients (|error| <= 1.5e-7) —
# used by BOTH the scalar and vectorized paths so they agree exactly
# (numpy ships no erfc and scipy is not in the container)
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _erfc_as(x: float) -> float:
    """Scalar erfc via A&S 7.1.26 (same polynomial as the vectorized
    version, so scalar/vectorized chi2_sf agree bit-for-bit)."""
    import math

    ax = abs(x)
    t = 1.0 / (1.0 + _ERF_P * ax)
    poly = t * (
        _ERF_A[0]
        + t * (_ERF_A[1] + t * (_ERF_A[2] + t * (_ERF_A[3] + t * _ERF_A[4])))
    )
    e = poly * math.exp(-ax * ax)
    return e if x >= 0 else 2.0 - e


def _chi2_sf_wh(chi2: float, dof: float) -> float:
    """Wilson-Hilferty: (X/dof)^(1/3) ~ Normal(1 - 2/(9 dof),
    2/(9 dof)); sf = 0.5 * erfc(z / sqrt(2))."""
    import math

    s = 2.0 / (9.0 * dof)
    z = ((chi2 / dof) ** (1.0 / 3.0) - (1.0 - s)) / math.sqrt(s)
    return max(0.0, min(1.0, 0.5 * _erfc_as(z / math.sqrt(2.0))))


def chi2_sf(chi2: float, dof: int) -> float:
    """Survival function (upper-tail p-value) of the chi-square
    distribution: Q(dof/2, chi2/2) — the regularized upper incomplete
    gamma via the standard series (x < a+1) / Lentz continued fraction
    (x >= a+1) split (the public gammp/gammq algorithm). Pure Python,
    double precision; used driver-side on tiny drift-score relations
    (categorical drift's chi2 grows with sample size, so the p-value —
    not the raw statistic — is the sample-size-aware verdict knob).
    Iteration caps scale with dof (see _iter_caps); returns NaN on
    non-convergence rather than a silently truncated value. Validated
    in tests against published chi-square critical values."""
    import math

    if dof <= 0:
        raise ValueError(f"dof must be positive, got {dof}")
    if chi2 <= 0:
        return 1.0
    if dof > _WH_DOF_THRESHOLD:
        return _chi2_sf_wh(float(chi2), float(dof))
    a, x = dof / 2.0, chi2 / 2.0
    series_cap, cf_cap = _iter_caps(a)
    lg = math.lgamma(a)
    if x < a + 1.0:
        # P(a,x) by series; Q = 1 - P
        term = 1.0 / a
        total = term
        n = a
        for _ in range(series_cap):
            n += 1.0
            term *= x / n
            total += term
            if abs(term) < abs(total) * 1e-15:
                break
        else:
            return float("nan")
        p = total * math.exp(-x + a * math.log(x) - lg)
        return max(0.0, min(1.0, 1.0 - p))
    # Q(a,x) by modified-Lentz continued fraction
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, cf_cap):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    else:
        return float("nan")
    q = math.exp(-x + a * math.log(x) - lg) * h
    return max(0.0, min(1.0, q))


# Lanczos g=7 n=9 coefficients (the standard public approximation,
# ~15 significant digits for Re(z) > 0) — numpy ships no lgamma and
# scipy is not in the container, so the vectorized path needs its own
_LANCZOS_G7 = (
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7,
)


def _lgamma_np(z):
    """Vectorized ln Gamma(z) for z >= 0.5 (a = dof/2 >= 0.5 always
    here) via Lanczos; matches math.lgamma to ~1e-13 relative."""
    import numpy as np

    zm = np.asarray(z, dtype=np.float64) - 1.0
    x = np.full_like(zm, _LANCZOS_G7[0])
    for i in range(1, 9):
        x = x + _LANCZOS_G7[i] / (zm + i)
    t = zm + 7.5
    return 0.5 * np.log(2.0 * np.pi) + (zm + 0.5) * np.log(t) - t + np.log(x)


def chi2_sf_np(chi2, dof):
    """Vectorized chi2_sf over numpy arrays — the same series/Lentz
    split as the scalar, iterated over whole arrays with convergence
    masks (extra iterations past an element's convergence only shrink
    terms / hold delta at 1, so no per-element masking of the updates
    is needed). Invalid dof (<= 0 or NaN) and non-convergence yield
    NaN; chi2 <= 0 yields 1.0. Used by drift.with_chi2_pvalue so the
    pandas-UDF batch stays loop-free."""
    import numpy as np

    chi2 = np.asarray(chi2, dtype=np.float64)
    dof = np.asarray(dof, dtype=np.float64)
    out = np.full(chi2.shape, np.nan)
    valid = dof > 0  # False for NaN too
    out[valid & (chi2 <= 0)] = 1.0
    # large dof -> vectorized Wilson-Hilferty (same A&S erfc polynomial
    # as the scalar path); the exact iterative branches below would
    # need O(dof) iterations there
    wh = valid & (chi2 > 0) & (dof > _WH_DOF_THRESHOLD)
    if wh.any():
        s = 2.0 / (9.0 * dof[wh])
        z = ((chi2[wh] / dof[wh]) ** (1.0 / 3.0) - (1.0 - s)) / np.sqrt(s)
        zz = z / np.sqrt(2.0)
        az = np.abs(zz)
        t = 1.0 / (1.0 + _ERF_P * az)
        poly = t * (
            _ERF_A[0]
            + t * (_ERF_A[1] + t * (_ERF_A[2] + t * (_ERF_A[3] + t * _ERF_A[4])))
        )
        e = poly * np.exp(-az * az)
        erfc = np.where(zz >= 0, e, 2.0 - e)
        out[wh] = np.clip(0.5 * erfc, 0.0, 1.0)
    work = valid & (chi2 > 0) & ~wh  # NaN chi2 falls out -> stays NaN
    if not work.any():
        return out
    a = dof[work] / 2.0
    x = chi2[work] / 2.0
    lg = _lgamma_np(a)
    res = np.full(a.shape, np.nan)
    series_cap, cf_cap = _iter_caps(float(np.nanmax(a)))

    ser = x < a + 1.0
    if ser.any():
        as_, xs = a[ser], x[ser]
        with np.errstate(invalid="ignore", over="ignore", under="ignore"):
            term = 1.0 / as_
            total = term.copy()
            n = as_.copy()
            conv = np.zeros(as_.shape, dtype=bool)
            for _ in range(series_cap):
                n += 1.0
                term = term * (xs / n)
                total = total + term
                conv |= np.abs(term) < np.abs(total) * 1e-15
                if conv.all():
                    break
            p = total * np.exp(-xs + as_ * np.log(xs) - lg[ser])
            r = np.clip(1.0 - p, 0.0, 1.0)
        r[~conv] = np.nan
        res[ser] = r

    cf = ~ser
    if cf.any():
        ac, xc = a[cf], x[cf]
        tiny = 1e-300
        with np.errstate(invalid="ignore", over="ignore", under="ignore"):
            b = xc + 1.0 - ac
            c = np.full(ac.shape, 1.0 / tiny)
            d = 1.0 / b
            h = d.copy()
            conv = np.zeros(ac.shape, dtype=bool)
            for i in range(1, cf_cap):
                an = -i * (i - ac)
                b = b + 2.0
                d = an * d + b
                d = np.where(np.abs(d) < tiny, tiny, d)
                c = b + an / c
                c = np.where(np.abs(c) < tiny, tiny, c)
                d = 1.0 / d
                delta = d * c
                h = h * delta
                conv |= np.abs(delta - 1.0) < 1e-15
                if conv.all():
                    break
            q = np.clip(np.exp(-xc + ac * np.log(xc) - lg[cf]) * h, 0.0, 1.0)
        q[~conv] = np.nan
        res[cf] = q

    out[work] = res
    return out
