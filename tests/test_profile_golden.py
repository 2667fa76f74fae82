"""Golden test for the per-column profile structs: every mode of
``column_profile_struct`` and ``sketch_state_struct``, and every path of
``profile()`` built on them, over one typed table must reproduce the
checked-in values exactly (doubles bit for bit, sketch bytes byte for
byte).

The table has three groups of different sizes and one column per
profiled type family: int, double (NaN and NULL, and a group holding
neither a number nor anything the KLL sketch keeps), decimal, string
(non-ASCII values, a group that is NULL throughout, a name with a
space), date, timestamp, boolean and bigint (a name with a quote). Its
input is one partition, so every aggregate merges its rows in one
order and the sketch bytes are deterministic.

Regenerate (only when a profile's values change on purpose):

    PYTHONPATH=. python tests/test_profile_golden.py --record
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
from decimal import Decimal

import pytest

from advanced_data_profile_spark.operators.stats import (
    column_profile_struct,
    profile,
    sketch_state_struct,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "profile_structs.json")

SCHEMA = (
    "g int, i int, d double, dec decimal(10,3), `s t` string, dt date, "
    "ts timestamp, b boolean, `it's` bigint"
)
COLUMNS = ["i", "d", "dec", "s t", "dt", "ts", "b", "it's"]
# two requested subsets: each splits a computed-together set
# (p25/p50/p75, min_str/max_str) and one asks for unique_ratio alone
SUBSETS = {
    "all": None,
    "f1": {"mean", "p50", "min_str", "unique_ratio", "has_non_ascii"},
    "f2": {"n_distinct", "stddev", "skewness", "kurtosis", "p75", "max_str",
           "max_length", "max_decimals"},
}
_D = {
    0: [1.5, float("nan"), None, -2.25, 1e-3, 3.0, 0.1, 7.75],
    1: [None, 2.5, 2.5],
    2: [float("nan"), None, float("nan"), None, float("nan")],
}
_S = {
    0: ["abc", "héllo", "", None, "zz top", "naïve", "a", "ASCII"],
    1: ["x", "yy", "日本"],
    2: [None] * 5,
}


def _rows() -> list[tuple]:
    out = []
    for g in (0, 1, 2):
        for k, (d, s) in enumerate(zip(_D[g], _S[g])):
            out.append((
                g,
                None if k == 1 else (k * 37 % 11) - 4,
                d,
                Decimal(f"{k * 1.125 - g:.3f}"),
                s,
                None if k == 3 else dt.date(2020, 1, 1) + dt.timedelta(days=13 * k + g),
                dt.datetime(2021, 3, 4, 5, 6, 7)
                + dt.timedelta(hours=5 * k + g, microseconds=123 * k),
                None if k == 4 else k % 3 == 0,
                10**12 * (k - g) + k,
            ))
    return out


def _enc(v):
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return v


def _melted(rows, prefix: str) -> list[list]:
    out = []
    for r in rows:
        for c in COLUMNS:
            s = r[f"{prefix}{c}"]
            out.append([r["g"], *[_enc(v) for v in s]])
    return sorted(out, key=lambda x: (x[0], x[1]))


def _profiled(df) -> list[list]:
    rows = [[_enc(v) for v in r] for r in df.collect()]
    return sorted(rows, key=lambda x: (-1 if x[0] is None else x[0], x[1]))


def compute(spark) -> dict[str, list]:
    df = spark.createDataFrame(_rows(), SCHEMA).coalesce(1)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    out: dict[str, list] = {}
    for mode, approx, with_q in (
        ("approx", True, True), ("exact", False, True), ("exact_noq", False, False),
    ):
        for name, fields in SUBSETS.items():
            agg = df.groupBy("g").agg(*[
                column_profile_struct(c, dtypes[c], approx, with_q, fields)
                for c in COLUMNS
            ])
            out[f"struct/{mode}/{name}"] = _melted(agg.collect(), "__p_")
    sk = df.groupBy("g").agg(*[sketch_state_struct(c, dtypes[c]) for c in COLUMNS])
    out["sketch"] = _melted(sk.collect(), "__sk_")
    for name, fields in SUBSETS.items():
        fl = sorted(fields) if fields is not None else None
        out[f"profile/approx_grouped/{name}"] = _profiled(
            profile(df, columns=COLUMNS, group_by="g", approx=True, fields=fl))
        out[f"profile/exact_grouped/{name}"] = _profiled(
            profile(df, columns=COLUMNS, group_by="g", approx=False, fields=fl))
        out[f"profile/exact/{name}"] = _profiled(
            profile(df, columns=COLUMNS, approx=False, fields=fl)
            .selectExpr("CAST(NULL AS INT) AS g", "*"))
    out["profile/approx/all"] = _profiled(
        profile(df, columns=COLUMNS, approx=True).selectExpr("CAST(NULL AS INT) AS g", "*"))
    return out


@pytest.fixture(scope="module")
def got(spark):
    return compute(spark)


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


def test_golden_covers_every_mode(got, golden):
    assert sorted(got) == sorted(golden)


@pytest.mark.parametrize("key", [
    *[f"struct/{m}/{s}" for m in ("approx", "exact", "exact_noq") for s in SUBSETS],
    "sketch",
    *[f"profile/{p}/{s}" for p in ("approx_grouped", "exact_grouped", "exact")
      for s in SUBSETS],
    "profile/approx/all",
])
def test_profile_matches_golden(got, golden, key):
    assert got[key] == golden[key]


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit(__doc__)
    from advanced_data_profile_spark.session import get_spark

    res = compute(get_spark(app_name="profile-golden", cores=8, shuffle_partitions=8))
    with open(GOLDEN, "w") as f:
        f.write("{\n" + ",\n".join(
            f"{json.dumps(k)}: [\n"
            + ",\n".join(json.dumps(r, ensure_ascii=False) for r in rows) + "\n]"
            for k, rows in sorted(res.items())
        ) + "\n}\n")
    print(f"wrote {GOLDEN}: {sum(len(v) for v in res.values())} rows")
