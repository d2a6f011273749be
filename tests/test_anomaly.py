"""Exact-median / MAD semantics (operators/anomaly.py): lower-median
tie handling, value-compression correctness vs a brute-force python
median, and the strict k·MAD flag edge.  The queries that compose them
(`customer_360`, `event_interarrival_stats`) are hash-oracled in
tests/test_oracle.py."""

from __future__ import annotations

from hainan_big_data_recommend_system_spark.operators.anomaly import (
    exact_group_median,
    robust_outliers,
)


def _lower_median(vals):
    s = sorted(vals)
    return s[(len(s) + 1) // 2 - 1]


def _df(spark, groups):
    rows = [
        (g, i, v)
        for g, vals in groups.items()
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "g string, rid long, v long")


def test_median_matches_brute_force_odd_even_and_duplicates(spark):
    groups = {
        "odd": [5, 1, 9],
        "even": [4, 1, 3, 2],          # lower median -> 2
        "dups": [7, 7, 7, 1, 2],
        "skewed": [1, 1, 1, 1, 100],
    }
    got = {
        r["g"]: r["median"]
        for r in exact_group_median(
            _df(spark, groups), ["g"], "v"
        ).collect()
    }
    assert got == {g: _lower_median(v) for g, v in groups.items()}


def test_outlier_flag_is_strict_and_exact(spark):
    # sorted [9,10,11,12,19]: median 11; deviations [2,1,0,1,8] ->
    # MAD (lower median) = 1: flagged iff dev > 3 -> only the 19
    groups = {"a": [10, 9, 11, 12, 19]}
    out = robust_outliers(_df(spark, groups), ["g"], "v").collect()
    assert [(r["v"], r["median_v"], r["mad_v"], r["deviation_v"])
            for r in out] == [(19, 11, 1, 8)]


def test_boundary_exactly_k_mads_not_flagged(spark):
    # dev == 3*MAD must NOT flag (strict >): median 10, MAD 1, v=13
    groups = {"a": [10, 9, 11, 13, 10, 11, 9]}
    out = robust_outliers(_df(spark, groups), ["g"], "v").collect()
    assert out == []


def test_zero_mad_flags_any_deviation(spark):
    # constant group -> MAD 0 -> any nonzero deviation flags
    groups = {"a": [5, 5, 5, 5, 6]}
    out = robust_outliers(_df(spark, groups), ["g"], "v").collect()
    assert [(r["v"], r["deviation_v"]) for r in out] == [(6, 1)]


def test_exact_quantiles_match_brute_force(spark):
    from hainan_big_data_recommend_system_spark.operators.anomaly import (
        exact_group_quantile,
    )

    import math

    vals = [7, 1, 9, 9, 3, 5, 11, 2, 8, 6, 4]  # n=11, with a tie
    df = _df(spark, {"a": vals})
    s = sorted(vals)
    for qn, qd in [(1, 2), (9, 10), (99, 100), (1, 100), (1, 1)]:
        got = exact_group_quantile(df, ["g"], "v", qn, qd, "q").collect()
        want = s[max(1, math.ceil(qn * len(s) / qd)) - 1]
        assert [(r["g"], r["q"]) for r in got] == [("a", want)], (qn, qd)
