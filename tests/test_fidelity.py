"""Numeric fidelity pins: the reference quirks from SURVEY.md §2.5/§7 risk
register, exercised with hand-built frames containing NaN/±Inf/empty cases.

- final aggregator SKIPS NaN/Inf inputs (multi_field_aggregator.go:56-59)
- downsampler does NOT skip them (no check in its Add path), but its
  `if v < min` comparisons are NaN-blind -> NaN poisons sum/avg/stddev
  while min/max ignore it
- empty numeric input: sum->0, count->0, avg/min/max/first/last/stddev/pN
  -> NaN (:249-304)
- frac: NaN when n<2; first==0 -> 0 / +Inf / -Inf by sign of last (:279-292)
- strings/bools: counted by count(), invisible to numeric aggs (:50-54)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nexusbase_spark.datamodel import series_key_expr
from nexusbase_spark.functions.fidelity import AggSpec
from nexusbase_spark.operators import downsample, final_aggregate

NAN, INF = float("nan"), float("inf")


def _keyed(df):
    return df.withColumn("series_key", series_key_expr(F.col("metric"), F.col("tags")))


def _pts(spark, rows):
    """rows: (ts, value) on one series."""
    df = spark.createDataFrame(
        [("m", {"h": "a"}, int(ts), i, v) for i, (ts, v) in enumerate(rows)],
        "metric string, tags map<string,string>, ts long, seq long, value double")
    return _keyed(df)


def _one(df):
    return df.collect()[0]


def test_final_agg_skips_nan_inf(spark):
    df = _pts(spark, [(1, 1.0), (2, NAN), (3, INF), (4, 3.0)])
    r = _one(final_aggregate(df, [AggSpec("count", "value"), AggSpec("sum", "value"),
                                  AggSpec("avg", "value"), AggSpec("max", "value"),
                                  AggSpec("first", "value"), AggSpec("last", "value")]))
    # count() is any-non-null so NaN/Inf still count; numeric aggs skip them
    assert r["count_value"] == 4
    assert r["sum_value"] == 4.0
    assert r["avg_value"] == 2.0
    assert r["max_value"] == 3.0
    assert (r["first_value"], r["last_value"]) == (1.0, 3.0)


def test_downsampler_keeps_nan_inf(spark):
    df = _pts(spark, [(1, 1.0), (2, NAN), (3, INF), (4, 3.0)])
    r = _one(downsample(df, 1_000, [AggSpec("sum", "value"), AggSpec("avg", "value"),
                                    AggSpec("min", "value"), AggSpec("max", "value")]))
    # NaN poisons sum/avg (float64 accumulation), Inf flows through
    assert math.isnan(r["sum_value"]) and math.isnan(r["avg_value"])
    # ...but the `if v < min` comparisons never admit NaN; Inf is comparable
    assert r["min_value"] == 1.0
    assert r["max_value"] == INF


def test_empty_numeric_results(spark):
    df = _pts(spark, [(1, None), (2, None)])
    r = _one(final_aggregate(df, [AggSpec("count", "value"), AggSpec("sum", "value"),
                                  AggSpec("avg", "value"), AggSpec("min", "value"),
                                  AggSpec("stddev", "value"), AggSpec("p95", "value"),
                                  AggSpec("first", "value"), AggSpec("frac", "value")]))
    assert r["count_value"] == 0 and r["sum_value"] == 0.0
    for c in ("avg_value", "min_value", "stddev_value", "p95_value",
              "first_value", "frac_value"):
        assert math.isnan(r[c]), c


def test_frac_branches(spark):
    # first==0, last>0 -> +Inf
    r = _one(final_aggregate(_pts(spark, [(1, 0.0), (2, 5.0)]), [AggSpec("frac", "value")]))
    assert r["frac_value"] == INF
    # first==0, last<0 -> -Inf
    r = _one(final_aggregate(_pts(spark, [(1, 0.0), (2, -5.0)]), [AggSpec("frac", "value")]))
    assert r["frac_value"] == -INF
    # first==0, last==0 -> 0
    r = _one(final_aggregate(_pts(spark, [(1, 0.0), (2, 0.0)]), [AggSpec("frac", "value")]))
    assert r["frac_value"] == 0.0
    # n<2 -> NaN
    r = _one(final_aggregate(_pts(spark, [(1, 7.0)]), [AggSpec("frac", "value")]))
    assert math.isnan(r["frac_value"])
    # normal: (last-first)/first
    r = _one(final_aggregate(_pts(spark, [(1, 2.0), (2, 5.0)]), [AggSpec("frac", "value")]))
    assert r["frac_value"] == 1.5


def test_stddev_n_below_2(spark):
    r = _one(final_aggregate(_pts(spark, [(1, 7.0)]), [AggSpec("stddev", "value")]))
    assert math.isnan(r["stddev_value"])
    r = _one(final_aggregate(_pts(spark, [(1, 1.0), (2, 3.0)]), [AggSpec("stddev", "value")]))
    assert r["stddev_value"] == pytest.approx(math.sqrt(2.0))


def test_strings_bools_counted_not_aggregated(spark):
    df = _keyed(spark.createDataFrame(
        [("m", {"h": "a"}, 1, 0, "hello", True),
         ("m", {"h": "a"}, 2, 1, "world", False)],
        "metric string, tags map<string,string>, ts long, seq long, s string, b boolean"))
    r = _one(final_aggregate(df, [AggSpec("count", "s"), AggSpec("count", "b"),
                                  AggSpec("sum", "s"), AggSpec("avg", "b")]))
    assert r["count_s"] == 2 and r["count_b"] == 2
    assert r["sum_s"] == 0.0            # no numeric values -> sum 0
    assert math.isnan(r["avg_b"])       # no numeric values -> NaN


def test_first_last_tie_break_by_series_then_seq(spark):
    """Equal ts: order is (ts, series_key, seq DESC) — iterator.go:41-63."""
    df = _keyed(spark.createDataFrame(
        [("m", {"h": "b"}, 10, 1, 100.0),
         ("m", {"h": "a"}, 10, 2, 200.0),   # same ts: series a < b -> first
         ("m", {"h": "a"}, 10, 3, 300.0)],  # same ts+series: seq desc -> 300 first
        "metric string, tags map<string,string>, ts long, seq long, value double"))
    r = _one(final_aggregate(df, [AggSpec("first", "value"), AggSpec("last", "value")]))
    assert r["first_value"] == 300.0  # a-series, highest seq wins the tie
    assert r["last_value"] == 100.0   # b-series sorts last at equal ts


def test_percentile_exact_and_approx(spark):
    df = _pts(spark, [(i, float(i)) for i in range(1, 101)])
    exact = _one(final_aggregate(df, [AggSpec("p95", "value")]))["p95_value"]
    assert exact == pytest.approx(95.05)  # interpolated exact percentile
    approx = _one(final_aggregate(df, [AggSpec("p95", "value")],
                                  percentile_impl="approx"))["p95_value"]
    assert 94.0 <= approx <= 96.0  # t-digest-like sketch tolerance
