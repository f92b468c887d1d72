"""Edge semantics of the time-series join + session operators
(operators/joins.py, operators/sessionize.py): inclusive ties, tolerance,
direction, band boundaries, exact-gap session continuation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from nexusbase_spark.operators import asof_join, range_band_join, sessionize


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_backward_inclusive_tie_and_tiebreak(spark):
    left = _df(spark, [("u", 10, 1)], "k string, ts long, lid long")
    right = _df(spark, [("u", 10, 1, "a"), ("u", 10, 2, "b"), ("u", 5, 3, "old")],
                "k string, ts long, seq long, v string")
    out = asof_join(left, right, on=["k"], right_cols=["v"],
                    right_tiebreak="seq").collect()
    assert len(out) == 1
    # equal-ts right row matches (inclusive) and highest seq wins the tie
    assert out[0]["v_r"] == "b"
    assert out[0]["ts_r"] == 10


def test_asof_no_prior_match_is_null(spark):
    left = _df(spark, [("u", 3, 1)], "k string, ts long, lid long")
    right = _df(spark, [("u", 5, 1, "later")], "k string, ts long, seq long, v string")
    row = asof_join(left, right, on=["k"], right_cols=["v"]).collect()[0]
    assert row["v_r"] is None and row["ts_r"] is None


def test_asof_tolerance_nulls_stale_match(spark):
    left = _df(spark, [("u", 100, 1), ("u", 12, 2)], "k string, ts long, lid long")
    right = _df(spark, [("u", 10, 1, "x")], "k string, ts long, seq long, v string")
    out = {r["lid"]: r for r in
           asof_join(left, right, on=["k"], right_cols=["v"],
                     tolerance_ns=5).collect()}
    assert out[1]["v_r"] is None          # gap 90 > 5 -> nulled
    assert out[2]["v_r"] == "x"           # gap 2 <= 5 -> kept
    assert out[2]["ts_r"] == 10


def test_asof_forward_picks_nearest_following(spark):
    left = _df(spark, [("u", 10, 1)], "k string, ts long, lid long")
    right = _df(spark, [("u", 8, 1, "past"), ("u", 12, 2, "next"), ("u", 20, 3, "far")],
                "k string, ts long, seq long, v string")
    row = asof_join(left, right, on=["k"], right_cols=["v"],
                    direction="forward").collect()[0]
    assert row["v_r"] == "next" and row["ts_r"] == 12


def test_asof_tagged_null_tag_rows_are_dropped(spark):
    """A NULL is_left tag must drop the row entirely — it must not become
    a phantom right-side row whose null payload still wins the as-of
    match and blanks ts_r for later left rows (ADVICE r9 #1)."""
    from nexusbase_spark.operators import asof_join_tagged

    src = _df(spark, [("u", 5, None, "real", 0),     # real right row
                      ("u", 8, None, None, None),    # NULL tag row at ts=8
                      ("u", 10, 1, None, 1)],        # left row at ts=10
              "k string, ts long, lid long, v string, side long")
    out = asof_join_tagged(
        src, F.when(F.col("side") == 1, True)
              .when(F.col("side") == 0, False),
        on=["k"], left_cols=["lid"], right_cols=["v"]).collect()
    assert len(out) == 1
    # the ts=5 right row matches; the null-tag ts=8 row did not shadow it
    assert out[0]["v_r"] == "real" and out[0]["ts_r"] == 5


def test_range_band_join_boundaries_and_cross_bucket(spark):
    left = _df(spark, [("u", 0, 100), ("u", 9, 101)], "k string, ts long, lseq long")
    right = _df(spark, [("u", 0, 200), ("u", 10, 201), ("u", 11, 202),
                        ("u", 15, 203), ("v", 5, 204)],
                "k string, ts long, rseq long")
    pairs = {(r["lseq"], r["rseq"])
             for r in range_band_join(left, right, on=["k"], window_ns=10).collect()}
    # left ts=0, window [0,10]: rseq 200 (ts 0, inclusive start) + 201 (ts 10,
    # inclusive end); 202 (ts 11) excluded. left ts=9, window [9,19]: 201, 202,
    # and 203 (ts 15: rb=1 vs lb=0 — matched through the exploded rb-1 tag).
    # Key 'v' never joins.
    assert pairs == {(100, 200), (100, 201), (101, 201), (101, 202), (101, 203)}


def test_sessionize_exact_gap_continues_strict_gap_splits(spark):
    gap = 10
    df = _df(spark, [("u", 0, 1), ("u", 10, 2), ("u", 21, 3), ("v", 0, 4)],
             "user string, ts long, seq long")
    out = {r["seq"]: r["session"]
           for r in sessionize(df, ["user"], gap_ns=gap).collect()}
    assert out[1] == 1
    assert out[2] == 1      # gap == gap_ns -> same session (strict >)
    assert out[3] == 2      # gap 11 > 10 -> new session
    assert out[4] == 1      # numbering restarts per key


def test_downsample_hopping_membership_and_tumbling_degeneration(spark):
    from nexusbase_spark.functions.fidelity import AggSpec
    from nexusbase_spark.operators import downsample

    rows = [("m", "m|", {}, 0, 1.0), ("m", "m|", {}, 19, 3.0), ("m", "m|", {}, 20, 5.0)]
    df = spark.createDataFrame(
        rows, "metric string, series_key string, tags map<string,string>, ts long, value double")
    specs = [AggSpec("count", "value"), AggSpec("sum", "value")]

    out = {r["window_start"]: r for r in
           downsample(df, 20, specs, slide=10).collect()}
    # ts=0 -> starts {-10, 0}; ts=19 -> {10}... ts in (start, start+20]?? No:
    # membership is start <= ts < start+20, starts in (ts-20, ts]:
    # ts=0 -> {-10, 0}; ts=19 -> {0, 10}; ts=20 -> {10, 20}.
    assert out[-10]["count_value"] == 1 and out[-10]["sum_value"] == 1.0
    assert out[0]["count_value"] == 2 and out[0]["sum_value"] == 4.0
    assert out[10]["count_value"] == 2 and out[10]["sum_value"] == 8.0
    assert out[20]["count_value"] == 1 and out[20]["sum_value"] == 5.0
    assert out[0]["window_end"] == 20

    # slide == size must reproduce the tumbling operator exactly
    hop = {(r["window_start"], r["count_value"], r["sum_value"])
           for r in downsample(df, 10, specs, slide=10).collect()}
    tum = {(r["window_start"], r["count_value"], r["sum_value"])
           for r in downsample(df, 10, specs).collect()}
    assert hop == tum


def test_rolling_agg_range_frame(spark):
    """RANGE frame rolls by TIME: a point 100ns later than the width is
    outside the window even if it is the adjacent row; equal-ts points
    are peers and see each other."""
    from nexusbase_spark.operators import rolling_agg

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 50, 3.0), ("a", 50, 5.0), ("a", 151, 7.0)],
        "user string, ts long, value double")
    out = {(r["ts"], r["value"]): (r["s"], r["n"]) for r in rolling_agg(
        df, ["user"], width_ns=100,
        funcs={"s": "sum:value", "n": "count:value"}).collect()}
    assert out[(0, 1.0)] == (1.0, 1)
    # equal-ts peers both included, plus ts=0 (within 100)
    assert out[(50, 3.0)] == (9.0, 3) and out[(50, 5.0)] == (9.0, 3)
    # 151 - 100 = 51 > 50: only itself
    assert out[(151, 7.0)] == (7.0, 1)


def test_series_delta_counter_reset(spark):
    from nexusbase_spark.operators import series_delta

    df = spark.createDataFrame(
        [("a", 1_000_000_000, 1, 10.0), ("a", 3_000_000_000, 2, 14.0),
         ("a", 5_000_000_000, 3, 4.0)],
        "user string, ts long, seq long, value double")
    rows = {r["seq"]: r for r in series_delta(
        df, ["user"], tiebreak="seq", counter_reset=True).collect()}
    assert rows[1]["delta"] is None and rows[1]["rate_per_s"] is None
    assert rows[2]["delta"] == 4.0 and rows[2]["rate_per_s"] == 2.0
    # drop 14 -> 4 is a reset: increase = raw value 4, over 2s
    assert rows[3]["delta"] == 4.0 and rows[3]["rate_per_s"] == 2.0


def test_fill_forward_locf(spark):
    from pyspark.sql import functions as F

    from nexusbase_spark.operators import fill_forward

    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 5.0), ("a", 3, None), ("a", 4, None),
         ("a", 5, 7.0), ("b", 1, None)],
        "user string, ts long, v double")
    got = {(r["user"], r["ts"]): r["v"]
           for r in fill_forward(df, ["user"], ["v"]).collect()}
    assert got[("a", 1)] is None          # nothing to carry yet
    assert got[("a", 3)] == 5.0 and got[("a", 4)] == 5.0
    assert got[("a", 5)] == 7.0
    assert got[("b", 1)] is None          # keys never bleed
    # NaN markers treated as missing via is_missing
    df2 = spark.createDataFrame([("a", 1, 2.0), ("a", 2, float("nan"))],
                                "user string, ts long, v double")
    got2 = {r["ts"]: r["v"] for r in fill_forward(
        df2, ["user"], ["v"], is_missing=F.isnan).collect()}
    assert got2[2] == 2.0


def test_fill_linear_interior_and_edges(spark):
    """Interior gaps interpolate time-weighted; edges (no observation on
    one side) stay NULL; keys never bleed."""
    from nexusbase_spark.operators import fill_linear

    df = spark.createDataFrame(
        [("a", 0, None), ("a", 10, 1.0), ("a", 20, None), ("a", 40, 7.0),
         ("a", 50, None), ("b", 0, None)],
        "user string, ts long, v double")
    got = {(r["user"], r["ts"]): r["v"]
           for r in fill_linear(df, ["user"], "v").collect()}
    assert got[("a", 0)] is None               # leading edge: no left anchor
    assert got[("a", 10)] == 1.0               # observations pass through
    # ts=20 sits 1/3 of the way from 10 to 40: 1 + (7-1)/3 = 3
    assert got[("a", 20)] == 3.0
    assert got[("a", 50)] is None              # trailing edge: no right anchor
    assert got[("b", 0)] is None


def test_zscore_flag_semantics(spark):
    """z computed against the series' own mean/stddev; constant series
    (sd=0) and singleton series (sd NULL) never flag."""
    from nexusbase_spark.operators import zscore_flag

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 100.0),
         ("c", 5.0), ("c", 5.0), ("s", 9.0)],
        "user string, value double")
    rows = zscore_flag(df, ["user"], threshold=1.5).collect()
    flagged = {(r["user"], r["value"]) for r in rows if r["is_outlier"]}
    assert flagged == {("a", 100.0)}
    for r in rows:
        if r["user"] in ("c", "s"):
            assert r["zscore"] is None and not r["is_outlier"]


def test_robust_zscore_resists_masking(spark):
    """A wild point that masks itself from the classic z-score (it drags
    mean and stddev with it) is still caught by the MAD form; constant
    and MAD-0 series never flag."""
    from nexusbase_spark.operators import robust_zscore_flag, zscore_flag

    vals = [10.0, 10.5, 9.8, 10.2, 9.9, 10.1, 10.3, 500.0]
    df = spark.createDataFrame([("a", v) for v in vals] + [("c", 5.0)] * 4,
                               "user string, value double")
    robust = {(r["user"], r["value"]) for r in
              robust_zscore_flag(df, ["user"]).collect() if r["is_outlier"]}
    assert robust == {("a", 500.0)}
    # classic z needs |x-mean| > 3.5 sd; the outlier inflates sd to ~173,
    # putting its own z at ~2.3 — masked
    classic = {(r["user"], r["value"]) for r in
               zscore_flag(df, ["user"], threshold=3.5).collect()
               if r["is_outlier"]}
    assert ("a", 500.0) not in classic


def test_seasonal_count_outliers_phase_baseline(spark):
    """An hour anomalous against its own phase (hour-of-day) is flagged
    even when its count is unremarkable globally; constant phases never
    alert (sigma=0 filtered); unobserved hours emit no row."""
    from nexusbase_spark.operators.timeseries import seasonal_count_outliers
    H = 3_600_000_000_000
    rows = []
    sid = 0
    # 10 days, phase 0 has ~2 events/day except day 9 with 40 (anomaly);
    # phase 1 constant at 3/day (sigma 0 -> never flags)
    for day in range(10):
        n0 = 40 if day == 9 else 2 + (day % 2)
        for i in range(n0):
            rows.append(("m", day * 24 * H + i, sid)); sid += 1
        for i in range(3):
            rows.append(("m", day * 24 * H + H + i, sid)); sid += 1
    df = spark.createDataFrame(rows, "metric string, ts long, seq long")
    out = seasonal_count_outliers(df, ["metric"], threshold=2.0).collect()
    flagged = {(r["metric"], r["bucket"]): r for r in out}
    assert ("m", 9 * 24) in flagged            # the anomalous phase-0 hour
    anom = flagged[("m", 9 * 24)]
    assert anom["cnt"] == 40 and anom["z"] > 2.0
    # nothing from the constant phase 1, nothing from unobserved hours
    assert all(b % 24 == 0 for (_m, b) in flagged)


def test_ewma_level_fold_order_and_seed(spark):
    """EWMA folds in (ts, seq) order seeded with the FIRST value —
    0.3*x + 0.7*acc over [10, 20, 40] = 0.3*40 + 0.7*(0.3*20 + 0.7*10)
    — and a single point returns itself. Ordering must hold however the
    rows are partitioned."""
    from nexusbase_spark.operators.timeseries import ewma_level
    rows = [("a", 3, 2, 40.0), ("a", 1, 0, 10.0), ("a", 2, 1, 20.0),
            ("b", 1, 0, 7.5)]
    df = spark.createDataFrame(rows, "k string, ts long, seq long, value double") \
        .repartition(4)
    got = {r["k"]: (r["n"], r["ewma"])
           for r in ewma_level(df, ["k"], 0.3).collect()}
    assert got["a"] == (3, pytest.approx(0.3 * 40 + 0.7 * (0.3 * 20 + 0.7 * 10),
                                         abs=1e-12))
    assert got["b"] == (1, 7.5)

    # NULL values are dropped before the fold: n matches the points
    # actually folded and one null cannot NaN the whole EWMA (ADVICE r3)
    rows_n = [("a", 1, 0, 10.0), ("a", 2, 1, None), ("a", 3, 2, 40.0)]
    dfn = spark.createDataFrame(rows_n, "k string, ts long, seq long, value double")
    got_n = {r["k"]: (r["n"], r["ewma"])
             for r in ewma_level(dfn, ["k"], 0.3).collect()}
    assert got_n["a"] == (2, pytest.approx(0.3 * 40 + 0.7 * 10, abs=1e-12))


def test_series_fold_guard_rejects_20m_point_series(spark):
    """The measured SCALE.md bound (OOM between 16M and 64M points per
    series at 16g) is ENFORCED, not just documented (VERDICT r5 #6): a
    20M-point single series must raise the guidance error from every
    sequential-fold operator BEFORE the collect_list/window job can OOM
    an executor. The guard's count job is the only thing that runs —
    this test finishes in seconds, which is itself the point."""
    from nexusbase_spark.operators.timeseries import (acf_lags,
                                                      ewma_level,
                                                      holt_backtest,
                                                      holt_linear)

    big = (spark.range(20_000_001)
           .selectExpr("'s' AS k", "id AS ts", "id AS seq",
                       "CAST(id % 7 AS DOUBLE) AS value"))
    for op in (lambda d: ewma_level(d, ["k"], 0.3),
               lambda d: holt_linear(d, ["k"], 0.4, 0.3),
               lambda d: holt_backtest(d, ["k"], 0.4, 0.3),
               lambda d: acf_lags(d, ["k"])):
        with pytest.raises(ValueError, match="max_points_per_series"):
            op(big)

    # the escape hatches: an explicit higher bound passes the guard (the
    # plan builds lazily — nothing executes here), and None skips it
    assert ewma_level(big, ["k"], 0.3,
                      max_points_per_series=30_000_000) is not None
    assert ewma_level(big, ["k"], 0.3,
                      max_points_per_series=None) is not None


def test_cusum_closed_form_matches_recursion(spark):
    """The window closed form (prefix sum minus running min) must equal
    the textbook recursion S_t = max(0, S_{t-1} + (x_t - mu - k))
    computed in plain Python on the same quantized mu/sigma, and a
    sustained small shift (never a z-score outlier) must alarm."""
    import math

    from nexusbase_spark.operators.timeseries import cusum_changepoints

    # 40 points at level 10 +/- small noise, then 40 at level 11:
    # the +1 sigma-scale drift accumulates
    vals = [10.0 + (0.2 if i % 2 else -0.2) for i in range(40)]
    vals += [11.0 + (0.2 if i % 2 else -0.2) for i in range(40)]
    rows = [("s", i, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "k string, ts long, seq long, value double").repartition(5)
    out = cusum_changepoints(df, ["k"], slack=0.5, threshold=4.0).collect()
    assert out, "sustained drift must alarm"
    # the post-shift half must raise UP alarms (the drift direction);
    # DOWN alarms in the below-mean first half are legitimate too (the
    # global-mean baseline makes a mid-series shift drift both sides)
    assert any(r["direction"] == "up" and r["ts"] >= 40 for r in out)

    # python recursion (both sides) on identically quantized parameters
    n = len(vals)
    mu = math.floor(sum(vals) / n * 1e6 + 0.5) / 1e6
    # sample stddev about the UNquantized mean, like stddev_samp
    m = sum(vals) / n
    var = sum((v - m) ** 2 for v in vals) / (n - 1)
    sigma = math.floor(math.sqrt(var) * 1e6 + 0.5) / 1e6
    k, h = 0.5 * sigma, 4.0 * sigma
    sp = sn = 0.0
    alarms = {}
    for i, v in enumerate(vals):
        sp = max(0.0, sp + (v - mu - k))
        sn = max(0.0, sn + (mu - v - k))
        if sp > h or sn > h:
            alarms[i] = (math.floor(sp * 1e4 + 0.5) / 1e4,
                         math.floor(sn * 1e4 + 0.5) / 1e4)
    got = {r["ts"]: (r["s_pos"], r["s_neg"]) for r in out}
    assert set(got) == set(alarms)
    for t in got:
        assert abs(got[t][0] - alarms[t][0]) < 1e-9, (t, got[t], alarms[t])
        assert abs(got[t][1] - alarms[t][1]) < 1e-9, (t, got[t], alarms[t])


def test_cusum_constant_series_never_alarms(spark):
    from nexusbase_spark.operators.timeseries import cusum_changepoints
    rows = [("c", i, i, 5.0) for i in range(30)]
    df = spark.createDataFrame(rows, "k string, ts long, seq long, value double")
    assert cusum_changepoints(df, ["k"]).count() == 0  # sigma=0 filtered


def test_acf_lags_hand_computation_and_degenerate(spark):
    """r_k equals the classical estimator on a hand series; constant
    series (zero variance) emits NULL r_k; ordering is (ts, seq)."""
    from nexusbase_spark.operators.timeseries import acf_lags

    rows = [("a", i + 1, i + 1, v) for i, v in enumerate([1.0, 2.0, 3.0, 4.0])]
    rows += [("const", i + 1, i + 1, 7.0) for i in range(4)]
    df = spark.createDataFrame(rows, "metric string, ts long, seq long, value double")
    out = {r["metric"]: r for r in
           acf_lags(df, ["metric"], max_lag=3, value_col="value").collect()}
    # series a: c = [-1.5,-.5,.5,1.5], den=5
    # r1 = (0.75-0.25+0.75)/5 = 0.25; r2 = (-0.75-0.75)/5 = -0.3; r3 = -2.25/5
    a = out["a"]
    assert a["n_pts"] == 4
    assert (a["r1"], a["r2"], a["r3"]) == (0.25, -0.3, -0.45)
    c = out["const"]
    assert c["r1"] is None and c["r2"] is None and c["r3"] is None


def test_series_linreg_exact_line_and_degenerates(spark):
    """A perfect line recovers slope/intercept/r2=1 exactly; constant y
    gives slope 0 with NULL r2; a single point gives NULL slope."""
    from nexusbase_spark.operators.timeseries import series_linreg

    day = 86400 * 10**9
    rows = [("line", i * day, 2.0 * i + 5.0) for i in range(5)]
    rows += [("flat", i * day, 3.0) for i in range(4)]
    rows += [("one", day, 9.0)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = {r["metric"]: r for r in series_linreg(df, ["metric"]).collect()}
    ln = out["line"]
    assert (ln["slope"], ln["intercept"], ln["r2"]) == (2.0, 5.0, 1.0)
    fl = out["flat"]
    assert fl["slope"] == 0.0 and fl["r2"] is None and fl["intercept"] == 3.0
    assert out["one"]["slope"] is None and out["one"]["n_pts"] == 1


def test_holt_linear_hand_recursion_and_trend_forecast(spark):
    """Holt fold equals the hand-stepped recurrence; a perfect linear
    series locks level/trend onto the line so forecast extrapolates it
    exactly; n<2 series are dropped."""
    from nexusbase_spark.operators.timeseries import holt_linear

    xs = [3.0, 5.0, 4.0, 8.0]
    rows = [("a", i + 1, i + 1, v) for i, v in enumerate(xs)]
    rows += [("line", i + 1, i + 1, 10.0 + 2.0 * i) for i in range(6)]
    rows += [("single", 1, 1, 7.0)]
    df = spark.createDataFrame(rows, "m string, ts long, seq long, value double")
    out = {r["m"]: r for r in
           holt_linear(df, ["m"], 0.4, 0.3, horizon=3).collect()}

    a, b = 0.4, 0.3
    l, t = xs[0], xs[1] - xs[0]
    for x in xs[1:]:
        ln = a * x + (1 - a) * (l + t)
        t = b * (ln - l) + (1 - b) * t
        l = ln
    got = out["a"]
    assert got["level"] == l and got["trend"] == t
    assert got["forecast"] == l + 3.0 * t and got["n"] == 4

    # on an exact line, l_t = x_t and b_t = slope at every step
    ln = out["line"]
    assert ln["level"] == 20.0 and ln["trend"] == 2.0
    assert ln["forecast"] == 26.0

    assert "single" not in out


def test_seasonal_decompose_identity_and_phase_sign(spark):
    """y - trend == seasonal + residual (quantization-tight) and an
    alternating series puts opposite-sign seasonal on the two phases."""
    from nexusbase_spark.operators.timeseries import seasonal_decompose

    rows = []
    for slot in range(6):
        n = 10 if slot % 2 == 0 else 20
        rows += [("m", slot * 100 + i) for i in range(n)]
    df = spark.createDataFrame(rows, "metric string, ts long")
    out = seasonal_decompose(df, ["metric"], interval_ns=100,
                             period=2, half=1).collect()
    assert len(out) == 6
    for r in out:
        assert abs((r["y"] - r["trend"]) - (r["seasonal"] + r["residual"])) \
            < 2e-4
    seas = {r["slot"] % 2: r["seasonal"] for r in out if 0 < r["slot"] < 5}
    assert seas[0] < 0 < seas[1]


def test_seasonal_decompose_value_mode(spark):
    """value_col mode decomposes slot MEANS instead of counts; identity
    holds within quantization."""
    from nexusbase_spark.operators.timeseries import seasonal_decompose

    rows = []
    for slot in range(4):
        base = 100.0 if slot % 2 == 0 else 200.0
        rows += [("m", slot * 10 + i, base + i) for i in range(3)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = seasonal_decompose(df, ["metric"], interval_ns=10, period=2,
                             half=1, value_col="value").collect()
    assert len(out) == 4
    ys = {r["slot"]: r["y"] for r in out}
    assert ys[0] == 101.0 and ys[1] == 201.0   # mean of base, base+1, base+2
    for r in out:
        assert abs((r["y"] - r["trend"]) - (r["seasonal"] + r["residual"])) \
            < 2e-4


def test_welch_t_hand_computation(spark):
    """The registered A/B shape reproduces the textbook Welch statistic
    on a hand-computed two-arm sample."""
    import math
    import statistics as st

    from nexusbase_spark.queries import all_queries
    import tempfile, os

    a_vals = [10.0, 12.0, 11.0, 13.0]   # users 0,2,4,6  (arm A)
    b_vals = [20.0, 19.0, 22.0]         # users 1,3,5    (arm B)
    rows = []
    eid = 0
    for i, v in enumerate(a_vals):
        rows.append((eid, 1_700_000_000_000_000 + eid, i * 2, "m1", v, "{}"))
        eid += 1
    for i, v in enumerate(b_vals):
        rows.append((eid, 1_700_000_000_000_000 + eid, i * 2 + 1, "m1", v, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string,"
              " value double, props string")
    d = tempfile.mkdtemp(prefix="welch_sf_")
    # the welch query never reads ts; any valid timestamp_ntz will do
    df.withColumn("ts", F.to_timestamp(F.lit("2024-01-05 00:00:00"))
                  .cast("timestamp_ntz")) \
        .write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = all_queries()["events_ab_welch"](spark, d).collect()
    row = out[0]
    t = (st.mean(a_vals) - st.mean(b_vals)) / math.sqrt(
        st.variance(a_vals) / len(a_vals) + st.variance(b_vals) / len(b_vals))
    assert row["n_a"] == 4 and row["n_b"] == 3
    assert row["welch_t"] == math.floor(t * 1e4 + 0.5) / 1e4


def test_session_paths_orders_within_session_and_caps_length(spark):
    """Paths are (ts, seq)-ordered within each gap-bounded session,
    capped at max_len, and identical paths from different users/sessions
    aggregate into one row."""
    from pyspark.sql import functions as F

    from nexusbase_spark.operators.sessionize import session_paths

    rows = []
    # user A: one session view>click>buy, then after a gap view>click
    for i, et in enumerate(["view", "click", "buy"]):
        rows.append(("a", 1_000 + i, i, et))
    rows += [("a", 1_000_000, 10, "view"), ("a", 1_001, 11, "click")]
    # ^ seq 11 at ts 1001 lands INSIDE session 1 by time order
    # user B: same first-session path as A's session 1 prefix
    for i, et in enumerate(["view", "click", "buy"]):
        rows.append(("b", 5_000 + i, 20 + i, et))
    df = spark.createDataFrame(
        rows, "user string, ts long, seq long, metric string")
    got = {r["path"]: r["n_sessions"]
           for r in session_paths(df, ["user"], gap_ns=1_000,
                                  max_len=2).collect()}
    # A session 1 = view,click,buy,click(ts 1001) -> time order
    # view(1000),click(1001,seq1),click(1001,seq11),buy(1002) capped at 2
    assert got == {"view>click": 2, "view": 1}
