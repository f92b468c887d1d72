"""Query registry: every entry pairs a Spark DataFrame builder with an
ANSI-SQL oracle string for DuckDB.

This is the correctness contract (driver: CORRECTNESS_r{N}.json). Cross-engine
conventions used throughout so value-hashes match:

- timestamps are compared as BIGINT epoch NANOSECONDS: Spark reads the
  driver's TIMESTAMP(NANOS) parquet as long ns (nanosAsLong); DuckDB uses
  ``epoch_ns(ts)``.
- every float output is ``round(x, 4)`` on BOTH sides (engines agree to well
  below 1e-4; rounding pins the hash).
- every computed column is aliased identically on both sides.
- md5 hex strings are the portable hash primitive (identical in both
  engines); numeric hashes derive from hex via conv/'0x' casts.

Registry entries are (spark_fn, oracle_sql | None). spark_fn: (spark, sf_dir)
-> DataFrame.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexusbase_spark.datamodel import load_points, load_table, source_ts_ns
from nexusbase_spark.functions.fidelity import AggSpec
from nexusbase_spark.operators import (
    apply_point_deletes,
    apply_range_deletes,
    apply_series_deletes,
    dedup_latest,
    downsample,
    final_aggregate,
    keyset_after,
    metric_filter,
    series_by_tags,
    show_metrics,
    show_tag_keys,
    show_tag_values,
    tag_filter,
    time_range,
)

# ---------------------------------------------------------------------------
# shared constants (identical on both engines)

NS = 1_000_000_000
DAY_NS = 86_400 * NS
HOUR_NS = 3_600 * NS
T1 = 1_704_412_800 * NS  # 2024-01-05T00:00:00Z
T2 = 1_705_708_800 * NS  # 2024-01-20T00:00:00Z

# canonical points projection for oracle SQL (matches datamodel.events_to_points)
POINTS_SQL = """
    SELECT event_type AS metric,
           CAST(user_id AS VARCHAR) AS user,
           (event_type || '|user=' || CAST(user_id AS VARCHAR)) AS series_key,
           epoch_ns(ts) AS ts,
           event_id AS seq,
           value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
"""

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn
    return deco


def _points_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points with the user tag flattened to a string column (oracle-friendly)."""
    return load_points(spark, sf_dir).withColumn("user", F.col("tags").getItem("user"))


def _r4(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 4))
    return df


# ---------------------------------------------------------------------------
# §2.2/2.3 scans + filters


@register("raw_scan_range_tag", f"""
    SELECT metric, user, ts, seq, value, k
    FROM ({POINTS_SQL})
    WHERE metric = 'click' AND user = '3' AND ts BETWEEN {T1} AND {T2}
""")
def q_raw_scan(spark, sf_dir):
    """QUERY click FROM T1 TO T2 TAGGED (user=3) — metric + conjunctive tag
    equality + inclusive time range (engine2/adapter.go:1103-1397)."""
    pts = _points_flat(spark, sf_dir)
    out = time_range(tag_filter(metric_filter(pts, "click"), {"user": "3"}), T1, T2)
    return out.select("metric", "user", "ts", "seq", "value", "k")


@register("point_get", f"""
    WITH p AS ({POINTS_SQL})
    SELECT metric, user, ts, seq, value
    FROM p
    WHERE metric = 'signup' AND user = '7'
      AND ts = (SELECT min(ts) FROM p WHERE metric = 'signup' AND user = '7')
""")
def q_point_get(spark, sf_dir):
    """gRPC Get: exact (metric, tags, ts) lookup (engine2/adapter.go:751-907)."""
    pts = _points_flat(spark, sf_dir)
    sel = tag_filter(metric_filter(pts, "signup"), {"user": "7"})
    ts0 = sel.agg(F.min("ts")).collect()[0][0]
    return time_range(sel, ts0, ts0).select("metric", "user", "ts", "seq", "value")


@register("subscribe_filter_prefix", f"""
    SELECT metric, user, ts, seq, value
    FROM ({POINTS_SQL})
    WHERE metric LIKE 'c%' AND user LIKE '1%'
""")
def q_subscribe_filter(spark, sf_dir):
    """Subscription filters: metric + tag-value PREFIX wildcards
    (engine2/pubsub.go:33-60, 'foo*'). Batch-mode equivalent of the
    streaming subscribe predicate."""
    pts = _points_flat(spark, sf_dir)
    out = pts.filter(F.col("metric").startswith("c") & F.col("user").startswith("1"))
    return out.select("metric", "user", "ts", "seq", "value")


# ---------------------------------------------------------------------------
# §2.5(a) final aggregation


@register("final_agg_basic", f"""
    SELECT count(*) AS "count_*",
           count(value) AS count_value,
           round(coalesce(sum(value), 0), 4) AS sum_value,
           round(avg(value), 4) AS avg_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           count(k) AS count_k,
           round(coalesce(sum(k), 0), 4) AS sum_k
    FROM ({POINTS_SQL})
    WHERE metric = 'purchase' AND ts BETWEEN {T1} AND {T2}
""")
def q_final_agg_basic(spark, sf_dir):
    """AGGREGATE (count(*), count/sum/avg/min/max(value), count/sum(k)) —
    across ALL matching series combined (engine2/adapter.go:1349-1364)."""
    pts = load_points(spark, sf_dir)
    sel = time_range(metric_filter(pts, "purchase"), T1, T2)
    out = final_aggregate(sel, [
        AggSpec("count", "*"), AggSpec("count", "value"), AggSpec("sum", "value"),
        AggSpec("avg", "value"), AggSpec("min", "value"), AggSpec("max", "value"),
        AggSpec("count", "k"), AggSpec("sum", "k"),
    ])
    return _r4(out, "sum_value", "avg_value", "min_value", "max_value", "sum_k")


@register("final_agg_firstlast", f"""
    WITH p AS (
        SELECT * FROM ({POINTS_SQL})
        WHERE metric = 'view' AND ts BETWEEN {T1} AND {T2}
    ),
    ordered AS (
        SELECT value,
               row_number() OVER (ORDER BY ts ASC, series_key ASC, seq DESC) AS rn_a,
               row_number() OVER (ORDER BY ts DESC, series_key DESC, seq ASC) AS rn_d
        FROM p WHERE value IS NOT NULL
    )
    SELECT round((SELECT value FROM ordered WHERE rn_a = 1), 4) AS first_value,
           round((SELECT value FROM ordered WHERE rn_d = 1), 4) AS last_value,
           round(((SELECT value FROM ordered WHERE rn_d = 1)
                  - (SELECT value FROM ordered WHERE rn_a = 1))
                 / (SELECT value FROM ordered WHERE rn_a = 1), 4) AS frac_value,
           round(stddev_samp(value), 4) AS stddev_value,
           round(quantile_cont(value, 0.50), 4) AS p50_value,
           round(quantile_cont(value, 0.95), 4) AS p95_value,
           round(quantile_cont(value, 0.99), 4) AS p99_value
    FROM p
""")
def q_final_agg_firstlast(spark, sf_dir):
    """first/last in global stream order (ts, series_key, seq desc —
    iterator/iterator.go:41-63), frac, sample stddev, exact percentiles
    (reference: t-digest, aggregator.go:81-86; exact here to match oracle)."""
    pts = load_points(spark, sf_dir)
    sel = time_range(metric_filter(pts, "view"), T1, T2)
    out = final_aggregate(sel, [
        AggSpec("first", "value"), AggSpec("last", "value"), AggSpec("frac", "value"),
        AggSpec("stddev", "value"),
        AggSpec("p50", "value"), AggSpec("p95", "value"), AggSpec("p99", "value"),
    ])
    return _r4(out, *out.columns)


@register("relative_range_agg", f"""
    WITH p AS (SELECT * FROM ({POINTS_SQL}) WHERE metric = 'purchase'),
    bounds AS (SELECT max(ts) AS e FROM p)
    SELECT count(*) AS "count_*",
           round(coalesce(sum(value), 0), 4) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM p, bounds
    WHERE p.ts BETWEEN bounds.e - {7 * DAY_NS} AND bounds.e
""")
def q_relative_range(spark, sf_dir):
    """FROM RELATIVE(7d): End anchors to the data's max ts
    (engine2/adapter.go:1236-1276 quirk), Start = End - dur."""
    from nexusbase_spark.operators import relative_range
    pts = metric_filter(load_points(spark, sf_dir), "purchase")
    sel = relative_range(pts, 7 * DAY_NS)
    out = final_aggregate(sel, [
        AggSpec("count", "*"), AggSpec("sum", "value"), AggSpec("avg", "value"),
    ])
    return _r4(out, "sum_value", "avg_value")


# ---------------------------------------------------------------------------
# §2.5(b) windowed downsampling


@register("downsample_1d", f"""
    SELECT metric, user,
           ts - (ts % {DAY_NS}) AS window_start,
           ts - (ts % {DAY_NS}) + {DAY_NS} AS window_end,
           count(*) AS "count_*",
           count(value) AS count_value,
           round(coalesce(sum(value), 0), 4) AS sum_value,
           round(avg(value), 4) AS avg_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM ({POINTS_SQL})
    WHERE metric = 'click' AND ts BETWEEN {T1} AND {T2}
    GROUP BY metric, user, window_start
""")
def q_downsample_1d(spark, sf_dir):
    """AGGREGATE BY 1d — epoch-aligned tumbling windows, grouped PER SERIES
    (multi_field_downsampling_iterator.go:109,190,265-268)."""
    pts = load_points(spark, sf_dir)
    sel = time_range(metric_filter(pts, "click"), T1, T2)
    out = downsample(sel, DAY_NS, [
        AggSpec("count", "*"), AggSpec("count", "value"), AggSpec("sum", "value"),
        AggSpec("avg", "value"), AggSpec("min", "value"), AggSpec("max", "value"),
    ])
    out = out.withColumn("user", F.col("tags").getItem("user"))
    out = out.select("metric", "user", "window_start", "window_end",
                     "count_*", "count_value", "sum_value", "avg_value",
                     "min_value", "max_value")
    return _r4(out, "sum_value", "avg_value", "min_value", "max_value")


@register("downsample_hopping", f"""
    WITH p AS (
        SELECT metric, user, ts, value FROM ({POINTS_SQL})
        WHERE metric = 'click' AND ts BETWEEN {T1} AND {T2}
    ),
    hopped AS (
        SELECT metric, user, value,
               unnest(range(((ts - {6 * HOUR_NS}) // {2 * HOUR_NS}) * {2 * HOUR_NS}
                              + {2 * HOUR_NS},
                            (ts // {2 * HOUR_NS}) * {2 * HOUR_NS} + 1,
                            {2 * HOUR_NS})) AS window_start
        FROM p
    )
    SELECT metric, user, window_start, window_start + {6 * HOUR_NS} AS window_end,
           count(value) AS count_value,
           round(avg(value), 4) AS avg_value,
           round(max(value), 4) AS max_value
    FROM hopped
    GROUP BY metric, user, window_start
""")
def q_downsample_hopping(spark, sf_dir):
    """Hopping (sliding) windows: 6h windows every 2h, per series — the
    window family the reference lacks (SURVEY.md §2.10); each point lands
    in exactly size/slide = 3 windows, enumerated narrowly before ONE
    (series, window) groupBy (operators/downsample.downsample, slide=)."""
    pts = load_points(spark, sf_dir)
    sel = time_range(metric_filter(pts, "click"), T1, T2)
    out = downsample(sel, 6 * HOUR_NS, [
        AggSpec("count", "value"), AggSpec("avg", "value"), AggSpec("max", "value"),
    ], slide=2 * HOUR_NS)
    out = out.withColumn("user", F.col("tags").getItem("user"))
    out = out.select("metric", "user", "window_start", "window_end",
                     "count_value", "avg_value", "max_value")
    return _r4(out, "avg_value", "max_value")


@register("downsample_firstlast", f"""
    WITH p AS (
        SELECT *, ts - (ts % {DAY_NS}) AS window_start
        FROM ({POINTS_SQL})
        WHERE metric = 'view' AND ts BETWEEN {T1} AND {T2}
    ),
    o AS (
        SELECT *,
               row_number() OVER (PARTITION BY user, window_start
                                  ORDER BY ts ASC, seq DESC) AS rn_a,
               row_number() OVER (PARTITION BY user, window_start
                                  ORDER BY ts DESC, seq ASC) AS rn_d
        FROM p WHERE value IS NOT NULL
    )
    SELECT user, window_start,
           round(max(CASE WHEN rn_a = 1 THEN value END), 4) AS first_value,
           round(max(CASE WHEN rn_d = 1 THEN value END), 4) AS last_value,
           round(stddev_samp(value), 4) AS stddev_value
    FROM o
    GROUP BY user, window_start
    HAVING count(value) >= 2
""")
def q_downsample_firstlast(spark, sf_dir):
    """Per-window first/last (stream order) + stddev; windows with n<2
    filtered out (reference yields NaN there — NaN fidelity is pinned in
    tests/test_fidelity.py; the oracle pair avoids NaN cells)."""
    pts = load_points(spark, sf_dir)
    sel = time_range(metric_filter(pts, "view"), T1, T2)
    out = downsample(sel, DAY_NS, [
        AggSpec("first", "value"), AggSpec("last", "value"),
        AggSpec("stddev", "value"), AggSpec("count", "value"),
    ])
    out = out.filter(F.col("count_value") >= 2)
    out = out.withColumn("user", F.col("tags").getItem("user"))
    out = out.select("user", "window_start", "first_value", "last_value", "stddev_value")
    return _r4(out, "first_value", "last_value", "stddev_value")


@register("downsample_emit_empty", f"""
    WITH grid AS (
        SELECT u.user, g.window_start
        FROM (SELECT DISTINCT CAST(user_id AS VARCHAR) AS user
              FROM events WHERE event_type = 'signup') u
        CROSS JOIN (SELECT unnest(generate_series({T1}, {T2 - 1}, {DAY_NS})) AS window_start) g
    ),
    agg AS (
        SELECT user, ts - (ts % {DAY_NS}) AS window_start,
               count(*) AS cnt, coalesce(sum(value), 0) AS sv
        FROM ({POINTS_SQL})
        WHERE metric = 'signup' AND ts BETWEEN {T1} AND {T2}
        GROUP BY user, window_start
    )
    SELECT grid.user, grid.window_start,
           CAST(coalesce(agg.cnt, 0) AS DOUBLE) AS "count_*",
           round(coalesce(agg.sv, 0), 4) AS sum_value
    FROM grid LEFT JOIN agg USING (user, window_start)
""")
def q_downsample_emit_empty(spark, sf_dir):
    """EMIT EMPTY WINDOWS: dataless windows emitted with count/sum = 0
    (multi_field_downsampling_iterator.go:305-333; per-series emission —
    documented divergence from the reference's last-seen-series quirk)."""
    pts = load_points(spark, sf_dir)
    matched = metric_filter(pts, "signup")
    sel = time_range(matched, T1, T2)
    # series grid from the RANGE-UNFILTERED match: a user whose signups
    # all fall outside [T1, T2] still emits empty windows (tag-index
    # series resolution is range-independent in the reference)
    out = downsample(sel, DAY_NS, [AggSpec("count", "*"), AggSpec("sum", "value")],
                     emit_empty=True, q_start=T1, q_end=T2,
                     series_universe=matched)
    out = out.withColumn("user", F.col("tags").getItem("user"))
    out = out.select("user", "window_start",
                     F.col("count_*").cast("double").alias("count_*"), "sum_value")
    return _r4(out, "sum_value")


@register("downsample_p95_stddev", f"""
    SELECT user,
           ts - (ts % {DAY_NS}) AS window_start,
           round(quantile_cont(value, 0.95), 4) AS p95_value,
           round(stddev_samp(value), 4) AS stddev_value,
           count(value) AS count_value
    FROM ({POINTS_SQL})
    WHERE metric = 'purchase' AND ts BETWEEN {T1} AND {T2}
    GROUP BY user, window_start
    HAVING count(value) >= 2
""")
def q_downsample_p95(spark, sf_dir):
    """Percentile + stddev inside tumbling windows (the downsampler accepts
    the same function set as final aggregation —
    multi_field_downsampling_iterator.go:348-417)."""
    pts = load_points(spark, sf_dir)
    sel = time_range(metric_filter(pts, "purchase"), T1, T2)
    out = downsample(sel, DAY_NS, [
        AggSpec("p95", "value"), AggSpec("stddev", "value"), AggSpec("count", "value"),
    ])
    out = out.filter(F.col("count_value") >= 2)
    out = out.withColumn("user", F.col("tags").getItem("user"))
    out = out.select("user", "window_start", "p95_value", "stddev_value", "count_value")
    return _r4(out, "p95_value", "stddev_value")


@register("downsample_p95_tdigest", f"""
    SELECT user,
           ts - (ts % {DAY_NS}) AS window_start,
           round(quantile_cont(value, 0.95), 4) AS p95_value,
           count(value) AS count_value
    FROM ({POINTS_SQL})
    WHERE metric = 'purchase' AND ts BETWEEN {T1} AND {T2}
    GROUP BY user, window_start
    HAVING count(value) >= 2
""")
def q_downsample_p95_tdigest(spark, sf_dir):
    """Percentile through the t-digest sketch (strict parity with the
    reference's go-tdigest accumulator — aggregator.go:23,81-86;
    functions/tdigest.py). Shares the exact path's DuckDB oracle because
    per-(user, day) groups here are far below 2·compression values, where
    the digest's AVL interpolation IS closest-rank linear interpolation
    (the estimator quantile_cont uses); mixed spec list exercises the
    pandas/JVM split-and-join."""
    pts = load_points(spark, sf_dir)
    sel = time_range(metric_filter(pts, "purchase"), T1, T2)
    out = downsample(sel, DAY_NS, [
        AggSpec("p95", "value"), AggSpec("count", "value"),
    ], percentile_impl="tdigest")
    out = out.filter(F.col("count_value") >= 2)
    out = out.withColumn("user", F.col("tags").getItem("user"))
    out = out.select("user", "window_start", "p95_value", "count_value")
    return _r4(out, "p95_value")


@register("percentile_rollup_merged", f"""
    SELECT user,
           round(quantile_cont(value, 0.95), 4) AS p95_value,
           count(value) AS n
    FROM ({POINTS_SQL})
    WHERE metric = 'purchase' AND ts BETWEEN {T1} AND {T2}
    GROUP BY user
    HAVING count(value) >= 2
""")
def q_percentile_rollup_merged(spark, sf_dir):
    """MERGEABLE percentile rollup: per-(user, day) t-digests materialized
    once, then the whole-range per-user p95 is a merge of the day digests
    (functions/tdigest.tdigest_group_digests / tdigest_rollup_quantile) —
    never a raw-value re-scan. The warehouse elevation of the reference's
    per-emit go-tdigest (iterator/multi_field_aggregator.go:23,81-86):
    percentiles join sums/counts as rollup-servable aggregates.
    Shares the exact quantile_cont oracle because compression 400 keeps
    every centroid a singleton at these group sizes (AVL interpolation ==
    closest-rank linear — see downsample_p95_tdigest); beyond the
    singleton regime the documented ~1/delta rank error applies."""
    from nexusbase_spark.functions.tdigest import (
        tdigest_group_digests, tdigest_rollup_quantile)
    pts = load_points(spark, sf_dir)
    sel = time_range(metric_filter(pts, "purchase"), T1, T2)
    sel = sel.withColumn("user", F.col("tags").getItem("user")) \
             .withColumn("day", (F.col("ts") - F.col("ts") % F.lit(DAY_NS)))
    day_digests = tdigest_group_digests(sel, ["user", "day"], "value",
                                        compression=400)
    out = tdigest_rollup_quantile(day_digests, ["user"], 0.95,
                                  out_col="p95_value", compression=400)
    out = out.filter(F.col("n") >= 2).select("user", "p95_value", "n")
    return _r4(out, "p95_value")


@register("lineitem_p95_tdigest_rank_bound", """
    SELECT l_returnflag,
           CAST(count(l_extendedprice) AS BIGINT) AS n,
           CAST(count(DISTINCT date_trunc('month', l_shipdate)) AS BIGINT)
               AS n_shards,
           floor(quantile_cont(l_extendedprice, 0.95) * 1e4 + 0.5) / 1e4
               AS exact_p95,
           TRUE AS within_rank_bound
    FROM lineitem
    GROUP BY l_returnflag
""")
def q_lineitem_p95_tdigest_rank_bound(spark, sf_dir):
    """T-digest in its APPROXIMATE regime behind the hash gate — the
    bounded-error pattern of the round-8 HLL gates applied to the third
    mergeable sketch (downsample_p95_tdigest / percentile_rollup_merged
    gate the singleton-exact regime, where the digest IS closest-rank
    interpolation; this query compresses for real): per-(returnflag,
    ship-month) digests at compression 50 (~83 shards x ~200-330 merged
    centroids vs n up to 200k values — centroids << n at every SF, so
    the ~1/delta rank error is live), rolled up per returnflag, then the
    estimate's actual RANK in the raw data is compared to q:
    ``within_rank_bound`` = |rank(est)/n - 0.95| <= 0.005, asserted TRUE
    by the oracle (measured dev <= 4.6e-4 tri-SF — 10x margin; the
    bound is rank-space, the space t-digest's guarantee lives in, so no
    distribution assumption). exact_p95 (floor-4dp-quantized both
    engines) and n/n_shards anchor the group shapes. Scale shape: the
    rollup BUILD shuffles raw values once (like any downsample); the
    merge + rank probe then move KB digests and a broadcast 3-row join
    — any wider time range re-aggregates persisted month digests, never
    values."""
    from nexusbase_spark.functions.tdigest import (
        tdigest_group_digests, tdigest_rollup_quantile)

    li = load_table(spark, sf_dir, "lineitem")
    base = (li.select("l_returnflag",
                      F.col("l_extendedprice").cast("double").alias("v"),
                      F.date_trunc("month", F.col("l_shipdate")).alias("m"))
            .localCheckpoint(eager=True))  # digests + exact + rank, one scan
    digs = tdigest_group_digests(base, ["l_returnflag", "m"], "v",
                                 compression=50)
    roll = tdigest_rollup_quantile(digs, ["l_returnflag"], 0.95,
                                   out_col="td_p95", compression=50)
    stats = base.groupBy("l_returnflag").agg(
        F.count("v").alias("n"),
        F.countDistinct("m").cast("long").alias("n_shards"),
        F.expr("percentile(v, 0.95)").alias("exact_raw"))
    # roll is tdigest_rollup_quantile's per-returnflag output (3 rows;
    # lint: k-row — the groupBy/agg reduction lives inside the helper)
    rank = (base.join(F.broadcast(roll.select("l_returnflag", "td_p95")),
                      "l_returnflag")
            .groupBy("l_returnflag")
            .agg((F.sum(F.when(F.col("v") <= F.col("td_p95"), 1)
                        .otherwise(0)) / F.count("v")).alias("td_rank")))
    return (stats.join(rank, "l_returnflag")
            .select("l_returnflag", "n", "n_shards",
                    (F.floor(F.col("exact_raw") * 1e4 + F.lit(0.5)) / 1e4)
                    .alias("exact_p95"),
                    (F.abs(F.col("td_rank") - F.lit(0.95)) <= F.lit(0.005))
                    .alias("within_rank_bound")))


@register("multi_tag_scan", f"""
    SELECT metric, user, kb, ts, seq, value
    FROM (SELECT event_type AS metric,
                 CAST(user_id AS VARCHAR) AS user,
                 CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS VARCHAR) AS kb,
                 epoch_ns(ts) AS ts, event_id AS seq, value
          FROM events)
    WHERE metric = 'view' AND user = '7' AND kb = '2'
""")
def q_multi_tag_scan(spark, sf_dir):
    """Conjunctive multi-tag AND (the tag-index bitmap intersection across
    MULTIPLE predicates — indexer/tag_index_manager2.go:253-275), on a
    two-tag points mapping (user + k-bucket)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_type").alias("metric"),
        F.create_map(
            F.lit("user"), F.col("user_id").cast("string"),
            F.lit("kb"), (F.get_json_object("props", "$.k").cast("long") % 4).cast("string"),
        ).alias("tags"),
        source_ts_ns(ev).alias("ts"), F.col("ts").alias("__raw_ts"),
        F.col("event_id").cast("long").alias("seq"), F.col("value"),
    )
    out = tag_filter(metric_filter(pts, "view"), {"user": "7", "kb": "2"})
    return out.select(
        "metric", F.col("tags")["user"].alias("user"), F.col("tags")["kb"].alias("kb"),
        "ts", "seq", "value")


# ---------------------------------------------------------------------------
# §1.4/2.3 MVCC + tombstones


@register("mvcc_dedup_latest", f"""
    SELECT user, ts, seq, value
    FROM (SELECT user, ts - (ts % {DAY_NS}) AS ts, seq, value FROM ({POINTS_SQL})
          WHERE metric = 'error')
    QUALIFY row_number() OVER (PARTITION BY user, ts ORDER BY seq DESC) = 1
""")
def q_mvcc_dedup(spark, sf_dir):
    """MVCC last-write-wins: same (series, ts) resolves to highest seq
    (iterator/iterator.go:61-62,270-289). Day-truncated ts manufactures
    version collisions out of the events table."""
    pts = _points_flat(spark, sf_dir)
    sel = metric_filter(pts, "error").withColumn("ts", F.col("ts") - F.col("ts") % F.lit(DAY_NS))
    out = dedup_latest(sel)
    return out.select("user", "ts", "seq", "value")


@register("tombstone_series", f"""
    SELECT user, ts, seq, value
    FROM ({POINTS_SQL})
    WHERE metric = 'error'
      AND NOT (CAST(user AS BIGINT) <= 4 AND seq <= 500)
""")
def q_tombstone_series(spark, sf_dir):
    """Series tombstone with seq cutoff: users 0..4 of metric 'error'
    deleted at seq=500; later re-pushes (seq>500) stay visible
    (engine2/adapter.go:950-1030)."""
    pts = _points_flat(spark, sf_dir)
    sel = metric_filter(pts, "error")
    # spark.range, not createDataFrame: a python-list DF plans as a
    # Python-RDD scan (slow extra job); this stays pure-JVM
    deletes = spark.range(5).select(
        F.concat(F.lit("error|user="), F.col("id")).alias("series_key"),
        F.lit(500).cast("long").alias("seq"))
    out = apply_series_deletes(sel, deletes)
    return out.select("user", "ts", "seq", "value")


@register("tombstone_point", f"""
    WITH p AS (SELECT * FROM ({POINTS_SQL}) WHERE metric = 'error')
    SELECT user, ts, seq, value FROM p
    WHERE NOT (user = '5' AND value < 50)
""")
def q_tombstone_point(spark, sf_dir):
    """Point tombstones at exact (series, ts): delete every point of
    error|user=5 with value<50 at its own seq (iterator/iterator.go:196-198)."""
    pts = _points_flat(spark, sf_dir)
    sel = metric_filter(pts, "error")
    deletes = (
        tag_filter(sel, {"user": "5"})
        .filter(F.col("value") < 50)
        .select("series_key", "ts", "seq")
    )
    out = apply_point_deletes(sel, deletes)
    return out.select("user", "ts", "seq", "value")


@register("tombstone_range", f"""
    SELECT user, ts, seq, value
    FROM ({POINTS_SQL})
    WHERE metric = 'click'
      AND NOT (ts BETWEEN {T1} AND {T2} AND seq <= 700)
""")
def q_tombstone_range(spark, sf_dir):
    """Range tombstone [T1,T2] inclusive with seq cutoff 700 on every click
    series (engine2/adapter.go:2773-2791)."""
    pts = _points_flat(spark, sf_dir)
    sel = metric_filter(pts, "click")
    series = sel.select("series_key").distinct()
    deletes = series.select(
        "series_key", F.lit(T1).alias("min_ts"), F.lit(T2).alias("max_ts"),
        F.lit(700).cast("long").alias("seq"))
    out = apply_range_deletes(sel, deletes)
    return out.select("user", "ts", "seq", "value")


# ---------------------------------------------------------------------------
# §2.12 metadata (SHOW …) + series listing


@register("show_metrics", "SELECT DISTINCT event_type AS metric FROM events ORDER BY metric")
def q_show_metrics(spark, sf_dir):
    return show_metrics(load_points(spark, sf_dir))


@register("show_tag_keys", """
    SELECT 'user' AS tag_key
""")
def q_show_tag_keys(spark, sf_dir):
    """SHOW TAG KEYS FROM view (api/nbql/executor.go:207-234; real impl,
    unlike the engine2 stubs at engine2/adapter.go:1768-1775)."""
    return show_tag_keys(load_points(spark, sf_dir), "view")


@register("show_tag_values", """
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS tag_value
    FROM events WHERE event_type = 'view' ORDER BY tag_value
""")
def q_show_tag_values(spark, sf_dir):
    return show_tag_values(load_points(spark, sf_dir), "user", "view")


@register("series_by_tags", """
    SELECT DISTINCT (event_type || '|user=' || CAST(user_id AS VARCHAR)) AS series_key
    FROM events WHERE event_type = 'purchase' ORDER BY series_key
""")
def q_series_by_tags(spark, sf_dir):
    return series_by_tags(load_points(spark, sf_dir), "purchase")


# ---------------------------------------------------------------------------
# §2.7 ordering / limit / cursor


@register("cursor_page", f"""
    SELECT metric, user, ts, seq, value
    FROM ({POINTS_SQL})
    WHERE metric = 'view'
      AND (ts > {T1} OR (ts = {T1} AND series_key > 'view|user=5')
           OR (ts = {T1} AND series_key = 'view|user=5' AND seq < 1000000000))
    ORDER BY ts ASC, series_key ASC, seq DESC
    LIMIT 100
""")
def q_cursor_page(spark, sf_dir):
    """Keyset pagination: strictly-after (ts, series_key, seq) cursor + LIMIT
    (iterator/skipping_iterator.go:28-48; LIMIT enforced here, improving on
    engine2 — SURVEY.md §2.7). Compiles to TakeOrderedAndProject (distributed
    top-K, no global sort)."""
    from nexusbase_spark.operators import order_points
    pts = _points_flat(spark, sf_dir)
    sel = metric_filter(pts, "view")
    sel = keyset_after(sel, (T1, "view|user=5", 1_000_000_000))
    return order_points(sel).limit(100).select("metric", "user", "ts", "seq", "value")


# The driver witnesses queries in registry iteration order and caps the run
# at 50 rows, so iteration order IS the correctness-gate coverage policy.
# Round-8 rotation (VERDICT r7 "Next round" #1): 8 canary cores — one per
# §2/pipeline family, re-witnessed every round so a regression in the core
# surface can never hide — then the 3 round-7 sketch-MERGE additions (the
# only never-witnessed queries left), then 39 re-witness slots drained
# oldest-evidence-first: the 16 remaining round-2-vintage queries, then
# the alphabetically-first 23 of the 43 round-3-vintage queries. The
# vintages below are computed from the actual CORRECTNESS_r{1..7} history
# (last round each key appeared), not from memory — NOTES r7 misfiled
# nbql_tag_matchers_rollup as round-2 vintage; it is round-3 (it sits in
# the r8 re-witness tail regardless, alphabetically before the cut).
# Witness accounting: a green round 7 made every query registered through
# round 6 driver-witnessed (235/235); a green round 8 reaches 238/238 —
# every query registered through round 7 — leaving a 20-query
# round-3-vintage tail plus the two round-8 additions
# (events_hll_range_users — DataSketches union-path bounded-error gate —
# and lineitem_p95_tdigest_rank_bound — t-digest approximate-regime rank
# gate; both sim-MATCHed tri-SF) for the round-9 window. Registry growth
# this round: 2 new gate queries, inside the ≤3 budget (VERDICT r7 #7).
# Everything still runs when the driver has the budget; the prefix only
# decides what a capped run proves.
PRIORITY_PREFIX = [
    # canary cores: scan, final agg, downsample, MVCC, tombstone, cursor,
    # NBQL planner, dedup pipeline — one witness per family, every round
    "raw_scan_range_tag", "final_agg_basic", "downsample_1d",
    "mvcc_dedup_latest", "tombstone_series", "cursor_page",
    "nbql_downsample", "doc_dedup_exact",
    # round-7 sketch-MERGE additions — never witnessed (3)
    "events_hll_md5_weekly_users", "events_cms_merged_halves",
    "docs_bloom_shard_merge",
    # re-witness queue: round-2 vintage, all 16 remaining (alphabetical)
    "nbql_tag_matchers", "orders_priority_pivot", "point_get",
    "relative_range_agg", "rollup_incremental_1d", "series_by_tags",
    "show_metrics", "show_tag_keys", "show_tag_values",
    "subscribe_filter_prefix", "text_lang_id", "text_quality",
    "text_token_count", "tombstone_point", "tombstone_range",
    "tpch_q12_priority_classes",
    # re-witness queue: round-3 vintage, alphabetical first 23 of 43
    "doc_containment_pairs", "doc_dedup_bucket_clusters",
    "doc_dedup_minhash_capped", "doc_dedup_simhash_pairs",
    "doc_fingerprint", "doc_winnow_fingerprint", "docs_chunk_dedup",
    "docs_chunk_sliding", "docs_interleave_mix", "docs_length_deciles",
    "docs_length_histogram", "docs_perplexity_filter",
    "docs_quality_classifier", "docs_quality_filter_report",
    "docs_stratified_sample", "docs_temperature_mix",
    "docs_temperature_sample", "docs_tfidf_top3", "docs_vocab_top50",
    "downsample_p95_tdigest", "embed_int8_topk", "embed_ivf_kmeans_topk",
    "embed_label_centroids",
]


def _ordered() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    _load_extra_registries()
    missing = [n for n in PRIORITY_PREFIX if n not in QUERIES]
    if missing:  # a rename must update the prefix, not silently skip it
        raise KeyError(f"PRIORITY_PREFIX names not in registry: {missing}")
    rest = [n for n in QUERIES if n not in set(PRIORITY_PREFIX)]
    return {n: QUERIES[n] for n in [*PRIORITY_PREFIX, *rest]}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _ordered().items()}


def all_oracle_sql() -> dict[str, str]:
    return {name: sql for name, (fn, sql) in _ordered().items() if sql is not None}


def _load_extra_registries() -> None:
    """Import the sibling registry modules for their @register side effects
    (deferred to avoid a circular import at module load)."""
    import nexusbase_spark.queries_analytics  # noqa: F401
    import nexusbase_spark.queries_nbql  # noqa: F401
    import nexusbase_spark.queries_pipeline  # noqa: F401
