"""Oracle-checked queries that go through the FULL NBQL path: text ->
parser -> AST -> planner -> DataFrame. Proves the language front end on
real data (the events table mapped to the long points format), not just
the operator library.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexusbase_spark.datamodel import load_table, series_key_expr, source_ts_ns
from nexusbase_spark.nbql.parser import parse
from nexusbase_spark.operators.scan import (
    matcher_pred, metric_pred, tag_pred, time_pred, where,
)
from nexusbase_spark.queries import DAY_NS, T1, T2, register


class StaticEngine:
    """Read-only engine facade over a fixed long-format points frame —
    what NexusEngine.points() returns, minus the warehouse. The frame
    carries per-point marker rows, as the warehouse does. Every event is
    a point of its own, as in the oracle SQL, so selection is the operator
    library's scan filters alone; there is no MVCC step."""

    def __init__(self, spark: SparkSession, points: DataFrame):
        self.spark = spark
        self._points = points
        self._raw_ts_type = dict(points.dtypes).get("__raw_ts")

    def points(self, metric: str | None = None,
               tags: dict[str, str] | None = None,
               start: int | None = None, end: int | None = None,
               matchers: list | None = None) -> DataFrame:
        return where(self._points, metric_pred(metric), tag_pred(tags or {}),
                     matcher_pred(self.spark, matchers),
                     time_pred(start, end, self._raw_ts_type))

    _now_ns = staticmethod(time.time_ns)

    def query(self, q) -> DataFrame:
        from nexusbase_spark.nbql.planner import plan_query
        return plan_query(self, q)

    def execute(self, nbql: str) -> DataFrame:
        return self.query(parse(nbql))


_F_TYPES = {"f_double": "double", "f_long": "long", "f_string": "string",
            "f_bool": "boolean"}


def _long_rows(base: DataFrame, keys: list, field: str, vtype: str,
               typed: dict) -> DataFrame:
    """One long-format row per row of ``base``: ``keys``, field, vtype,
    then the f_* columns, taken from ``typed`` (f_* name -> Column) or
    NULL."""
    return base.select(
        *keys, F.lit(field).alias("field"), F.lit(vtype).alias("vtype"),
        *[typed.get(c, F.lit(None).cast(t)).alias(c) for c, t in _F_TYPES.items()])


def events_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> long points: each event is ONE point with two fields
    (value float, k int) -> two long rows sharing (series_key, ts, seq)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("metric"),
        F.create_map(F.lit("user"), F.col("user_id").cast("string")).alias("tags"),
        source_ts_ns(ev).alias("ts"),
        F.col("event_id").cast("long").alias("seq"),
        F.col("value").cast("double").alias("value"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    ).withColumn("series_key", series_key_expr(F.col("metric"), F.col("tags")))
    keys = ["metric", "tags", "series_key", "ts", "seq"]
    return (_long_rows(base, keys, "value", "float", {"f_double": F.col("value")})
            .unionByName(_long_rows(base, keys, "k", "int", {"f_long": F.col("k")}))
            .unionByName(_long_rows(base, keys, "", "marker", {})))


def _engine(spark, sf_dir) -> StaticEngine:
    return StaticEngine(spark, events_long(spark, sf_dir))


@register("nbql_downsample", f"""
    SELECT 'click' AS metric,
           ('click|user=' || CAST(user_id AS VARCHAR)) AS series_key,
           epoch_ns(ts) - (epoch_ns(ts) % {DAY_NS}) AS window_start,
           epoch_ns(ts) - (epoch_ns(ts) % {DAY_NS}) + {DAY_NS} AS window_end,
           count(*) AS "count_*",
           round(coalesce(sum(value), 0), 4) AS sum_value,
           round(avg(value), 4) AS avg_value,
           round(coalesce(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0), 4) AS sum_k
    FROM events
    WHERE event_type = 'click' AND epoch_ns(ts) BETWEEN {T1} AND {T2}
    GROUP BY series_key, window_start
""")
def q_nbql_downsample(spark, sf_dir):
    """Full NBQL text -> parse -> plan: AGGREGATE BY 1d over two typed
    fields (float value + int k), per-series epoch-aligned windows."""
    eng = _engine(spark, sf_dir)
    df = eng.execute(
        f"QUERY click FROM {T1} TO {T2} "
        "AGGREGATE BY 1d (count(*), sum(value), avg(value), sum(k))")
    df = df.select("metric", "series_key", "window_start", "window_end",
                   "count_*", F.round("sum_value", 4).alias("sum_value"),
                   F.round("avg_value", 4).alias("avg_value"),
                   F.round("sum_k", 4).alias("sum_k"))
    return df


@register("nbql_final_agg", f"""
    SELECT 'purchase' AS metric,
           count(*) AS "count_*",
           round(coalesce(sum(value), 0), 4) AS sum_value,
           round(quantile_cont(value, 0.95), 4) AS p95_value,
           count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS count_k
    FROM events
    WHERE event_type = 'purchase' AND epoch_ns(ts) BETWEEN {T1} AND {T2}
""")
def q_nbql_final_agg(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    df = eng.execute(
        f"QUERY purchase FROM {T1} TO {T2} "
        "AGGREGATE (count(*), sum(value), p95(value), count(k))")
    return df.select("metric", "count_*", F.round("sum_value", 4).alias("sum_value"),
                     F.round("p95_value", 4).alias("p95_value"), "count_k")


@register("nbql_raw_limit", f"""
    SELECT event_type AS metric,
           ('error|user=' || CAST(user_id AS VARCHAR)) AS series_key,
           epoch_ns(ts) AS ts,
           event_id AS seq
    FROM events
    WHERE event_type = 'error' AND epoch_ns(ts) BETWEEN {T1} AND {T2}
    ORDER BY ts, series_key, seq DESC
    LIMIT 25
""")
def q_nbql_raw_limit(spark, sf_dir):
    """NBQL raw query with enforced LIMIT through the parser/planner
    (engine2 never enforced it — SURVEY.md §2.7)."""
    eng = _engine(spark, sf_dir)
    df = eng.execute(f"QUERY error FROM {T1} TO {T2} LIMIT 25")
    return df.select("metric", "series_key", "ts", "seq")


HOP_SIZE = 6 * 3600 * 1_000_000_000
HOP_SLIDE = 2 * 3600 * 1_000_000_000


@register("nbql_hopping", f"""
    WITH p AS (
        SELECT ('click|user=' || CAST(user_id AS VARCHAR)) AS series_key,
               epoch_ns(ts) AS ts, value
        FROM events
        WHERE event_type = 'click' AND epoch_ns(ts) BETWEEN {T1} AND {T2}
    ),
    hopped AS (
        SELECT series_key, value,
               unnest(range(((ts - {HOP_SIZE}) // {HOP_SLIDE}) * {HOP_SLIDE} + {HOP_SLIDE},
                            (ts // {HOP_SLIDE}) * {HOP_SLIDE} + 1,
                            {HOP_SLIDE})) AS window_start
        FROM p
    )
    SELECT 'click' AS metric, series_key, window_start,
           window_start + {HOP_SIZE} AS window_end,
           count(*) AS "count_*",
           round(avg(value), 4) AS avg_value
    FROM hopped
    GROUP BY series_key, window_start
""")
def q_nbql_hopping(spark, sf_dir):
    """Full NBQL text -> parse -> plan with the SLIDE grammar extension:
    AGGREGATE BY 6h SLIDE 2h — hopping windows from the language front end
    (the planner calls operators/downsample.downsample with slide=)."""
    eng = _engine(spark, sf_dir)
    df = eng.execute(
        f"QUERY click FROM {T1} TO {T2} "
        "AGGREGATE BY 6h SLIDE 2h (count(*), avg(value))")
    return df.select("metric", "series_key", "window_start", "window_end",
                     "count_*", F.round("avg_value", 4).alias("avg_value"))


@register("nbql_fill_previous", f"""
    WITH p AS (
        SELECT ('click|user=' || CAST(user_id AS VARCHAR)) AS series_key,
               epoch_ns(ts) AS ts, value
        FROM events
        WHERE event_type = 'click' AND epoch_ns(ts) BETWEEN {T1} AND {T2}
    ),
    grid AS (
        -- series resolve like the tag index: range-INDEPENDENT, so a
        -- series with no points inside [T1, T2] still emits empty windows
        SELECT s.series_key, g.window_start
        FROM (SELECT DISTINCT ('click|user=' || CAST(user_id AS VARCHAR))
                  AS series_key
              FROM events WHERE event_type = 'click') s
        CROSS JOIN (SELECT unnest(generate_series({T1}, {T2 - 1}, {DAY_NS}))
                    AS window_start) g
    ),
    agg AS (
        SELECT series_key, ts - (ts % {DAY_NS}) AS window_start,
               count(*) AS c, avg(value) AS av
        FROM p GROUP BY series_key, window_start
    )
    SELECT 'click' AS metric, grid.series_key, grid.window_start,
           grid.window_start + {DAY_NS} AS window_end,
           CAST(coalesce(agg.c, 0) AS DOUBLE) AS "count_*",
           round(coalesce(
               last_value(agg.av IGNORE NULLS) OVER (
                   PARTITION BY grid.series_key ORDER BY grid.window_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               'NaN'::DOUBLE), 4) AS avg_value
    FROM grid LEFT JOIN agg USING (series_key, window_start)
""")
def q_nbql_fill_previous(spark, sf_dir):
    """FILL PREVIOUS grammar extension end-to-end: empty daily windows
    are emitted (count 0, avg NaN per reference semantics) and the NaN
    averages are carried forward per series by the LOCF kernel
    (operators/timeseries.fill_forward); windows before a series' first
    observation stay NaN. InfluxQL's fill(previous), on the NBQL front
    end."""
    eng = _engine(spark, sf_dir)
    df = eng.execute(
        f"QUERY click FROM {T1} TO {T2} "
        "AGGREGATE BY 1d (count(*), avg(value)) EMIT EMPTY WINDOWS "
        "FILL PREVIOUS")
    return df.select("metric", "series_key", "window_start", "window_end",
                     "count_*", F.round("avg_value", 4).alias("avg_value"))


@register("nbql_fill_linear", f"""
    WITH p AS (
        SELECT ('click|user=' || CAST(user_id AS VARCHAR)) AS series_key,
               epoch_ns(ts) AS ts, value
        FROM events
        WHERE event_type = 'click' AND epoch_ns(ts) BETWEEN {T1} AND {T2}
    ),
    grid AS (
        -- series resolve like the tag index: range-INDEPENDENT, so a
        -- series with no points inside [T1, T2] still emits empty windows
        SELECT s.series_key, g.window_start
        FROM (SELECT DISTINCT ('click|user=' || CAST(user_id AS VARCHAR))
                  AS series_key
              FROM events WHERE event_type = 'click') s
        CROSS JOIN (SELECT unnest(generate_series({T1}, {T2 - 1}, {DAY_NS}))
                    AS window_start) g
    ),
    agg AS (
        SELECT series_key, ts - (ts % {DAY_NS}) AS window_start,
               count(*) AS c, avg(value) AS av
        FROM p GROUP BY series_key, window_start
    ),
    j AS (
        SELECT grid.series_key, grid.window_start, agg.c, agg.av
        FROM grid LEFT JOIN agg USING (series_key, window_start)
    ),
    k AS (
        SELECT series_key, window_start, c, av,
               last_value(av IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN av IS NOT NULL THEN window_start END
                          IGNORE NULLS) OVER wp AS pt,
               first_value(av IGNORE NULLS) OVER wf AS nv,
               first_value(CASE WHEN av IS NOT NULL THEN window_start END
                           IGNORE NULLS) OVER wf AS nt
        FROM j
        WINDOW wp AS (PARTITION BY series_key ORDER BY window_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY series_key ORDER BY window_start
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    f AS (
        SELECT series_key, window_start,
               CAST(coalesce(c, 0) AS DOUBLE) AS "count_*",
               coalesce(CASE WHEN av IS NOT NULL THEN av
                             WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt > pt
                             THEN pv + (nv - pv) * (window_start - pt) / (nt - pt)
                        END, 'NaN'::DOUBLE) AS av
        FROM k
    )
    SELECT 'click' AS metric, series_key, window_start,
           window_start + {DAY_NS} AS window_end, "count_*",
           CASE WHEN isnan(av) THEN av
                ELSE floor(av * 10000 + 0.5) / 10000 END AS avg_value
    FROM f
""")
def q_nbql_fill_linear(spark, sf_dir):
    """FILL LINEAR grammar extension end-to-end: empty daily windows are
    emitted (count 0, avg NaN) and the NaN averages are linearly
    interpolated between the surrounding observed windows per series
    (operators/timeseries.fill_linear); edge windows with no anchor on
    one side stay NaN. InfluxQL's fill(linear), on the NBQL front end.
    Output floor-quantized (not round()) — see events_gap_fill_linear."""
    eng = _engine(spark, sf_dir)
    df = eng.execute(
        f"QUERY click FROM {T1} TO {T2} "
        "AGGREGATE BY 1d (count(*), avg(value)) EMIT EMPTY WINDOWS "
        "FILL LINEAR")
    q = F.when(F.isnan(F.col("avg_value")), F.col("avg_value")).otherwise(
        F.floor(F.col("avg_value") * 10000 + F.lit(0.5)) / 10000.0)
    return df.select("metric", "series_key", "window_start", "window_end",
                     "count_*", q.alias("avg_value"))


_ROLLUP_CACHE: dict = {}


def _rollup_engine(spark: SparkSession, sf_dir: str):
    """Shared warehouse with a materialized+refreshed `click1d` rollup
    (count(*), sum(value), avg(value) BY 1d over metric=click), built
    through the INCREMENTAL path: two thirds ingested, rollup created,
    the last third (late data) ingested, dirty days re-folded."""
    import tempfile

    from nexusbase_spark.engine import NexusEngine
    from nexusbase_spark.functions.fidelity import AggSpec

    if sf_dir not in _ROLLUP_CACHE:
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("event_type") == "click")
        base = ev.select(
            F.lit("click").alias("metric"),
            F.create_map(F.lit("user"), F.col("user_id").cast("string")).alias("tags"),
            source_ts_ns(ev).alias("ts"), F.col("event_id").alias("__eid"),
            F.col("value").cast("double").alias("value"))
        long = _long_rows(base, ["metric", "tags", "ts", "__eid"], "value",
                          "float", {"f_double": F.col("value")})
        wh = tempfile.mkdtemp(prefix="nexusbase_rollup_")
        eng = NexusEngine(spark, wh)
        eng.ingest_frame(long.filter(F.col("__eid") % 3 != 0).drop("__eid"))
        eng.create_rollup("click1d", "click", DAY_NS, [
            AggSpec("count", "*"), AggSpec("sum", "value"),
            AggSpec("avg", "value")])
        eng.ingest_frame(long.filter(F.col("__eid") % 3 == 0).drop("__eid"))
        eng.refresh_rollup("click1d")
        _ROLLUP_CACHE[sf_dir] = eng
    return _ROLLUP_CACHE[sf_dir]


@register("rollup_incremental_1d", f"""
    SELECT 'click' AS metric,
           ('click|user=' || CAST(user_id AS VARCHAR)) AS series_key,
           epoch_ns(ts) - (epoch_ns(ts) % {DAY_NS}) AS window_start,
           epoch_ns(ts) - (epoch_ns(ts) % {DAY_NS}) + {DAY_NS} AS window_end,
           count(*) AS "count_*",
           round(sum(value), 4) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM events WHERE event_type = 'click'
    GROUP BY user_id, window_start
""")
def q_rollup_incremental(spark, sf_dir):
    """Continuous aggregate (hypertable rollup) proven THROUGH the
    incremental path: two thirds of the click events are ingested into a
    real warehouse, the rollup is materialized, the remaining third
    (including late data for already-materialized days) arrives, and
    refresh_rollup folds it in by recomputing only the dirty day
    partitions (delta-invalidate + dynamic partition overwrite —
    engine.create_rollup). The oracle is a plain full-table downsample:
    if the dirty-day discovery missed anything, the hashes cannot match.
    The reference recomputes every AGGREGATE BY from base data at query
    time; a standing dashboard query at 100TB must not."""
    eng = _rollup_engine(spark, sf_dir)
    out = eng.rollup("click1d")
    return out.select(
        "metric", "series_key", "window_start", "window_end", "count_*",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("avg_value", 4).alias("avg_value"))


@register("nbql_tag_matchers", f"""
    SELECT event_type AS metric,
           ('click|user=' || CAST(user_id AS VARCHAR)) AS series_key,
           epoch_ns(ts) AS ts,
           event_id AS seq
    FROM events
    WHERE event_type = 'click' AND epoch_ns(ts) BETWEEN {T1} AND {T2}
      AND regexp_matches(CAST(user_id AS VARCHAR), '^1[0-9]$')
      AND CAST(user_id AS VARCHAR) <> '12'
      AND NOT regexp_matches(CAST(user_id AS VARCHAR), '7$')
""")
def q_nbql_tag_matchers(spark, sf_dir):
    """InfluxQL-style tag matchers through the NBQL front end (grammar
    extension — the reference's TAGGED is conjunctive equality only,
    SURVEY.md §2.3): regex match (=~), inequality (!=), and negated
    regex (!~) compose conjunctively as scan-side predicates. Both
    engines use search (unanchored) regex semantics, so the anchors in
    the pattern are the test."""
    eng = _engine(spark, sf_dir)
    df = eng.execute(
        f'QUERY click FROM {T1} TO {T2} '
        'TAGGED (user=~"^1[0-9]$", user!="12", user!~"7$")')
    return df.select("metric", "series_key", "ts", "seq")


@register("nbql_tag_matchers_rollup", f"""
    WITH ds AS (
        SELECT 'click' AS metric,
               ('click|user=' || CAST(user_id AS VARCHAR)) AS series_key,
               CAST(user_id AS VARCHAR) AS u,
               epoch_ns(ts) - (epoch_ns(ts) % {DAY_NS}) AS window_start,
               epoch_ns(ts) - (epoch_ns(ts) % {DAY_NS}) + {DAY_NS} AS window_end,
               count(*) AS "count_*",
               round(sum(value), 4) AS sum_value,
               round(avg(value), 4) AS avg_value
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, window_start)
    SELECT metric, series_key, window_start, window_end,
           "count_*", sum_value, avg_value
    FROM ds
    WHERE window_start BETWEEN {T1} AND {T2 - 1}
      AND regexp_matches(u, '^1[0-9]$') AND u <> '12'
""")
def q_nbql_tag_matchers_rollup(spark, sf_dir):
    """VERDICT r2 next-round #9: a TAGGED matcher query (regex =~ and
    inequality !=) served FROM THE MATERIALIZED ROLLUP — the rollup is
    per-series, so a tag matcher selects whole series and becomes a row
    filter on rollup rows, never forcing a fall-back to base data. The
    query goes through the full NBQL text -> parse -> engine path on the
    incremental-rollup warehouse; the function asserts the rollup-rewrite
    counter ticked (a silent fall-back to the base-scan path would still
    hash-match, which would prove nothing). The oracle recomputes the
    downsample + matcher filter from the raw events table, so a rollup
    serving stale or mis-filtered windows cannot match."""
    eng = _rollup_engine(spark, sf_dir)
    before = eng.rollup_rewrites
    df = eng.execute(
        f'QUERY click FROM {T1} TO {T2 - 1} '
        'TAGGED (user=~"^1[0-9]$", user!="12") '
        'AGGREGATE BY 1d (count(*), sum(value), avg(value))')
    if eng.rollup_rewrites != before + 1:  # pragma: no cover - wiring assertion
        raise AssertionError(
            "tag-matcher downsample was NOT served from the rollup")
    return df.select(
        "metric", "series_key", "window_start", "window_end", "count_*",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("avg_value", 4).alias("avg_value"))


@register("nbql_fill_value", f"""
    WITH p AS (
        SELECT ('click|user=' || CAST(user_id AS VARCHAR)) AS series_key,
               epoch_ns(ts) AS ts, value
        FROM events
        WHERE event_type = 'click' AND epoch_ns(ts) BETWEEN {T1} AND {T2}
    ),
    grid AS (
        SELECT s.series_key, g.window_start
        FROM (SELECT DISTINCT ('click|user=' || CAST(user_id AS VARCHAR))
                  AS series_key
              FROM events WHERE event_type = 'click') s
        CROSS JOIN (SELECT unnest(generate_series({T1}, {T2 - 1}, {DAY_NS}))
                    AS window_start) g
    ),
    agg AS (
        SELECT series_key, ts - (ts % {DAY_NS}) AS window_start,
               count(*) AS c, avg(value) AS av
        FROM p GROUP BY series_key, window_start
    )
    SELECT 'click' AS metric, grid.series_key, grid.window_start,
           grid.window_start + {DAY_NS} AS window_end,
           CAST(coalesce(agg.c, 0) AS DOUBLE) AS "count_*",
           round(coalesce(agg.av, -1.0), 4) AS avg_value
    FROM grid LEFT JOIN agg USING (series_key, window_start)
""")
def q_nbql_fill_value(spark, sf_dir):
    """FILL <const> grammar extension (InfluxQL fill(<value>)): empty
    daily windows get the constant in value-like columns while count/sum
    keep the reference's 0 empty marker. Planner applies the constant to
    the NaN empty markers only — observed windows are untouched."""
    eng = _engine(spark, sf_dir)
    df = eng.execute(
        f"QUERY click FROM {T1} TO {T2} "
        "AGGREGATE BY 1d (count(*), avg(value)) EMIT EMPTY WINDOWS "
        "FILL -1.0")
    return df.select("metric", "series_key", "window_start", "window_end",
                     "count_*", F.round("avg_value", 4).alias("avg_value"))
