"""NBQL planner: AST -> DataFrame over the engine's long-format points view.

This is the Spark translation of the reference's inline physical plan
(engine2/adapter.go:1103-1397): series resolution and range scan become
declarative filters (Catalyst pushes them into the parquet scan), the k-way
merge + dedup happens in NexusEngine.points() (operators/mvcc.visible),
RELATIVE anchors through operators/scan.relative_bounds, aggregation wraps become
groupBy, and cursor/limit become a keyset predicate + TakeOrderedAndProject.

Aggregates and windows are the operator library's (operators/aggregate,
operators/downsample) over the long points layout (functions/fidelity
LongLayout); this module keeps only what is NBQL's own: spec dedup, FILL
PREVIOUS/LINEAR, column order, ORDER and LIMIT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.functions.fidelity import AggSpec, qcol
from nexusbase_spark.nbql.ast import QueryStatement, ShowStatement
from nexusbase_spark.operators.aggregate import final_aggregate
from nexusbase_spark.operators.downsample import downsample
from nexusbase_spark.operators.order import (
    decode_cursor, keyset_after, order_points, order_windows,
)
from nexusbase_spark.operators.scan import relative_bounds, time_range
from nexusbase_spark.operators.timeseries import fill_forward, fill_linear

_NAN = float("nan")


def _display(vtype: str = "vtype") -> Column:
    return (
        F.when(F.col(vtype) == "float", F.col("f_double").cast("string"))
        .when(F.col(vtype) == "int", F.col("f_long").cast("string"))
        .when(F.col(vtype) == "string", F.col("f_string"))
        .when(F.col(vtype) == "bool", F.when(F.col("f_bool"), "true").otherwise("false"))
        .otherwise(F.lit(None))
    )


def plan_query(engine, q: QueryStatement) -> DataFrame:
    start, end = q.start, q.end
    series_df = None
    if q.relative is not None:
        series_df = engine.points(q.metric, q.tags, matchers=q.tag_matchers)
        bounds = relative_bounds(series_df, q.relative, engine._now_ns())
        if bounds is None:  # no data: the empty answer, planned as usual
            start, end = 0, 1
            df = series_df.filter(F.lit(False))
        else:
            start, end = bounds
            df = time_range(series_df, start, end)  # inclusive
    else:
        if end is None and (start is not None or q.aggregations):
            end = engine._now_ns()  # default EndTime=now (engine2/adapter.go:1117-1120)
        # predicates ride INTO points(): the engine applies them before its
        # MVCC window so the dedup shuffle covers only the selected slice
        df = engine.points(q.metric, q.tags, start, end,
                           matchers=q.tag_matchers)
        if q.emit_empty_windows:
            # the empty-window series grid resolves like the tag index:
            # metric/tag-matched, range-INDEPENDENT — a series with no
            # points in [start, end] still emits its empty windows
            series_df = engine.points(q.metric, q.tags,
                                      matchers=q.tag_matchers)

    if q.aggregations:
        if q.downsample_interval:
            return _plan_downsample(df, q, start, end, series_df=series_df)
        return _plan_final(df, q)

    return _plan_raw(df, q)


def _dedup_specs(specs):
    """Collapse duplicate aggregation specs to one output column, first
    occurrence wins. The reference keys each window's results by
    "<func>_<field>" in a map (core/aggregation.go:12-17 naming;
    multi_field_aggregator.go result map), so `count(lat), count(lat)`
    yields ONE count_lat there; without this, the duplicate out_names
    here make every later by-name reference (the EMIT EMPTY fill path's
    withColumn/coalesce) raise AMBIGUOUS_REFERENCE at plan time. Found
    by the execution-level grammar fuzz
    (test_grammar_valid_queries_execute_totally). Distinct aliases keep
    distinct columns."""
    seen, out = set(), []
    for s in specs:
        if s.out_name not in seen:
            seen.add(s.out_name)
            out.append(s)
    return out


def _plan_final(df: DataFrame, q: QueryStatement) -> DataFrame:
    """One row across ALL matching series, keyed by the bare metric
    (engine2/adapter.go:1349-1364); final agg skips NaN/Inf inputs. The
    key is the statement's metric as a literal (a non-nullable column)."""
    return final_aggregate(df.withColumn("metric", F.lit(q.metric)),
                           _dedup_specs(q.aggregations), layout="long",
                           keep_metric=True)


def _plan_downsample(df: DataFrame, q: QueryStatement,
                     start: int | None, end: int | None, *,
                     series_df: DataFrame | None = None) -> DataFrame:
    """Per-series epoch-aligned windows, hopping with SLIDE; the
    downsampler does NOT skip NaN/Inf inputs
    (multi_field_downsampling_iterator.go:44-90). EMIT EMPTY WINDOWS lays
    the slide-stepped grid; FILL <const> is its empty-window value, and
    FILL PREVIOUS/LINEAR rewrite the NaN-marked columns afterwards."""
    aggs = _dedup_specs(q.aggregations)
    agg = downsample(
        df, q.downsample_interval, aggs, layout="long",
        slide=q.downsample_slide, emit_empty=q.emit_empty_windows,
        q_start=start, q_end=end, series_universe=series_df,
        empty_value=_NAN if q.fill_value is None else q.fill_value)
    # count/sum mark empty windows with 0.0 (reference semantics) and are
    # left alone by the fills; edges with no observation stay NaN
    filled = [s.out_name for s in aggs if s.func not in ("count", "sum")]
    if q.fill_previous:
        # FILL PREVIOUS (grammar extension): LOCF along each series'
        # window timeline
        agg = fill_forward(agg, ["metric", "series_key"], filled,
                           ts_col="window_start", is_missing=F.isnan)
        for c in filled:
            agg = agg.withColumn(c, F.coalesce(qcol(c), F.lit(_NAN)))
    if q.fill_linear:
        # FILL LINEAR (grammar extension): interpolate between the
        # surrounding observed windows (InfluxQL fill(linear))
        for c in filled:
            agg = agg.withColumn(
                c, F.when(F.isnan(qcol(c)), F.lit(None)).otherwise(qcol(c)))
            agg = fill_linear(agg, ["metric", "series_key"], c,
                              ts_col="window_start")
            agg = agg.withColumn(c, F.coalesce(qcol(c), F.lit(_NAN)))
    # the NBQL answer's column order (rollup meta.json records it too)
    agg = agg.select("metric", "series_key", "window_start", "tags",
                     *[qcol(s.out_name) for s in aggs], "window_end")
    agg = order_windows(agg, q.sort_desc)
    if q.limit:
        agg = agg.limit(q.limit)
    return agg


def _plan_raw(df: DataFrame, q: QueryStatement) -> DataFrame:
    """Raw points: long rows -> one row per point with a display fields map
    (the QueryResult shape — engine2/adapter.go:1490-1621)."""
    # per-point marker rows are count(*) bookkeeping, not fields
    pts = (
        df.filter(F.col("vtype") != "marker")
        .groupBy("metric", "series_key", "ts", "seq")
        .agg(F.first("tags").alias("tags"),
             F.map_from_entries(
                 F.array_sort(F.collect_list(F.struct(F.col("field"), _display().alias("v"))))
             ).alias("fields"))
    )
    if q.after_cursor:
        pts = keyset_after(pts, decode_cursor(q.after_cursor), q.sort_desc)
    pts = order_points(pts, q.sort_desc)
    if q.limit:
        pts = pts.limit(q.limit)
    return pts.select("metric", "series_key", "tags", "ts", "seq", "fields")


def plan_show(engine, s: ShowStatement) -> DataFrame:
    from nexusbase_spark.operators.metadata import (
        show_metrics, show_tag_keys, show_tag_values,
    )
    if s.what == "rollups":
        # rollup inventory comes from the engine's meta files, not points
        rows = [(name, m["metric"], m["interval_ns"],
                 ", ".join(AggSpec(*s_).out_name for s_ in m["specs"]),
                 m["last_seq"])
                for name, m in engine.rollups().items()]
        return engine.spark.createDataFrame(
            rows, "name string, metric string, interval_ns long, "
                  "aggregates string, last_seq long")
    if s.what == "snapshots":
        # extension: cmd/snapshot-util's inventory as a statement (the
        # engine's snapshot base dir; file inspection only, no Spark job
        # beyond the local relation)
        import os as _os

        from nexusbase_spark.snapshots import list_snapshots
        rows = [(s_["id"], s_["type"], s_["created_at"],
                 s_["stored_bytes"], s_["total_bytes"], s_["n_files"],
                 s_["parent_id"])
                for s_ in list_snapshots(
                    _os.path.join(getattr(engine, "warehouse", ""),
                                  "snapshots"))]
        return engine.spark.createDataFrame(
            rows, "id string, type string, created_at string, "
                  "stored_bytes long, total_bytes long, n_files long, "
                  "parent_id string")
    pts = engine.points(s.metric or None)
    if s.what == "stats":
        # extension: live data statistics per metric — points (MVCC-
        # visible), distinct series, ts span. One scan, one tiny rollup;
        # countDistinct's partial sets keep the exchange series-sized.
        # points() is the LONG view (one row per field): points are
        # distinct (series, ts), field_rows is the long-row count
        return (pts.groupBy("metric")
                .agg(F.countDistinct("series_key", "ts").alias("points"),
                     F.count(F.lit(1)).alias("field_rows"),
                     F.countDistinct("series_key").alias("series"),
                     F.min("ts").alias("min_ts"),
                     F.max("ts").alias("max_ts"))
                .orderBy("metric"))
    if s.what == "field_keys":
        # extension: distinct (field, vtype) per metric from the long
        # view, marker rows excluded
        return (pts.filter(F.col("vtype") != "marker")
                .select("metric", "field", "vtype").distinct()
                .orderBy("metric", "field", "vtype"))
    if s.what == "metrics":
        return show_metrics(pts)
    if s.what == "tag_keys":
        return show_tag_keys(pts, s.metric)
    if s.what == "tag_values":
        return show_tag_values(pts, s.key, s.metric)
    raise ValueError(s.what)
