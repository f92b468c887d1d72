"""NBQL planner: AST -> DataFrame over the engine's long-format points view.

This is the Spark translation of the reference's inline physical plan
(engine2/adapter.go:1103-1397): series resolution and range scan become
declarative filters (Catalyst pushes them into the parquet scan), the k-way
merge + dedup happened in NexusEngine.points(), aggregation wraps become
groupBy, and cursor/limit become a keyset predicate + TakeOrderedAndProject.

Aggregation over the long format uses CONDITIONAL aggregates — one pass,
no pivot, no join: every spec compiles to agg expressions gated on its
field name. count(*) counts POINTS — the per-point marker rows — not field
rows (iterator/multi_field_aggregator.go:181-184).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.functions.fidelity import parse_agg_func, qcol
from nexusbase_spark.nbql.ast import AggregationSpec, QueryStatement, ShowStatement

_NAN = float("nan")


def _nan() -> Column:
    return F.lit(_NAN)


def _order_key() -> Column:
    # global stream order (ts, series_key, seq desc) — iterator/iterator.go:41-63
    return F.struct(F.col("ts"), F.col("series_key"), (-F.col("seq")).alias("nseq"))


def _long_agg_exprs(specs: list[AggregationSpec], *, skip_non_finite: bool,
                    approx_percentile: bool = False) -> list[Column]:
    exprs: list[Column] = []
    for spec in specs:
        func, q = parse_agg_func(spec.func)
        name = spec.alias or f"{spec.func}_{spec.field}"
        if func == "count" and spec.field == "*":
            # count of points, not field rows: a plain conditional count
            # over the per-point marker rows — map-side combinable,
            # single-pass even mixed with other aggs
            exprs.append(F.count(
                F.when(F.col("vtype") == "marker", F.lit(1))).alias(name))
            continue
        here = F.col("field") == spec.field
        present = here & (F.col("vtype") != "null")
        if func == "count":
            exprs.append(F.count(F.when(present, F.lit(1))).alias(name))
            continue
        num = F.when(here, F.coalesce(F.col("f_double"), F.col("f_long").cast("double")))
        if skip_non_finite:
            num = F.when(F.isnan(num) | num.isin(float("inf"), float("-inf")),
                         F.lit(None)).otherwise(num)
        key = F.when(num.isNotNull(), _order_key())
        if func == "sum":
            exprs.append(F.coalesce(F.sum(num), F.lit(0.0)).alias(name))
        elif func == "avg":
            exprs.append(F.coalesce(F.avg(num), _nan()).alias(name))
        elif func in ("min", "max"):
            v = num if skip_non_finite else F.when(F.isnan(num), F.lit(None)).otherwise(num)
            exprs.append(F.coalesce(F.min(v) if func == "min" else F.max(v), _nan()).alias(name))
        elif func == "first":
            exprs.append(F.coalesce(F.min_by(num, key), _nan()).alias(name))
        elif func == "last":
            exprs.append(F.coalesce(F.max_by(num, key), _nan()).alias(name))
        elif func == "frac":
            n = F.count(num)
            first, last = F.min_by(num, key), F.max_by(num, key)
            exprs.append(
                F.when(n < 2, _nan())
                .when(first == 0.0,
                      F.when(last == 0.0, F.lit(0.0))
                      .when(last > 0.0, F.lit(float("inf")))
                      .otherwise(F.lit(float("-inf"))))
                .otherwise((last - first) / first)
                .alias(name))
        elif func == "stddev":
            exprs.append(F.coalesce(F.stddev_samp(num), _nan()).alias(name))
        elif func == "percentile":
            agg = (F.percentile_approx(num, F.lit(q)) if approx_percentile
                   else F.percentile(num, F.lit(q)))
            exprs.append(F.coalesce(agg, _nan()).alias(name))
        else:  # pragma: no cover
            raise ValueError(func)
    return exprs


def _display(vtype: str = "vtype") -> Column:
    return (
        F.when(F.col(vtype) == "float", F.col("f_double").cast("string"))
        .when(F.col(vtype) == "int", F.col("f_long").cast("string"))
        .when(F.col(vtype) == "string", F.col("f_string"))
        .when(F.col(vtype) == "bool", F.when(F.col("f_bool"), "true").otherwise("false"))
        .otherwise(F.lit(None))
    )


def plan_query(engine, q: QueryStatement) -> DataFrame:
    from nexusbase_spark.operators.scan import time_range

    start, end = q.start, q.end
    series_df = None
    if q.relative is not None:
        # End anchors to data max-ts when <= now (engine2/adapter.go:1236-1276)
        unbounded = engine.points(q.metric, q.tags, matchers=q.tag_matchers)
        now = engine._now_ns()
        row = unbounded.agg(F.max("ts")).collect()[0]
        if row[0] is None:
            return (unbounded.filter(F.lit(False)) if not q.aggregations
                    else _empty_agg(engine, q))
        end = min(row[0], now)
        start = end - q.relative
        series_df = unbounded
        df = time_range(unbounded, start, end)  # inclusive
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


def _empty_agg(engine, q: QueryStatement) -> DataFrame:
    df = engine.points().filter(F.lit(False))
    if q.downsample_interval:
        return _plan_downsample(df, q, 0, 1)
    return _plan_final(df, q)


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
        name = s.alias or f"{s.func}_{s.field}"
        if name not in seen:
            seen.add(name)
            out.append(s)
    return out


def _plan_final(df: DataFrame, q: QueryStatement) -> DataFrame:
    """One row across ALL matching series, keyed by the bare metric
    (engine2/adapter.go:1349-1364); final agg skips NaN/Inf inputs."""
    exprs = _long_agg_exprs(_dedup_specs(q.aggregations),
                            skip_non_finite=True)
    return df.groupBy(F.lit(q.metric).alias("metric")).agg(*exprs)


def _plan_downsample(df: DataFrame, q: QueryStatement,
                     start: int | None, end: int | None, *,
                     series_df: DataFrame | None = None) -> DataFrame:
    """Per-series epoch-aligned tumbling windows; the downsampler does NOT
    skip NaN/Inf inputs (multi_field_downsampling_iterator.go:44-90).
    With SLIDE (grammar extension) windows hop: each point's aligned starts
    in (ts - size, ts] are enumerated narrowly before the same groupBy —
    see operators/downsample.downsample_hopping for the arithmetic."""
    iv = q.downsample_interval
    slide = q.downsample_slide or iv
    aggs = _dedup_specs(q.aggregations)
    exprs = _long_agg_exprs(aggs, skip_non_finite=False)
    if slide != iv:
        ts = F.col("ts")
        first = ts - iv - F.pmod(ts - iv, F.lit(slide)) + slide
        last = ts - F.pmod(ts, F.lit(slide))
        df = df.withColumn(
            "window_start", F.explode(F.sequence(first, last, F.lit(slide))))
        win = F.col("window_start")
    else:
        win = (F.col("ts") - F.col("ts") % F.lit(iv)).alias("window_start")
    agg = (df.groupBy(F.col("metric"), F.col("series_key"), win)
           .agg(F.first("tags").alias("tags"), *exprs))

    if q.emit_empty_windows:
        if start is None or end is None or end <= start:
            raise ValueError("EMIT EMPTY WINDOWS requires a bounded FROM..TO range")
        # grid stride = slide (== iv for tumbling): every aligned start
        first = start - (start % slide)
        last = end - 1 - ((end - 1 - first) % slide)
        universe = df if series_df is None else series_df
        series = (universe.groupBy("metric", "series_key")
                  .agg(F.first("tags").alias("tags")))
        grid = series.select(
            "metric", "series_key", "tags",
            F.explode(F.sequence(F.lit(first), F.lit(last), F.lit(slide))).alias("window_start"))
        agg = grid.join(
            agg.drop("tags").withColumn("__present", F.lit(True)),
            ["metric", "series_key", "window_start"], "left")
        for spec in aggs:
            name = spec.alias or f"{spec.func}_{spec.field}"
            fill = F.lit(0.0) if spec.func in ("count", "sum") else _nan()
            agg = agg.withColumn(name, F.coalesce(qcol(name).cast("double"), fill))
        if q.fill_previous:
            # FILL PREVIOUS (grammar extension): LOCF the NaN-marked agg
            # columns along each series' window timeline. count/sum mark
            # empty windows with 0.0 (reference semantics) and are left
            # alone; leading NaNs (no prior observation) stay NaN.
            from nexusbase_spark.operators.timeseries import fill_forward

            cols = [spec.alias or f"{spec.func}_{spec.field}"
                    for spec in aggs
                    if spec.func not in ("count", "sum")]
            if cols:
                agg = fill_forward(agg, ["metric", "series_key"], cols,
                                   ts_col="window_start", is_missing=F.isnan)
                for c in cols:
                    agg = agg.withColumn(c, F.coalesce(qcol(c), _nan()))
        if q.fill_value is not None:
            # FILL <const> (InfluxQL fill(<value>)): the constant lands in
            # EMPTY windows only, gated on the grid-join absence marker —
            # a window whose aggregate is genuinely NaN because its input
            # values were NaN (the downsampler deliberately keeps NaN)
            # stays NaN (ADVICE r3: the previous isnan gate overwrote
            # those too). count/sum keep the reference's 0.0 empty marker
            # (same column policy as PREVIOUS/LINEAR).
            for spec in aggs:
                if spec.func in ("count", "sum"):
                    continue
                c = spec.alias or f"{spec.func}_{spec.field}"
                agg = agg.withColumn(
                    c, F.when(F.col("__present").isNull(),
                              F.lit(float(q.fill_value))).otherwise(qcol(c)))
        if q.fill_linear:
            # FILL LINEAR (grammar extension): interpolate the NaN-marked
            # agg columns between the surrounding observed windows
            # (InfluxQL fill(linear)). count/sum keep their 0.0 empty
            # marker; edges with no anchor on one side stay NaN.
            from nexusbase_spark.operators.timeseries import fill_linear

            cols = [spec.alias or f"{spec.func}_{spec.field}"
                    for spec in aggs
                    if spec.func not in ("count", "sum")]
            for c in cols:
                agg = agg.withColumn(
                    c, F.when(F.isnan(qcol(c)), F.lit(None)).otherwise(qcol(c)))
                agg = fill_linear(agg, ["metric", "series_key"], c,
                                  ts_col="window_start")
                agg = agg.withColumn(c, F.coalesce(qcol(c), _nan()))

    if "__present" in agg.columns:
        agg = agg.drop("__present")
    agg = agg.withColumn("window_end", F.col("window_start") + F.lit(iv))
    order = [F.col("window_start"), F.col("series_key")]
    if q.sort_desc:
        order = [F.col("window_start").desc(), F.col("series_key").desc()]
    agg = agg.orderBy(*order)
    if q.limit:
        agg = agg.limit(q.limit)
    return agg


def _plan_raw(df: DataFrame, q: QueryStatement) -> DataFrame:
    """Raw points: long rows -> one row per point with a display fields map
    (the QueryResult shape — engine2/adapter.go:1490-1621)."""
    from nexusbase_spark.operators.order import decode_cursor, keyset_after, order_points

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
                 ", ".join(a or f"{fn}_{fl}" for fn, fl, a in m["specs"]),
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
    pts = engine.points()
    if s.what == "stats":
        # extension: live data statistics per metric — points (MVCC-
        # visible), distinct series, ts span. One scan, one tiny rollup;
        # countDistinct's partial sets keep the exchange series-sized.
        if s.metric:
            pts = pts.filter(F.col("metric") == s.metric)
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
        if s.metric:
            pts = pts.filter(F.col("metric") == s.metric)
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
