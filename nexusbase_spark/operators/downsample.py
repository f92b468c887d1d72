"""Windowed downsampling: AGGREGATE BY <interval>.

Reference: ``iterator/multi_field_downsampling_iterator.go:92-475`` —
tumbling windows, EPOCH-ALIGNED (first window start = qStart - qStart mod
interval, :190), grouped PER SERIES within each window (:109,265-268),
result key = series_key ++ window_start (:429-432); windows enumerate while
windowStart < qEnd (:180). Optional EmitEmptyWindows emits zero/NaN rows for
dataless windows (:305-333).

Epoch alignment means each point's window is simply floor(ts / interval) *
interval — a pure projection, so the groupBy shuffles once on
(series_key, window_start) with map-side partial aggregation. No
sessionization, no sort: this is the shape that survives 100TB.

Divergence note (documented): when the reference emits an empty window it
emits it ONCE, attributed to the last SEEN series key (:307-311) — an
artifact of its single stream cursor. We emit empty windows for EVERY series
selected by the query (a superset that is deterministic and per-series
correct). Empty-window values: count/sum -> 0, everything else -> NaN
(:314-319).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.functions.fidelity import (
    AggSpec,
    build_agg_exprs,
    layout_of,
    qcol,
    resolve_percentile_impl,
    split_percentile_specs,
)


def align(ts: int, interval_ns: int) -> int:
    return ts - (ts % interval_ns)


def align_col(c: Column, step_ns: int) -> Column:
    """``align`` as a Column: the start of ``c``'s epoch-aligned
    ``step_ns`` bucket. pmod keeps it floored for pre-epoch values."""
    return c - F.pmod(c, F.lit(step_ns))


def _grouped_agg(df: DataFrame, win, specs: list[AggSpec], *, layout: str,
                 skip_non_finite: bool,
                 percentile_impl: str | None) -> DataFrame:
    """groupBy (metric, series_key, tags, window_start) with the spec
    aggregates. With percentile_impl="tdigest" and a mixed spec list the
    percentiles run as grouped-agg pandas UDFs in a SECOND groupBy on the
    same keys (Spark forbids mixing them with JVM aggregates in one
    agg()), joined back co-partitioned; column order follows ``specs``
    either way."""
    impl = resolve_percentile_impl(percentile_impl)
    jvm_specs, td_specs = split_percentile_specs(specs, impl)
    lay = layout_of(df, layout)
    # tags is NOT a grouping key: series_key is the canonical sorted-tag
    # encoding (datamodel.series_key_expr), so it determines tags exactly
    # and first(tags) per group is exact — same reasoning the emit-empty
    # series grid already uses. Grouping by the map instead costs a
    # per-ROW map_sort (Spark normalizes map grouping keys via
    # _groupingmapsort, 5 nodes in the old downsample_1d plan) and ships
    # the map inside the shuffle KEY; as an aggregate it rides once per
    # group in the value (guide §2.3: narrower shuffle keys).
    if not (td_specs and jvm_specs):
        exprs = build_agg_exprs(specs, lay,
                                skip_non_finite=skip_non_finite,
                                percentile_impl=impl)
        out = df.groupBy(F.col("metric"), F.col("series_key"), win).agg(
            F.first("tags").alias("tags"), *exprs)
        return out.select("metric", "series_key", "tags", "window_start",
                          *[qcol(s.out_name) for s in specs])
    jexprs = build_agg_exprs(jvm_specs, lay,
                             skip_non_finite=skip_non_finite)
    texprs = build_agg_exprs(td_specs, lay,
                             skip_non_finite=skip_non_finite,
                             percentile_impl="tdigest")
    jagg = df.groupBy(F.col("metric"), F.col("series_key"), win).agg(
        F.first("tags").alias("tags"), *jexprs)
    # tags (a map) can't be a join key; series_key determines it
    tagg = df.groupBy(F.col("metric"), F.col("series_key"), win).agg(*texprs)
    joined = jagg.join(tagg, ["metric", "series_key", "window_start"])
    return joined.select("metric", "series_key", "tags", "window_start",
                         *[qcol(s.out_name) for s in specs])


def downsample(
    df: DataFrame,
    interval_ns: int,
    specs: list[AggSpec],
    *,
    layout: str = "wide",
    slide: int | None = None,
    emit_empty: bool = False,
    q_start: int | None = None,
    q_end: int | None = None,
    empty_value: float = float("nan"),
    percentile_impl: str | None = None,
    series_universe: DataFrame | None = None,
) -> DataFrame:
    """Per-series window aggregation over ``df`` in ``layout``
    (``fidelity.layout_of``).

    Output columns: metric, series_key, tags, window_start (ns, inclusive),
    window_end (= start + interval, engine2/adapter.go:1579-1601), then one
    column per spec. ``emit_empty`` requires q_start < q_end.

    ``slide`` (ns, default ``interval_ns``) makes the windows HOP — absent
    from the reference (SURVEY.md §2.10 "Sliding / session windows:
    none"). Windows then start at every multiple of ``slide`` (epoch-
    aligned like the tumbling windows) and span ``interval_ns``, a whole
    multiple of ``slide``; a point with timestamp t belongs to the aligned
    starts in (t - interval, t]. Those starts are enumerated NARROWLY per
    row (sequence + explode — no join against a window grid), then the
    same groupBy. Input amplification is exactly interval/slide — the
    irreducible cost of overlapping windows — and the exchange carries
    (series x windows) groups, not rows. Integer arithmetic throughout
    (pmod, never `/`): ns timestamps exceed 2^53, so a double division
    would corrupt the alignment; and unlike SQL `div` (truncates toward
    zero), pmod keeps the alignment FLOORED for pre-epoch values of
    ts - interval, matching DuckDB's `//`.

    Empty windows (``emit_empty``) are laid on a grid stepping by the
    slide; their count/sum columns hold 0.0 and every other column holds
    ``empty_value`` (NaN, the reference's marker, unless the caller fills
    with a constant). A window with data never takes ``empty_value``: its
    aggregates are never NULL, so a NaN there came from the data.

    ``series_universe``: the frame the empty-window SERIES GRID derives
    from — pass the metric/tag-matched points WITHOUT the time-range
    filter. The reference resolves series through the tag index, which is
    range-INDEPENDENT, so a series whose points all fall outside
    [q_start, q_end] still emits its empty windows
    (multi_field_downsampling_iterator.go:305-333 operates per resolved
    series). Defaulting to ``df`` (the range-filtered input) silently
    drops such series — caught by the sf0.1 oracle run, round 3."""
    slide = interval_ns if slide is None else slide
    if interval_ns <= 0 or slide <= 0:
        raise ValueError("interval and slide must be positive")
    if interval_ns % slide:
        raise ValueError("interval must be a whole multiple of slide")
    ts = F.col("ts")
    rows = df
    if slide == interval_ns:
        win = align_col(ts, interval_ns).alias("window_start")
    else:
        # smallest aligned start > ts - interval; largest aligned start <= ts
        first = align_col(ts - interval_ns, slide) + slide
        last = align_col(ts, slide)
        rows = df.withColumn(
            "window_start", F.explode(F.sequence(first, last, F.lit(slide))))
        win = F.col("window_start")
    agg = _grouped_agg(rows, win, specs, layout=layout, skip_non_finite=False,
                       percentile_impl=percentile_impl)

    if emit_empty:
        if q_start is None or q_end is None or q_end <= q_start:
            raise ValueError(
                "EMIT EMPTY WINDOWS requires a bounded FROM..TO range "
                "(q_start < q_end)")
        first = align(q_start, slide)
        # windows enumerate while windowStart < qEnd (:180); sequence() is
        # inclusive so step back one slide from the first start >= qEnd.
        last = q_end - 1 - ((q_end - 1 - first) % slide)
        # map columns can't be DISTINCTed; series_key determines tags, so an
        # any-value per key is exact.
        universe = df if series_universe is None else series_universe
        series = (universe.groupBy("metric", "series_key")
                  .agg(F.first("tags").alias("tags")))
        grid = series.select(
            "metric", "series_key", "tags",
            F.explode(
                F.sequence(F.lit(first), F.lit(last), F.lit(slide))
            ).alias("window_start"),
        )
        # map columns aren't joinable; series_key determines tags, so join on
        # the key and keep the grid's tags column.
        agg = grid.join(agg.drop("tags"),
                        ["metric", "series_key", "window_start"], "left")
        for s in specs:
            empty = 0.0 if s.func in ("count", "sum") else empty_value
            name = s.out_name  # qcol: p99.9_lat carries a dot
            agg = agg.withColumn(name, F.coalesce(qcol(name), F.lit(float(empty))))

    return agg.withColumn("window_end", F.col("window_start") + F.lit(interval_ns))
