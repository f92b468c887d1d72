"""Aggregation functions with the reference's numeric fidelity rules.

Reference: ``iterator/multi_field_aggregator.go`` (final aggregation) and
``iterator/multi_field_downsampling_iterator.go`` (windowed downsampling).
The rules a correctness oracle will hit (SURVEY.md §2.5):

- ints/bools/strings: ints coerce to float64 (aggregator.go:48-54); strings
  and bools are counted by ``count`` but invisible to numeric aggs.
- empty numeric input: sum -> 0, count -> 0, everything else -> NaN
  (aggregator.go:249-304). Spark yields NULL, so we map NULL -> NaN.
- the FINAL aggregator skips NaN/Inf inputs (aggregator.go:56-59); the
  DOWNSAMPLER does not (no such check in its Add path) — but its min/max
  comparisons (`if v < min`) are NaN-blind, so NaN poisons sum/avg/stddev
  while min/max skip it. We reproduce both behaviors.
- ``first``/``last``: first/last NUMERIC value in global stream order
  (timestamp, series_key, seq desc — iterator/iterator.go:41-63).
- ``frac``: (last-first)/first; NaN if <2 numerics; first==0 -> 0 / +Inf /
  -Inf by sign of last (aggregator.go:279-292).
- ``stddev``: sample stddev, NaN if n<2 (aggregator.go:293-304).
- ``p<N>``: percentile; the reference uses a t-digest (approximate). We
  default to exact ``percentile`` (matches a SQL oracle); ``approx=True``
  switches to ``percentile_approx`` — the 100TB scale path, single-pass and
  mergeable like the reference's t-digest.
- result naming: ``<func>_<field>`` unless aliased; ``count(*)`` -> ``count_*``
  (core/aggregation.go:12-17).

These rules are written once, here, over two input layouts: the wide frames
of the query registry and the long points view the NBQL planner reads.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.datamodel import field_columns


def _nan() -> Column:
    return F.lit(float("nan"))


_P_RE = re.compile(r"^p(\d+(?:\.\d+)?)$")

AGG_FUNCS = ("count", "sum", "avg", "min", "max", "first", "last", "frac", "stddev")


def qcol(name: str) -> Column:
    """``F.col`` that treats ``name`` as an EXACT column name. Fractional
    percentiles put a dot in the ``<func>_<field>`` output contract
    (``p99.9(lat)`` -> column ``p99.9_lat``), and a bare ``F.col`` /
    string select parses the dot as struct navigation
    (UNRESOLVED_COLUMN `p99`.`9_lat` — found by the execution-level
    grammar fuzz). Backtick-quote every by-name re-reference of an
    aggregate output instead."""
    return F.col("`" + name.replace("`", "``") + "`")


def parse_agg_func(func: str) -> tuple[str, float | None]:
    """'p95' -> ('percentile', 0.95); validates 0<=N<=100 (agg_helpers.go:8-16)."""
    func = func.lower()
    m = _P_RE.match(func)
    if m:
        n = float(m.group(1))
        if not 0 <= n <= 100:
            raise ValueError(f"percentile out of range: {func}")
        return "percentile", n / 100.0
    if func not in AGG_FUNCS:
        raise ValueError(f"unknown aggregation function: {func}")
    return func, None


@dataclass(frozen=True)
class AggSpec:
    """One aggregate of a query: the registry's operators and NBQL's
    parser both build these."""
    func: str            # count|sum|avg|min|max|first|last|frac|stddev|p<N>
    field: str           # field name, or '*' (count only)
    alias: str | None = None

    @property
    def out_name(self) -> str:
        # core/aggregation.go:12-17 — alias if given else <func>_<field>;
        # count(*) is literally "count_*" (server/e2e_test.go:625-643).
        return self.alias or f"{self.func}_{self.field}"


def order_key() -> Column:
    """Global stream order (timestamp, series_key, seq desc) —
    iterator/iterator.go:41-63. seq is negated so that an ascending struct
    comparison puts the HIGHEST seq first among ties, like the heap does."""
    return F.struct(F.col("ts"), F.col("series_key"), (-F.col("seq")).alias("nseq"))


class WideLayout:
    """One column per field (the registry's frames): a field is present
    where its column is non-NULL, and string/boolean columns are invisible
    to numeric aggregates (aggregator.go:50-54)."""

    def __init__(self, df: DataFrame):
        fields = set(field_columns(df))
        self._types = {f.name: f.dataType.simpleString()
                       for f in df.schema.fields if f.name in fields}

    def point(self) -> Column:
        return F.lit(1)

    def present(self, field: str) -> Column:
        return F.col(field)

    def numeric(self, field: str) -> Column:
        if self._types.get(field, "double") in ("string", "boolean"):
            return F.lit(None).cast("double")
        return F.col(field).cast("double")


class LongLayout:
    """One row per (point, field) plus one marker row per point (the
    engine's points view, which NBQL reads). Every spec is gated on its
    field name, so a whole spec list is one pass with no pivot; count(*)
    counts the marker rows, i.e. POINTS, not field rows
    (iterator/multi_field_aggregator.go:181-184); ints widen to double and
    strings/bools carry neither f_double nor f_long."""

    def point(self) -> Column:
        return F.when(F.col("vtype") == "marker", F.lit(1))

    def present(self, field: str) -> Column:
        return F.when((F.col("field") == field) & (F.col("vtype") != "null"),
                      F.lit(1))

    def numeric(self, field: str) -> Column:
        return F.when(F.col("field") == field,
                      F.coalesce(F.col("f_double"), F.col("f_long").cast("double")))


def layout_of(df: DataFrame, layout: str) -> WideLayout | LongLayout:
    """The layout named ``layout`` ("wide" or "long") over ``df``. A layout
    gives three columns per row: ``point()`` is non-NULL once per point
    (count(*)), ``present(f)`` is non-NULL where field f has a value
    (count(f)), and ``numeric(f)`` is f as a double, NULL where f is
    absent or not numeric."""
    if layout == "wide":
        return WideLayout(df)
    if layout == "long":
        return LongLayout()
    raise ValueError(f"unknown layout {layout!r}")


def _nan_if_null(c: Column) -> Column:
    return F.coalesce(c, _nan())


def _finite_only(c: Column) -> Column:
    """NULL out NaN/±Inf — the final aggregator's input skip (aggregator.go:56-59)."""
    return F.when(F.isnan(c) | c.isin(float("inf"), float("-inf")), F.lit(None)).otherwise(c)


def _nan_blind(c: Column) -> Column:
    """NULL out NaN only — models the downsampler's `if v < min` comparisons,
    which never admit NaN but do admit ±Inf."""
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def resolve_percentile_impl(percentile_impl: str | None) -> str:
    impl = percentile_impl or "exact"
    if impl not in ("exact", "approx", "tdigest"):
        raise ValueError(f"unknown percentile_impl {impl!r}")
    return impl


def split_percentile_specs(specs: list[AggSpec],
                           impl: str) -> tuple[list[AggSpec], list[AggSpec]]:
    """-> (jvm_specs, tdigest_specs). Spark forbids mixing grouped-agg
    pandas UDFs with JVM aggregates in one agg() [INVALID_PANDAS_UDF_
    PLACEMENT], so with impl="tdigest" the percentile specs aggregate in
    a SECOND groupBy on the same keys and join back (the join is
    co-partitioned: both sides shuffle on identical group keys)."""
    if impl != "tdigest":
        return list(specs), []
    td = [s for s in specs if parse_agg_func(s.func)[0] == "percentile"]
    jvm = [s for s in specs if parse_agg_func(s.func)[0] != "percentile"]
    return jvm, td


def build_agg_exprs(
    specs: list[AggSpec],
    layout: WideLayout | LongLayout,
    *,
    skip_non_finite: bool,
    percentile_impl: str | None = None,
) -> list[Column]:
    """Build the aggregate expressions for one groupBy.

    ``layout`` says how the input frame stores field values (``layout_of``).
    first/last/frac order by ``order_key()``. ``skip_non_finite=True`` =
    final-aggregation semantics; ``False`` = downsampler semantics.

    ``percentile_impl`` selects the p<N> estimator: ``"exact"`` (default;
    the DuckDB-oracle path), ``"approx"`` (Spark's built-in mergeable
    sketch — the JVM-side scale path), or ``"tdigest"`` (strict parity
    with the reference's go-tdigest accumulator, functions/tdigest.py).
    """
    impl = resolve_percentile_impl(percentile_impl)
    # Multi-percentile buffer sharing (r10): N separate percentile(col, q)
    # aggregates each hold an INDEPENDENT buffer of every value in the
    # group (exact) or an independent sketch (approx) — for p50/p95/p99
    # that is 3x the memory, 3x the per-row update work and 3x the
    # serialized partial-aggregate exchange bytes. percentile(col,
    # array(q1..qk)) computes all k from ONE buffer with identical
    # per-q interpolation, so emitting getItem(i) of the SAME array
    # aggregate for each spec is value-identical; Catalyst deduplicates
    # semantically-equal aggregate expressions, leaving one buffer.
    pct_qs: dict[str, list[float]] = {}
    if impl in ("exact", "approx"):
        for spec in specs:
            func, q = parse_agg_func(spec.func)
            if func == "percentile":
                qs = pct_qs.setdefault(spec.field, [])
                if q not in qs:
                    qs.append(q)
    okey = order_key()
    exprs: list[Column] = []
    for spec in specs:
        func, q = parse_agg_func(spec.func)
        name = spec.out_name
        if func == "count" and spec.field == "*":
            exprs.append(F.count(layout.point()).alias(name))
            continue
        if func == "count":
            # non-null count of ANY type (aggregator.go:45,246)
            exprs.append(F.count(layout.present(spec.field)).alias(name))
            continue
        num = layout.numeric(spec.field)
        if skip_non_finite:
            num = _finite_only(num)
        if func == "sum":
            exprs.append(F.coalesce(F.sum(num), F.lit(0.0)).alias(name))
        elif func == "avg":
            exprs.append(_nan_if_null(F.avg(num)).alias(name))
        elif func in ("min", "max"):
            v = num if skip_non_finite else _nan_blind(num)
            agg = F.min(v) if func == "min" else F.max(v)
            exprs.append(_nan_if_null(agg).alias(name))
        elif func == "first":
            exprs.append(_nan_if_null(F.min_by(num, F.when(num.isNotNull(), okey))).alias(name))
        elif func == "last":
            exprs.append(_nan_if_null(F.max_by(num, F.when(num.isNotNull(), okey))).alias(name))
        elif func == "frac":
            # (last-first)/first over numeric values in stream order
            # (aggregator.go:279-292)
            n = F.count(num)
            first = F.min_by(num, F.when(num.isNotNull(), okey))
            last = F.max_by(num, F.when(num.isNotNull(), okey))
            expr = (
                F.when(n < 2, _nan())
                .when(
                    first == 0.0,
                    F.when(last == 0.0, F.lit(0.0))
                    .when(last > 0.0, F.lit(float("inf")))
                    .otherwise(F.lit(float("-inf"))),
                )
                .otherwise((last - first) / first)
            )
            exprs.append(expr.alias(name))
        elif func == "stddev":
            # sample stddev, NaN when n<2 (aggregator.go:293-304)
            exprs.append(_nan_if_null(F.stddev_samp(num)).alias(name))
        elif func == "percentile":
            qs = pct_qs.get(spec.field, [q])
            if impl == "approx":
                # scale path: single-pass mergeable JVM-side sketch
                # (shared across this field's percentile specs — see the
                # buffer-sharing note above)
                if len(qs) > 1:
                    arr = F.percentile_approx(
                        num, F.array(*[F.lit(x) for x in qs]))
                    exprs.append(
                        _nan_if_null(arr.getItem(qs.index(q))).alias(name))
                else:
                    exprs.append(_nan_if_null(F.percentile_approx(num, F.lit(q))).alias(name))
            elif impl == "tdigest":
                # strict parity with the reference's t-digest accumulator
                # (aggregator.go:23,81-86); Arrow-batched grouped agg.
                # NaN handling diverges from the exact path when
                # skip_non_finite=False: the sketch drops NaN (go-tdigest
                # rejects it) where F.percentile sorts it greatest — see
                # tdigest_quantile_agg's docstring.
                from nexusbase_spark.functions.tdigest import tdigest_quantile_agg
                # Arrow maps a returned NaN to NULL; restore the exact
                # path's NaN-for-empty-group convention
                exprs.append(_nan_if_null(tdigest_quantile_agg(q)(num)).alias(name))
            else:
                if len(qs) > 1:
                    arr = F.percentile(num, F.array(*[F.lit(x) for x in qs]))
                    exprs.append(
                        _nan_if_null(arr.getItem(qs.index(q))).alias(name))
                else:
                    exprs.append(_nan_if_null(F.percentile(num, F.lit(q))).alias(name))
        else:  # pragma: no cover
            raise ValueError(func)
    return exprs
