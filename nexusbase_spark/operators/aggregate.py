"""Final aggregation: the whole query range collapses to ONE row.

Reference: ``iterator/multi_field_aggregator.go:91-344`` — consumes the whole
merged stream, one accumulator per referenced field, and (crucially)
aggregates across ALL matching series combined; the result is keyed by a
synthetic series of the metric with no tags (``engine2/adapter.go:1349-1364``).
Inputs that are NaN/±Inf are skipped (aggregator.go:56-59).

Spark mapping: a global ``agg`` — Catalyst runs it as partial (map-side)
aggregation + a single-partition final reduce, which is exactly the
scalable version of the reference's single-threaded fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nexusbase_spark.functions.fidelity import (
    AggSpec, build_agg_exprs, layout_of, qcol, resolve_percentile_impl,
    split_percentile_specs)


def final_aggregate(
    df: DataFrame,
    specs: list[AggSpec],
    *,
    layout: str = "wide",
    percentile_impl: str | None = None,
    keep_metric: bool = False,
) -> DataFrame:
    """One output row over the filtered frame (all series combined);
    ``layout`` is how ``df`` stores its fields (``fidelity.layout_of``).

    With ``percentile_impl="tdigest"`` and a spec list mixing percentiles
    with other functions, the percentiles aggregate separately (grouped-
    agg pandas UDFs can't share an agg() with JVM aggregates) and the two
    single-row (or per-metric) results join back."""
    impl = resolve_percentile_impl(percentile_impl)
    jvm_specs, td_specs = split_percentile_specs(specs, impl)
    lay = layout_of(df, layout)
    if not (td_specs and jvm_specs):
        exprs = build_agg_exprs(specs, lay, skip_non_finite=True,
                                percentile_impl=impl)
        if keep_metric:
            return df.groupBy("metric").agg(*exprs)
        return df.agg(*exprs)
    jexprs = build_agg_exprs(jvm_specs, lay, skip_non_finite=True)
    texprs = build_agg_exprs(td_specs, lay, skip_non_finite=True,
                             percentile_impl="tdigest")
    names = [s.out_name for s in specs]
    if keep_metric:
        out = (df.groupBy("metric").agg(*jexprs)
               .join(df.groupBy("metric").agg(*texprs), "metric"))
        return out.select("metric", *[qcol(n_) for n_ in names])
    return (df.agg(*jexprs).crossJoin(df.agg(*texprs))).select(
        *[qcol(n_) for n_ in names])
