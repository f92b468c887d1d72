"""Access path: metric / tag / tag-matcher / time-range filters.

Reference: series resolution via roaring-bitmap tag index AND-intersection
(``indexer/tag_index_manager2.go:247-315``) + per-series LSM key-range scan
(``engine2/adapter.go:2796-2856``). On Spark both collapse into declarative
filters: Catalyst pushes the metric/tag equality and ts range down to the
Parquet scan (row-group min/max pruning is the analog of SSTable min/max-key
skip — SURVEY.md §4). At 100TB the points table is partitioned by metric and
a time bucket, so these filters become partition pruning, not data reads.
"""

from __future__ import annotations

import datetime
import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_EPOCH = datetime.datetime(1970, 1, 1)


def _ts_lit(us: int, dtype: str) -> Column:
    """A pushable literal of the raw ts column's own type for a whole-µs
    epoch instant. String-cast literals constant-fold in Catalyst, so the
    comparison stays a plain `col OP literal` the parquet source accepts."""
    s = (_EPOCH + datetime.timedelta(microseconds=us)).strftime("%Y-%m-%d %H:%M:%S.%f")
    return F.lit(s).cast(dtype)


def where(df: DataFrame, *preds: Column | None) -> DataFrame:
    """``df`` filtered by the conjunction of ``preds`` in ONE ``filter``
    (``None`` = no restriction): each ``filter`` is a JVM round trip that
    re-analyses the plan, so a read composes its predicates first."""
    pred = _all(preds)
    return df if pred is None else df.filter(pred)


def metric_pred(metric: str | None) -> Column | None:
    """Exact metric equality (engine2/adapter.go:1146-1153); None (every
    metric) for None."""
    return None if metric is None else F.col("metric") == metric


def tag_pred(tags: dict[str, str]) -> Column | None:
    """Conjunctive tag equality — ALL k=v must match; the engine has no OR,
    no regex, no != (indexer/tag_index_manager2.go:253-275)."""
    return _all(F.col("tags").getItem(k) == v for k, v in tags.items())


def series_pred(keys: list[str]) -> Column:
    """Series-key IN-list: the catalog-resolved form of ``tag_pred``. Map
    access never reaches the parquet scan; the IN-list does (row-group
    min/max skip)."""
    return F.col("series_key").isin(keys)


def time_pred(start: int | None, end: int | None, raw_type: str | None = None,
              day_ns: int | None = None) -> Column | None:
    """Inclusive BOTH ends: keys scanned in [start, end+1)
    (engine2/adapter.go:2798-2803).

    ``raw_type`` is the type of the frame's ``__raw_ts`` column (the
    unmodified source column — datamodel.events_to_points), if it has one:
    redundant bounds are added on it. The canonical ``ts`` is derived via
    arithmetic the optimizer can't invert, so a predicate on it never
    reaches the parquet scan. The raw bounds are equivalent-or-wider in
    the raw column's own type, semantically a no-op — but they ARE
    pushable, restoring row-group min/max pruning (the SSTable
    min/max-key skip analog, SURVEY.md §4).

    Raw-bound derivation (ts = canonical long ns, truncated to whole µs):
    - long raw (ns):        ts >= s  =>  raw >= s;  ts <= e  =>  raw <= e+999
    - timestamp raw (µs):   ts >= s  =>  raw >= ceil(s/1000) µs;
                            ts <= e  =>  raw <= floor(e/1000) µs  (exact)

    ``day_ns``: the frame carries a ``day`` partition column (ts floored
    to ``day_ns``); bounds on it prune whole day directories — the
    SSTable key-range skip at the directory level.
    """
    preds = []
    if start is not None:
        preds.append(F.col("ts") >= start)
        if raw_type in ("bigint", "long"):
            preds.append(F.col("__raw_ts") >= start)
        elif raw_type is not None:
            preds.append(F.col("__raw_ts") >= _ts_lit(-(-start // 1000), raw_type))
        if day_ns is not None:
            preds.append(F.col("day") >= start - start % day_ns)
    if end is not None:
        preds.append(F.col("ts") <= end)
        if raw_type in ("bigint", "long"):
            preds.append(F.col("__raw_ts") <= end + 999)
        elif raw_type is not None:
            preds.append(F.col("__raw_ts") <= _ts_lit(end // 1000, raw_type))
        if day_ns is not None:
            preds.append(F.col("day") <= end - end % day_ns)
    return _all(preds)


def matcher_pred(spark: SparkSession, matchers) -> Column | None:
    """NBQL's non-equality tag matchers, ``(key, op, value)`` with op
    ``!=``, ``=~`` or ``!~``: the tag must EXIST and differ / (not) match.
    These are scan-side predicates; equality rides the catalog IN-list
    instead (``series_pred``). A future optimization is resolving regexes
    against the catalog too (series-sized), then pushing the same
    IN-list."""
    preds = []
    for k, op, v in (matchers or []):
        tv = F.col("tags").getItem(k)
        if op == "!=":
            preds.append(tv.isNotNull() & (tv != v))
        elif op == "=~":
            preds.append(tv.isNotNull() & tv.rlike(_validated_regex(spark, v)))
        elif op == "!~":
            preds.append(tv.isNotNull() & ~tv.rlike(_validated_regex(spark, v)))
        else:
            raise ValueError(f"unknown tag matcher op: {op!r}")
    return _all(preds)


def _all(preds) -> Column | None:
    """The conjunction of the non-None ``preds``; None when there are
    none."""
    preds = [p for p in preds if p is not None]
    return functools.reduce(operator.and_, preds) if preds else None


# The DataFrame forms of the predicates above, for callers that filter one
# concern at a time.

def metric_filter(df: DataFrame, metric: str) -> DataFrame:
    return where(df, metric_pred(metric))


def tag_filter(df: DataFrame, tags: dict[str, str]) -> DataFrame:
    return where(df, tag_pred(tags))


def time_range(df: DataFrame, start: int | None, end: int | None) -> DataFrame:
    """``time_pred`` on ``df``, with raw bounds when it carries
    ``__raw_ts``."""
    return where(df, time_pred(start, end, dict(df.dtypes).get("__raw_ts")))


def relative_bounds(df: DataFrame, duration_ns: int,
                    now_ns: int | None = None) -> tuple[int, int] | None:
    """FROM RELATIVE(dur) bounds: End anchors to the data's max ts when
    that is <= clock-now (reference quirk, engine2/adapter.go:1236-1276);
    Start = End - dur. None when ``df`` holds no row. One small max()
    action over the already metric/tag-filtered frame (aggregate pushdown
    keeps it a stats read)."""
    max_ts = df.agg(F.max("ts")).collect()[0][0]
    if max_ts is None:
        return None
    end = max_ts if now_ns is None else min(max_ts, now_ns)
    return end - duration_ns, end


def relative_range(df: DataFrame, duration_ns: int, now_ns: int | None = None) -> DataFrame:
    """``df`` restricted to its RELATIVE(dur) window (``relative_bounds``),
    inclusive both ends; empty when ``df`` is."""
    bounds = relative_bounds(df, duration_ns, now_ns)
    if bounds is None:
        return df.filter(F.lit(False))
    return time_range(df, *bounds)


def _validated_regex(spark: SparkSession, pattern: str) -> str:
    """Reject an invalid =~ / !~ pattern at PLAN time as NBQLError.
    rlike compiles the pattern inside whole-stage codegen, so a bad
    client pattern otherwise aborts the whole Spark JOB with a raw
    PatternSyntaxException out of an executor task (found by matcher
    fuzzing). Validated against java.util.regex itself — the exact
    dialect the executor uses (Python's re accepts e.g. 'a{,' which
    Java rejects, so re.compile would under-reject)."""
    from nexusbase_spark.nbql.parser import NBQLError

    try:
        spark._jvm.java.util.regex.Pattern.compile(pattern)
    except Exception as e:
        # Only a PatternSyntaxException is a CLIENT error; anything else
        # (dead gateway, connection reset) is a server fault and must
        # propagate as one, not be misreported as a bad pattern
        # (ADVICE r8). The throwable rides on `java_exception` for a
        # raw Py4JJavaError and on `_origin` after pyspark's
        # capture-conversion (PatternSyntaxException arrives as a
        # captured IllegalArgumentException).
        je = getattr(e, "java_exception", None)
        if je is None:
            je = getattr(e, "_origin", None)
        try:
            jclass = je.getClass().getName() if je is not None else None
        except Exception:
            jclass = None
        if jclass != "java.util.regex.PatternSyntaxException":
            raise
        msg = je.getMessage()
        raise NBQLError(
            f"invalid tag matcher regex {pattern!r}: "
            f"{str(msg).splitlines()[0]}") from None
    return pattern
