"""The points data model: tagged, multi-field time-series events.

Reference: ``core/datapoint.go:7-12`` — a DataPoint is
``(Metric string, Tags map[string]string, Timestamp int64 ns, Fields map)``.
A *series* is the unique combination (metric, sorted tags); the canonical
series key mirrors the sorted-tag encoding of ``core/tsdb_keys.go:116-151``
(string form ``metric|k=v,k=v`` with keys sorted). MVCC: every write carries a
monotonic sequence number (``engine2/adapter.go:465``); reads resolve
duplicates last-write-wins by highest seq (``iterator/iterator.go:61-62``).

Spark layout (wide form): one row per point with meta columns
``(metric string, tags map<string,string>, series_key string, ts long /*ns*/,
seq long)`` plus one typed column per field. Spark maps are monotyped, so
fields live as typed top-level columns (FIXTURES.md wide view); the long
format of FIXTURES.md is derivable via ``stack``/melt when needed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

META_COLS = ("metric", "tags", "series_key", "ts", "seq")

# Reference core/validator.go:13 — metric and tag-key name pattern; tag keys
# must not start with the reserved "__" prefix (core/validator.go:16,68-70).
NAME_RE = re.compile(r"^[^\W\d][\w:.]*$", re.UNICODE)


def validate_name(name: str) -> bool:
    """Name validity per core/validator.go:13 (unicode letters, _, :, then
    also digits and dots)."""
    return bool(NAME_RE.match(name.replace(":", "_")))


def series_key_expr(metric: Column, tags: Column) -> Column:
    """Canonical series key: metric + '|' + sorted 'k=v' pairs.

    Mirrors core/tsdb_keys.go:116-151 (legacy string series key with sorted
    tags); deterministic and group-able. Pure built-in expressions so it
    stays inside whole-stage codegen.

    DATA CONTRACT (ADVICE r9 #2): the encoding is injective over tag maps
    only while tag VALUES contain neither '=' nor ','. Tag keys and
    metric names cannot contain them (NAME_RE, mirrored from
    core/validator.go:13), but the reference validates label names only —
    values are unrestricted there too, so its string series key
    (core/tsdb_keys.go) carries the identical injectivity assumption.
    Operators that group by series_key and take first(tags) (downsample's
    grouped aggregate, the emit-empty grid, the tdigest join) rely on it.
    Escaping is deliberately NOT added here: the unescaped key mirrors
    the reference's legacy string key with printable separators and
    appears verbatim in query output; a deployment ingesting adversarial
    tag values must sanitize upstream.
    """
    kv = F.transform(
        F.array_sort(F.map_entries(tags)),
        lambda e: F.concat(e["key"], F.lit("="), e["value"]),
    )
    return F.concat(metric, F.lit("|"), F.array_join(kv, ","))


def source_ts_ns(df: DataFrame, col: str = "ts") -> Column:
    """Source timestamp column -> canonical long epoch-nanoseconds.

    The points model keeps ts as int64 ns — exactly the reference's
    representation (core/datapoint.go:10, UnixNano). Source tables vary:

    - long: already ns; truncated to whole µs because the DuckDB oracle
      reads timestamps at µs resolution (sub-µs digits unverifiable).
    - timestamp / timestamp_ntz (how Spark reads the driver's
      TIMESTAMP(MICROS) parquet): µs since epoch * 1000. NTZ is cast
      through TIMESTAMP under the session's UTC zone (load_table pins it),
      so wall-clock == epoch instant.
    """
    t = dict(df.dtypes)[col]
    c = F.col(col)
    if t in ("bigint", "long"):
        raw = c.cast("long")
        return raw - raw % F.lit(1000)
    return F.unix_micros(c.cast("timestamp")) * F.lit(1000)


def events_to_points(events: DataFrame) -> DataFrame:
    """Map the driver's ``events`` table onto the points model.

    events(event_id, ts timestamp, user_id, event_type, value double,
    props json) becomes::

        metric     = event_type
        tags       = {"user": str(user_id)}
        ts         = epoch nanoseconds
        seq        = event_id            (ingest order -> MVCC order)
        fields     = value double, k long (from props JSON)
    """
    ts_ns = source_ts_ns(events, "ts")
    raw = F.col("ts")
    # __raw_ts carries the source column UNCHANGED (long ns or
    # timestamp(_ntz)): predicates on the canonical ts can't push through
    # the conversion arithmetic to the parquet scan, so time_range() adds
    # equivalent bounds on __raw_ts — in the column's own type — for
    # row-group pruning (see operators/scan.py).
    return events.select(
        F.col("event_type").alias("metric"),
        F.create_map(F.lit("user"), F.col("user_id").cast("string")).alias("tags"),
        ts_ns.alias("ts"),
        raw.alias("__raw_ts"),
        F.col("event_id").cast("long").alias("seq"),
        F.col("value").cast("double").alias("value"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        # series_key written out directly: the tags map is built right here
        # with the single key "user", so the generic sorted-map-entries
        # expression of series_key_expr() collapses to a concat — much
        # less codegen to JIT on every query over the events view
        F.concat(F.col("event_type"), F.lit("|user="),
                 F.col("user_id").cast("string")).alias("series_key"),
    )


def field_columns(df: DataFrame) -> list[str]:
    """The field columns of a wide points frame = everything not meta."""
    return [c for c in df.columns if c not in META_COLS]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The caller may hand us a vanilla session (the driver does). UTC makes
    # the timestamp_ntz -> epoch conversion in source_ts_ns exact and any
    # timestamp rendering deterministic. Plain runtime SQL conf — safe here.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_to_points(load_table(spark, sf_dir, "events"))
