"""Declarative data-quality expectations — the contract-checking pass a
training-data pipeline runs on every ingest batch before anything
downstream trusts the table (the Great-Expectations shape, engine-side).

A check list compiles into ONE aggregate pass over the table: every
row-local expectation (not_null / in_range / in_set / matches / custom
predicate) becomes a conditional sum in the same agg, and uniqueness
becomes a count vs count-distinct in that same agg — a single scan with
map-side partial aggregation no matter how many checks. Referential-
integrity checks are the only ones that join (left-anti against the
referenced key set — broadcast when the dim is small, AQE decides).

At 100 TB: one scan for N row-local checks is the whole point; the
report is checks-sized. Exact count-distinct pays one shuffle on the
checked column — swap `unique` for an HLL sketch when approximate
uniqueness monitoring is enough (operators/sketches.py).

Output: one row per check — (check, kind, column, n_rows, violations,
passed).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.store import ParquetStore


def _violation_expr(kind: str, col: str, arg) -> Column:
    c = F.col(col)
    if kind == "not_null":
        return c.isNull()
    if kind == "in_range":
        lo, hi = arg
        return c.isNull() | (c < F.lit(lo)) | (c > F.lit(hi))
    if kind == "in_set":
        return c.isNull() | ~c.isin(list(arg))
    if kind == "matches":
        return c.isNull() | ~c.rlike(arg)
    if kind == "predicate":  # arg: Column, True = row OK
        return ~F.coalesce(arg, F.lit(False))
    raise ValueError(f"unknown expectation kind: {kind}")


def check_expectations(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Run a check list against ``df``.

    Each check: {"name": str, "kind": one of not_null / in_range /
    in_set / matches / predicate / unique / ref, "column": str, and for
    in_range "arg": (lo, hi), in_set "arg": iterable, matches "arg":
    regex string, predicate "arg": a boolean Column (True = row passes),
    ref "arg": (other_df, other_col)}.

    Returns (check, kind, column, n_rows, violations, passed) — one row
    per check in the given order.
    """
    spark = df.sparkSession
    row_local = [c for c in checks if c["kind"] not in ("unique", "ref")]
    uniques = [c for c in checks if c["kind"] == "unique"]
    refs = [c for c in checks if c["kind"] == "ref"]

    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(row_local):
        aggs.append(F.sum(
            _violation_expr(c["kind"], c.get("column", ""), c.get("arg"))
            .cast("long")).alias(f"__v{i}"))
    for i, c in enumerate(uniques):
        col = c["column"]
        aggs.append((F.count(col) - F.count_distinct(F.col(col)))
                    .alias(f"__u{i}"))
    row = df.agg(*aggs).collect()[0]
    n = int(row["__n"])

    out = []
    by_name = {}
    for i, c in enumerate(row_local):
        by_name[c["name"]] = (c, int(row[f"__v{i}"] or 0))
    for i, c in enumerate(uniques):
        by_name[c["name"]] = (c, int(row[f"__u{i}"] or 0))
    for c in refs:
        other_df, other_col = c["arg"]
        v = (df.select(F.col(c["column"]).alias("__k"))
             .filter(F.col("__k").isNotNull())
             .join(other_df.select(F.col(other_col).alias("__k")).distinct(),
                   "__k", "left_anti").count())
        by_name[c["name"]] = (c, int(v))
    for c in checks:
        spec, v = by_name[c["name"]]
        out.append((c["name"], c["kind"], c.get("column", ""), n, v, v == 0))
    return spark.createDataFrame(
        out, "check string, kind string, column string, n_rows long,"
             " violations long, passed boolean")


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Column profile report — the first look any pipeline takes at a new
    table: per column, null count, exact distinct count, numeric min/max,
    and string length min/max. ONE aggregate pass computes every
    null/min/max/length stat (conditional aggs share the scan, map-side
    combined); exact distincts ride the same agg (one expand per column —
    swap for approx_count_distinct when profiling petabytes and 2% error
    is fine; exact here so the DuckDB oracle can hash-check).

    Output long-format: (column, dtype, n_rows, n_nulls, n_distinct,
    num_min, num_max, len_min, len_max) — numeric stats NULL for
    non-numeric columns and vice versa; booleans/timestamps profile
    null/distinct only.
    """
    spark = df.sparkSession
    num_types = {"int", "bigint", "double", "float", "smallint", "tinyint",
                 "decimal", "long"}
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        is_num = dtypes[c].split("(")[0] in num_types
        is_str = dtypes[c] == "string"
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nul{i}"),
            F.count_distinct(F.col(c)).alias(f"__dst{i}"),
            (F.min(F.col(c).cast("double")) if is_num
             else F.lit(None).cast("double")).alias(f"__mn{i}"),
            (F.max(F.col(c).cast("double")) if is_num
             else F.lit(None).cast("double")).alias(f"__mx{i}"),
            (F.min(F.length(F.col(c))).cast("long") if is_str
             else F.lit(None).cast("long")).alias(f"__ln{i}"),
            (F.max(F.length(F.col(c))).cast("long") if is_str
             else F.lit(None).cast("long")).alias(f"__lx{i}"),
        ]
    row = df.agg(*aggs).collect()[0]
    out = [(c, dtypes[c], int(row["__n"]), int(row[f"__nul{i}"] or 0),
            int(row[f"__dst{i}"] or 0), row[f"__mn{i}"], row[f"__mx{i}"],
            row[f"__ln{i}"], row[f"__lx{i}"])
           for i, c in enumerate(cols)]
    return spark.createDataFrame(
        out, "column string, dtype string, n_rows long, n_nulls long,"
             " n_distinct long, num_min double, num_max double,"
             " len_min long, len_max long")


def expectations_sink(checks: list[dict], report_path: str):
    """Structured-Streaming sink: run the check list on every document
    micro-batch and APPEND the per-batch report (plus batch_id and a
    wall-clock-free batch ordinal) to a parquet quality-history table —
    the ingest-gate pattern: the report table trends violation counts
    per batch, alert rules read the latest row group, and the single
    aggregate pass per batch costs what the ingest write already costs.

    Note ref-integrity checks against a FIXED dimension work per batch;
    uniqueness is per-batch only (cross-batch uniqueness is the
    DedupIndex's job — state in a store, not in a stream)."""
    return ParquetStore.report_sink(
        lambda batch: check_expectations(batch, checks), report_path)


def table_diff(old: DataFrame, new: DataFrame, keys: str | list[str],
               compare_cols: list[str] | None = None,
               tol: float | None = None) -> DataFrame:
    """Row-level diff between two versions of a table (snapshot compare,
    migration audit, replication check, and every stored-vs-recomputed
    store audit): one full outer join on ``keys``, classifying each key
    as added / removed / changed. Output: (*keys, change) for every
    non-identical row; identical rows are dropped so the report is
    delta-sized.

    Columns compare with null-safe equality, under which NULL, NaN and
    +-Inf each equal themselves. With ``tol``, float/double columns also
    count as equal within ``tol`` (recomputes that shuffle in another
    order drift in the last ulp).

    Precondition: ``keys`` are unique per side (a duplicate key would
    fan out in the join) — pair with a ``unique`` expectation when that
    isn't guaranteed. For 100-column tables at corpus scale, pre-hash
    the compared columns to one 16-byte digest per side so the shuffle
    carries (keys, digest) instead of full rows; spelled out column-wise
    here so the oracle needs no cross-engine float formatting contract.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    cols = compare_cols or [c for c in old.columns if c not in keys]
    floats = {c for c in cols
              if old.schema[c].dataType.typeName() in ("float", "double")}

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(*keys, F.lit(True).alias(tag),
                         *[F.col(c).alias(f"{tag}_{c}") for c in cols])

    def differs(c: str) -> Column:
        a, b = F.col(f"__o_{c}"), F.col(f"__n_{c}")
        same = a.eqNullSafe(b)
        if tol is not None and c in floats:
            same = same | F.coalesce(F.abs(a - b) <= tol, F.lit(False))
        return ~same

    change = (F.when(F.col("__o").isNull(), F.lit("added"))
              .when(F.col("__n").isNull(), F.lit("removed"))
              .when(reduce(Column.__or__, map(differs, cols)),
                    F.lit("changed")))
    return (side(old, "__o").join(side(new, "__n"), keys, "full_outer")
            .select(*keys, change.alias("change"))
            .filter(F.col("change").isNotNull()))


def check_expectations_by_group(df: DataFrame, group_col: str,
                                checks: list[dict]) -> DataFrame:
    """Per-group expectations report: the row-local check list evaluated
    once per ``group_col`` value — which SOURCE is violating the
    contract, not just whether the table does. Same single-scan
    compilation as ``check_expectations`` (conditional sums share one
    groupBy; map-side combined), so N checks x G groups still costs one
    aggregation. ``unique``/``ref`` kinds are whole-table concepts and
    are rejected here (use check_expectations).

    Output long-format: (group_col, check, kind, column, n_rows,
    violations, passed) — one row per (group, check).
    """
    bad = [c["kind"] for c in checks if c["kind"] in ("unique", "ref")]
    if bad:
        raise ValueError(f"group-wise expectations don't support {bad}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(checks):
        aggs.append(F.sum(
            _violation_expr(c["kind"], c.get("column", ""), c.get("arg"))
            .cast("long")).alias(f"__v{i}"))
    g = df.groupBy(F.col(group_col)).agg(*aggs)
    rows = []
    for i, c in enumerate(checks):
        rows.append(g.select(
            F.col(group_col),
            F.lit(c["name"]).alias("check"),
            F.lit(c["kind"]).alias("kind"),
            F.lit(c.get("column", "")).alias("column"),
            F.col("__n").alias("n_rows"),
            F.coalesce(F.col(f"__v{i}"), F.lit(0)).alias("violations"),
            (F.coalesce(F.col(f"__v{i}"), F.lit(0)) == 0).alias("passed")))
    return reduce(lambda a, b: a.unionByName(b), rows)


def expectations_by_group_sink(checks: list[dict], group_col: str,
                               report_path: str):
    """Per-SOURCE ingest gate (the grouped twin of ``expectations_sink``):
    every micro-batch appends its ``check_expectations_by_group`` report
    tagged with the batch_id — one row per (group, check) per batch, so
    the history table carries each source's contract-violation trajectory,
    not just the table-wide one. Same single-aggregation-per-batch cost;
    the report is |groups| x |checks| rows, delta-sized forever."""
    return ParquetStore.report_sink(
        lambda batch: check_expectations_by_group(batch, group_col, checks),
        report_path)


def expectations_trend(spark, report_path: str, group_col: str,
                       *, min_batches: int = 2) -> DataFrame:
    """Violation-rate TREND per (group, check) over the ingest-gate
    history: OLS slope of violations/n_rows against the batch ordinal,
    plus the latest rate — the alert feed that catches a source whose
    quality is *deteriorating* before any single batch trips an absolute
    threshold. Reads only the report table (|groups| x |checks| x
    |batches| rows — gate-sized, never corpus-sized); the slope is a
    closed-form per-group aggregation, one pass. Groups with fewer than
    ``min_batches`` report rows emit slope NULL (no trend yet).

    Output: (group_col, check, n_batches, latest_rate, slope) where
    slope is d(rate)/d(batch ordinal)."""
    from pyspark.sql import Window

    hist = spark.read.parquet(report_path)
    rate = (F.col("violations") / F.col("n_rows").cast("double"))
    # batch ordinal per (group, check), robust to gaps in batch_id
    w = (Window.partitionBy(group_col, "check").orderBy("batch_id"))
    g = hist.select(group_col, "check", "batch_id", rate.alias("rate")) \
        .withColumn("i", F.row_number().over(w).cast("double"))
    wl = (Window.partitionBy(group_col, "check")
          .orderBy(F.col("batch_id").desc()))
    latest = (g.withColumn("__rn", F.row_number().over(wl))
              .filter(F.col("__rn") == 1)
              .select(group_col, "check", F.col("rate").alias("latest_rate")))
    ols = (g.groupBy(group_col, "check")
           .agg(F.count(F.lit(1)).alias("n_batches"),
                F.sum("i").alias("sx"), F.sum("rate").alias("sy"),
                F.sum(F.col("i") * F.col("rate")).alias("sxy"),
                F.sum(F.col("i") * F.col("i")).alias("sxx")))
    den = (F.col("n_batches") * F.col("sxx") - F.col("sx") * F.col("sx"))
    slope = F.when(
        (F.col("n_batches") >= min_batches) & (den != 0),
        (F.col("n_batches") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / den)
    return (ols.join(latest, [group_col, "check"])
            .select(group_col, "check",
                    F.col("n_batches").cast("long").alias("n_batches"),
                    "latest_rate", slope.alias("slope")))
