"""SparkSession factory with scale-oriented defaults.

Defaults target a large cluster run (AQE on, skew-join handling, partial
aggregation via Catalyst) while remaining correct on local[N]. Everything
here is plain public Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # UTC everywhere: parquet naive timestamps must decode identically in
    # Spark and the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing, skew-join splitting, dynamic join strategy —
    # this is the 100TB insurance policy (skewed series keys, lopsided tags).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst keeps post-shuffle partitions tiny to fill idle
    # cores; with 32 threads on small-to-medium shuffles that is pure task
    # overhead (measured ~10-15% of warm query time here). False = respect
    # the 64MB advisory size; at 100TB that still yields ample partitions.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # On a real cluster this is ~2-3x total cores (set per deployment); for
    # the local harness, 16 initial map buckets beat 32 by ~8% on the warm
    # headline suite (interleaved A/B, round 2): AQE's 64MB advisory
    # coalescing decides the REDUCE parallelism either way, so the initial
    # count is pure map-side bucket overhead at this data size.
    "spark.sql.shuffle.partitions": "16",
    # Arrow for any pandas_udf / toPandas path (vectorized, not row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local[N] runs the whole engine in ONE JVM that defaults to a 1g heap
    # — a 32-thread shuffle of array columns OOMs at ~1M docs while the
    # host sits on >100 GiB free (measured at 800k docs: SCALE.md,
    # "Round-3 DedupIndex probe"). 16g is the local-harness analog of a
    # real cluster's per-executor memory; on a cluster this key is set per
    # deployment.
    # Only effective when THIS builder launches the JVM (ignored by
    # getOrCreate when a session already exists, e.g. the grading driver's
    # vanilla session — all oracle queries stay 1g-safe regardless).
    "spark.driver.memory": "16g",
    # Broadcast small dimension/tombstone tables automatically.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # The driver's parquet timestamps are TIMESTAMP(MICROS), read natively
    # as timestamp_ntz; datamodel.source_ts_ns converts them to the
    # reference's int64-ns representation (core/datapoint.go:10, UnixNano).
    # Parquet pushdown knobs are on by default in Spark; stated explicitly
    # because the engine depends on them (SURVEY.md §4: key-range pruning ->
    # row-group min/max stats).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # No per-call call-site capture on Column functions. With it on, each
    # decorated pyspark function (pyspark/errors/utils.py _with_origin)
    # makes extra JVM round trips: active-session lookup, origin class
    # lookup, a conf read, set and clear. Counted with a py4j call
    # counter, the plan_query of a tagged NBQL range query made 533 round
    # trips with it on and 293 with it off.
    # Lost: Spark error messages no longer carry the "== DataFrame =="
    # Python call site, which here would name engine internals; NBQL
    # errors are typed anyway. Must be set when the session is built:
    # pyspark caches the value for the whole process on the first Column
    # call, so an engine cannot turn it off later.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "nexusbase-spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the session. Honors SPARK_GRAFT_CPUS for local runs."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
