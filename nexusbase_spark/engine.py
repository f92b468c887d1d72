"""NexusEngine: the stateful engine — PUSH / QUERY / REMOVE / SHOW /
SNAPSHOT / RESTORE over a parquet warehouse.

Storage layout (the Spark translation of the reference's LSM, SURVEY.md §4):

    <warehouse>/points/       long-format points, partitioned by (metric, day)
    <warehouse>/l0/           small put/put_batch appends awaiting merge
                              (memtable/L0 analog; merged after l0_trigger
                              batches or FLUSH — only L0 data is rewritten)
    <warehouse>/tomb_point/   point tombstones   (series_key, ts, seq)
    <warehouse>/tomb_series/  series tombstones  (series_key, seq)
    <warehouse>/tomb_range/   range tombstones   (series_key, min_ts, max_ts, seq)
    <warehouse>/_format       format stamp, written once when the warehouse
                              is created; opening a warehouse that holds
                              data without this exact stamp raises

Long-format points row (FIXTURES.md; Spark maps are monotyped so each field
value carries exactly one typed column per core/fields.go:15-21):

    (metric, tags, series_key, ts, seq, field, vtype,
     f_double, f_long, f_string, f_bool)

Every point also carries one marker row (field='', vtype='marker', all
f_* NULL), so count(*) is a plain conditional count, not a distinct.

Every ingest batch appends files with a fresh monotonic seq range — the
append-only + MVCC-read design of the reference's WAL/memtable/SSTable
stack (engine2/adapter.go:465), with parquet appends playing the role of
L0 flushes and read-side dedup playing the merge. ``compact()`` is the
OPTIMIZE analog: it materializes the dedup+tombstone view and rewrites.

Reads resolve: (a) MVCC last-write-wins at (series_key, ts) — a re-push
replaces the WHOLE point, all fields (iterator/iterator.go:270-289);
(b) point/series/range tombstones with seq cutoffs, so re-pushed data
resurrects (engine2/adapter.go:2773-2791).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, MapType, StringType, StructField,
    StructType,
)

from nexusbase_spark.datamodel import series_key_expr, validate_name
from nexusbase_spark.functions.fidelity import AggSpec, qcol
from nexusbase_spark.nbql.ast import QueryStatement
from nexusbase_spark.operators.downsample import align, align_col
from nexusbase_spark.operators.mvcc import visible
from nexusbase_spark.operators.order import order_windows
from nexusbase_spark.operators.scan import (
    apply_tag_matchers, metric_filter, tag_filter,
)
from nexusbase_spark.operators.tagindex import SeriesCatalog

POINTS_SCHEMA = StructType([
    StructField("metric", StringType(), False),
    StructField("tags", MapType(StringType(), StringType()), True),
    StructField("ts", LongType(), False),
    StructField("seq", LongType(), False),
    StructField("field", StringType(), False),
    StructField("vtype", StringType(), False),
    StructField("f_double", DoubleType(), True),
    StructField("f_long", LongType(), True),
    StructField("f_string", StringType(), True),
    StructField("f_bool", BooleanType(), True),
])

# The declared schemas every engine-owned directory is read with, so no
# read runs a schema-inference job, and a directory holding no committed
# file yet (an append being born, or a crashed one's staging area) reads
# as 0 rows. points/ and l0/ files add series_key; metric and day are the
# partition directories.
_POINTS_DIR_SCHEMA = StructType(POINTS_SCHEMA.fields + [
    StructField("series_key", StringType()), StructField("day", LongType())])
_TOMB_SCHEMAS = {
    "point": "series_key string, ts long, seq long",
    "series": "series_key string, seq long",
    "range": "series_key string, min_ts long, max_ts long, seq long",
}

_NAN = float("nan")

DAY_NS = 86_400 * 1_000_000_000

# The one warehouse format: per-point marker rows, points partitioned by
# (metric, day). Stamped into <warehouse>/_format; byte-identical to the
# stamp earlier releases wrote, so their warehouses and snapshots open.
FORMAT_STAMP = "point_markers=1\nlayout=metric_day\n"


def _window_day(ts: Column, interval_ns: int) -> Column:
    """The UTC day (ns) of the ``interval_ns`` window holding ``ts``: the
    rollup day partition a point belongs to. CREATE, REFRESH and VERIFY
    ROLLUP all locate points with it, so they agree on which day a point
    dirties."""
    return align_col(align_col(ts, interval_ns), DAY_NS)


def _typed(value) -> tuple[str, float | None, int | None, str | None, bool | None]:
    """Literal -> (vtype, f_double, f_long, f_string, f_bool); float32
    promotes to float64, int to int64 (core/fields.go:177-182)."""
    if value is None:
        return ("null", None, None, None, None)
    if isinstance(value, bool):
        return ("bool", None, None, None, value)
    if isinstance(value, int):
        return ("int", None, int(value), None, None)
    if isinstance(value, float):
        return ("float", float(value), None, None, None)
    if isinstance(value, str):
        return ("string", None, None, value, None)
    raise TypeError(f"unsupported field value type: {type(value).__name__}")


class _ScanLock:
    """Readers-writer lock guarding DESTRUCTIVE warehouse rewrites against
    in-flight result materialization. The servers are threaded
    (socketserver.ThreadingTCPServer / ThreadingHTTPServer), so a QUERY can
    be draining rows while another connection's FLUSH or RESTORE deletes
    the very parquet files the scan already planned — Spark fails that
    read with a missing-file error (or silently skips under
    ignoreMissingFiles, losing rows whose base copy the stale plan never
    listed). APPENDS never need this lock: a scan's file listing simply
    doesn't see files born after planning (snapshot semantics). Only
    operations that DELETE or MOVE files take the write side:
    flush_l0 (rmtree of l0/), compact (rmtree+rename of points/),
    restore (replaces every warehouse dir), refresh_rollup's per-day
    overwrite. This mirrors the reference's refcounted-SSTable protocol —
    iterators pin their SSTables for the cursor's lifetime and compaction
    waits for the refcount (levels manager) — with the read guard playing
    the refcount. flush_l0, compact and restore also bump the engine's
    write generation INSIDE the write section, which invalidates the
    cached base scan (``NexusEngine._base``): no reader after the
    rewrite plans the file listing it replaced. Writer-preference so a
    steady query stream cannot starve a flush. NOT reentrant: a thread
    must never nest read() inside write() or vice versa (internal engine
    materialization runs under the write side and must not take read
    guards)."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    @contextlib.contextmanager
    def read(self):
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                if self._readers == 0:
                    self._cond.notify_all()

    @contextlib.contextmanager
    def write(self):
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writer or self._readers:
                    self._cond.wait()
            except BaseException:
                # A wait interrupted mid-block (e.g. KeyboardInterrupt)
                # must not leak the waiting count, or every future read()
                # blocks forever behind a phantom writer (ADVICE r6).
                self._writers_waiting -= 1
                self._cond.notify_all()
                raise
            self._writers_waiting -= 1
            self._writer = True
        try:
            yield
        finally:
            with self._cond:
                self._writer = False
                self._cond.notify_all()


def _check_stamp(path: str) -> None:
    """Raise ValueError unless the file at ``path`` holds FORMAT_STAMP."""
    try:
        with open(path) as f:
            ok = f.read() == FORMAT_STAMP
    except (OSError, UnicodeDecodeError):
        ok = False
    if not ok:
        raise ValueError(
            f"{path} is missing or is not the format stamp {FORMAT_STAMP!r}: "
            "only the per-point-marker, (metric, day)-partitioned "
            "warehouse format is readable")


def _serialized(fn):
    """Run an engine write-path method under the engine's writer mutex
    (RLock — the paths nest: put -> put_batch -> flush_l0). The threaded
    servers otherwise interleave two PUSHes inside _next_seq (duplicate
    seqs break MVCC last-write-wins ties), race the L0 batch counter, or
    run two flushes over the same l0/ directory."""
    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._write_mu:
            return fn(self, *args, **kwargs)
    return wrapper


class NexusEngine:
    def __init__(self, spark: SparkSession, warehouse: str,
                 l0_trigger: int = 4, cache_capacity: int = 0,
                 hooks=None):
        self.spark = spark
        self.warehouse = warehouse
        # Query-result cache (cache/cache.go + api/nbql/cache_key.go —
        # built but unwired in the reference; wired here with write-
        # generation invalidation). 0 = disabled. ``hooks`` is an optional
        # HookBus; the engine publishes post_compaction events on it.
        from nexusbase_spark.cache import LRUCache
        self.result_cache = LRUCache(
            cache_capacity,
            on_evicted=lambda k, v: self._emit("on_cache_eviction", {"key": k}))
        self.cache_max_rows = 100_000  # don't retain giant results
        # Bumped by every change of the warehouse's file set: after an
        # append returns, and inside the write section of a rewrite. It
        # keys the result cache and the base scan (_base).
        self._write_gen = 0
        self._base_mu = threading.Lock()  # leaf lock: a base build or a counter bump
        self._base_gen = -1
        self._base_frames = None
        self._base_builds = self._base_reuses = 0
        self.rollup_rewrites = 0  # queries served by _try_rollup_rewrite
        # Writer mutex: the servers handle connections on threads, but the
        # engine's write path mutates shared state (the seq counter, the
        # L0 batch counter/dir, the catalog, tombstone dirs) with no other
        # coordination — the reference serializes writes the same way (one
        # WAL append / memtable mutex, engine2/adapter.go's engine lock).
        # RLock: put() nests put_batch(), put_batch() nests flush_l0().
        self._write_mu = threading.RLock()
        # Destructive-rewrite vs in-flight-scan coordination (see _ScanLock)
        self._scan_rw = _ScanLock()
        self.hooks = hooks
        # Lazy driver-side series/metric sets for on_series_create /
        # on_string_create (hooks.go:61-63). None = not yet loaded; only
        # maintained while a hook bus is attached (zero cost otherwise).
        self._known_series: set[str] | None = None
        self._known_metrics: set[str] | None = None
        self._emit("pre_start_engine", {"warehouse": warehouse})
        os.makedirs(warehouse, exist_ok=True)
        self._points_path = os.path.join(warehouse, "points")
        # L0 tier: small put/put_batch appends land here (one coalesced
        # file per partition dir) and are merged into points/ after
        # ``l0_trigger`` batches — the memtable/L0 -> L1 compaction analog
        # (cmd/server/config.yaml:37 triggers L0 at 4 files). Merging only
        # rewrites L0 data, so ingest cost stays O(batch), not O(table).
        self._l0_path = os.path.join(warehouse, "l0")
        self._l0_count_path = os.path.join(warehouse, "_l0_batches")
        self.l0_trigger = l0_trigger
        self._tomb = {
            "point": os.path.join(warehouse, "tomb_point"),
            "series": os.path.join(warehouse, "tomb_series"),
            "range": os.path.join(warehouse, "tomb_range"),
        }
        self._seq = self._load_max_seq() + 1
        # The format stamp is checked before anything else touches the
        # warehouse: one without durable rows is stamped, one holding rows
        # under another stamp (or none) is refused, never half-served.
        self._format_path = os.path.join(warehouse, "_format")
        if self._seq == 0 and not os.path.isfile(self._format_path):
            with open(self._format_path, "w") as f:
                f.write(FORMAT_STAMP)
        _check_stamp(self._format_path)
        if self._seq > 0:
            # open-time rescan of existing warehouse state — the WAL
            # replay analog (the parquet appends ARE the durable log)
            self._emit("post_wal_recovery", {"max_seq": self._seq - 1})
        # Tag-index analog (operators/tagindex.py). Invariant: while the
        # engine is live the catalog is COMPLETE (every ingested series
        # present) or absent; a warehouse without one is indexed here.
        self._catalog = SeriesCatalog(os.path.join(warehouse, "catalog"))
        has_data = os.path.isdir(self._points_path) or os.path.isdir(self._l0_path)
        if has_data and not self._catalog.exists():
            self._catalog.rebuild(self._base()[0])
        self._emit("post_start_engine", {"warehouse": warehouse,
                                         "next_seq": self._seq})

    # -------------------------------------------------------------- hooks

    def _emit(self, event: str, payload, batch_id: int = -1) -> None:
        """Publish a lifecycle event on the attached HookBus (no-op when
        none). Event names mirror hooks/hooks.go:17-71 snake_cased; the
        publish points below are the Spark-warehouse analogs of the
        reference's LSM sites (SSTable -> parquet append, WAL -> durable
        L0 append, manifest -> snapshot manifest / format file)."""
        if self.hooks is not None:
            self.hooks.publish(event, payload, batch_id)

    @_serialized
    def close(self) -> None:
        """Graceful shutdown (PreCloseEngine/PostCloseEngine): merge the
        L0 tier down so a reopen needs no recovery work. Safe to call on
        an already-closed engine."""
        self._emit("pre_close_engine", {"warehouse": self.warehouse})
        self.flush_l0()
        self._emit("post_close_engine", {"warehouse": self.warehouse})
        if self.hooks is not None:
            # drain in-flight async post-listeners (hooks.go:645-648)
            self.hooks.stop()

    def _track_new_names(self, pairs: list[tuple[str, str]]) -> None:
        """on_series_create / on_string_create from the driver put path:
        ``pairs`` = (metric, series_key) per ingested point. The known
        sets load lazily from the catalog (series cardinality, driver-
        sized — the reference holds its whole tag index in memory too)."""
        if self.hooks is None:
            return
        if not (self.hooks.has_listeners("on_series_create")
                or self.hooks.has_listeners("on_string_create")):
            return
        if self._known_series is None:
            self._known_series, self._known_metrics = set(), set()
            if self._catalog.exists():
                import pyarrow.dataset as ds
                t = ds.dataset(self._catalog.path, format="parquet") \
                    .to_table(columns=["metric", "series_key"])
                self._known_metrics = set(t.column("metric").to_pylist())
                self._known_series = set(t.column("series_key").to_pylist())
        for metric, sk in pairs:
            if metric not in self._known_metrics:
                self._known_metrics.add(metric)
                self._emit("on_string_create", {"kind": "metric",
                                                "value": metric})
            if sk not in self._known_series:
                self._known_series.add(sk)
                self._emit("on_series_create", {"series_key": sk,
                                                "metric": metric})

    # ------------------------------------------------------------- ingest

    def _l0_batches(self) -> int:
        try:
            with open(self._l0_count_path) as f:
                return int(f.read().strip() or 0)
        except (FileNotFoundError, ValueError):
            return 0

    def _set_l0_batches(self, n: int) -> None:
        with open(self._l0_count_path, "w") as f:
            f.write(str(n))

    def _load_max_seq(self) -> int:
        """Open-time WAL-recovery analog: max committed seq across every
        warehouse dir, in one job. A dir left behind by a CRASHED append
        (created, nothing committed — only staging files) reads as 0
        rows, so recovery sees exactly the durable rows, which is the
        WAL-replay contract."""
        dirs = [(self._points_path, _POINTS_DIR_SCHEMA),
                (self._l0_path, _POINTS_DIR_SCHEMA),
                *((p, _TOMB_SCHEMAS[k]) for k, p in self._tomb.items())]
        seqs = [df.select("seq") for df in
                (self._read_dir(p, schema) for p, schema in dirs)
                if df is not None]
        if not seqs:
            return -1
        best = functools.reduce(DataFrame.union, seqs).agg(F.max("seq")).collect()[0][0]
        return -1 if best is None else best

    def _next_seq(self) -> int:
        s = self._seq
        self._seq += 1
        return s

    @staticmethod
    def _now_ns() -> int:
        return time.time_ns()

    def _write_points(self, df: DataFrame, path: str | None = None,
                      mode: str = "append",
                      coalesce: int | None = None) -> None:
        """Append/overwrite into the points layout, partitioned by metric
        and ``day`` (the point's UTC day start in ns, arithmetic only — no
        float division of int64 timestamps)."""
        path = path or self._points_path
        if coalesce is not None:
            df = df.coalesce(coalesce)
        df = df.withColumn("day", align_col(F.col("ts"), DAY_NS))
        df.write.mode(mode).partitionBy("metric", "day").parquet(path)
        # a parquet append is the SSTable-create analog (hooks.go:48)
        self._emit("post_sstable_create", {"path": path, "mode": mode})

    @_serialized
    def put(self, metric: str, tags: dict[str, str] | None,
            fields: dict[str, object], ts: int | None = None) -> int:
        """Single-point ingest (gRPC Put / NBQL PUSH —
        engine2/adapter.go:436-633). Returns the assigned seq.

        pre_put_data_point's payload is mutable (the reference passes
        pointers — hooks.go PrePutDataPointPayload — so listeners can
        rewrite the point before it lands); the possibly-edited values
        are what get written."""
        payload = {"metric": metric, "tags": dict(tags or {}),
                   "fields": dict(fields), "ts": ts}
        self._emit("pre_put_data_point", payload)
        # Assign the timestamp HERE when the caller (or a pre-listener)
        # left it None, so the post event carries the landed point — the
        # reference's PostPutDataPoint sees the stored ts, not the
        # request's (hooks.go PostPutDataPointPayload).
        landed_ts = (self._now_ns() if payload["ts"] is None
                     else int(payload["ts"]))
        seq = self.put_batch([(payload["metric"], payload["tags"],
                               payload["fields"], landed_ts)])
        self._emit("post_put_data_point",
                   {**payload, "ts": landed_ts, "seq": seq})
        return seq

    @_serialized
    def put_batch(self, points: list[tuple]) -> int:
        """Atomic batch ingest (PutBatch — engine2/adapter.go:635-749).
        One seq per point, one parquet append per batch (the WAL-batch
        analog). Returns the last assigned seq."""
        self._emit("pre_put_batch", {"points": points})
        rows = []
        last_seq = -1
        for metric, tags, fields, ts in points:
            if not validate_name(metric):
                raise ValueError(f"invalid metric name: {metric!r}")
            for k in (tags or {}):
                if k.startswith("__") or not validate_name(k):
                    raise ValueError(f"invalid tag key: {k!r}")
            last_seq = self._next_seq()
            ts = self._now_ns() if ts is None else int(ts)
            for fname, fval in fields.items():
                vtype, fd, fl, fs, fb = _typed(fval)
                rows.append((metric, dict(tags or {}), ts, last_seq,
                             fname, vtype, fd, fl, fs, fb))
            rows.append((metric, dict(tags or {}), ts, last_seq,
                         "", "marker", None, None, None, None))
        df = self.spark.createDataFrame(rows, POINTS_SCHEMA)
        df = df.withColumn("series_key", series_key_expr(F.col("metric"), F.col("tags")))
        # driver-side batches are small by definition: one file per
        # partition dir, into the L0 tier. This append IS the durability
        # write — the WAL-append analog (pre/post_wal_append bracket it).
        self._emit("pre_wal_append", {"n_points": len(points),
                                      "last_seq": last_seq})
        self._write_points(df, path=self._l0_path, coalesce=1)
        self._emit("post_wal_append", {"n_points": len(points),
                                       "last_seq": last_seq})
        cat_rows = [(p[0], p[1] or {}, self._series_key(p[0], p[1] or {}))
                    for p in points]
        self._track_new_names([(m, sk) for m, _t, sk in cat_rows])
        self._catalog.append_points(cat_rows)
        n = self._l0_batches() + 1
        self._set_l0_batches(n)
        if n >= self.l0_trigger:
            self.flush_l0()
        self._write_gen += 1
        self._emit("post_put_batch", {"points": points, "last_seq": last_seq})
        return last_seq

    def flush_l0(self) -> None:
        """Merge the L0 tier into the base table (memtable -> L0 flush +
        L0 -> L1 compaction, engine2/adapter.go FlushMemtableToL0 +
        levels/compaction.go). Rewrites ONLY L0 data — one coalesced
        append to points/, then the tier is dropped.

        The nothing-staged fast path returns WITHOUT touching the writer
        mutex: a thread polling FLUSH in a loop (ops cron, the flusher
        in test_concurrency) otherwise acquires/releases the lock at
        microsecond cadence, contending with every put_batch for no work
        — CPython locks are not fair, so a tight re-acquirer degrades a
        writer that holds the lock for whole Spark jobs. The check is
        benign: if a put creates l0/ right after we looked, THIS poll
        no-ops and the next one (or the put's own l0_trigger) merges it —
        same outcome as losing the scheduling race. The stale-counter
        repair (dir gone but counter > 0, a crashed-append artifact)
        still runs under the mutex."""
        if not os.path.isdir(self._l0_path) and self._l0_batches() == 0:
            return
        with self._write_mu:
            self._flush_l0_locked()

    def _flush_l0_locked(self) -> None:
        if not os.path.isdir(self._l0_path):
            self._set_l0_batches(0)
            return
        self._emit("pre_flush_memtable", {"l0_batches": self._l0_batches()})
        # re-derived by _write_points; a dir holding only a crashed
        # append's staging files reads as 0 rows and appends nothing
        df = self._read_dir(self._l0_path, _POINTS_DIR_SCHEMA).drop("day")
        # exclusive vs in-flight scans: between the append and the rmtree
        # a reader would either double-see the L0 rows (raw count(*)
        # overcounts; MVCC paths dedup them but raw scans don't) or plan
        # l0/ files that vanish mid-read
        with self._scan_rw.write():
            self._write_points(df, coalesce=1)
            self._emit("pre_sstable_delete", {"path": self._l0_path})
            shutil.rmtree(self._l0_path)
            self._set_l0_batches(0)
            self._write_gen += 1
        # the L0 tier rotating into the base table = WAL rotation
        self._emit("post_wal_rotate", {"merged_into": self._points_path})
        self._emit("post_flush_memtable", {"merged_into": self._points_path})

    @_serialized
    def ingest_frame(self, df: DataFrame) -> None:
        """Bulk ingest: append a long-format DataFrame WITHOUT routing rows
        through the driver (put/put_batch are the API-parity single/small
        paths; this is the 100TB loader).

        The frame needs (metric, tags, ts, field, vtype, f_*) — seq and
        series_key are assigned here. All long rows of one POINT (same
        series_key + ts, one row per field) must share one seq, or the
        MVCC read (max seq per point) would drop every field but one; a
        per-point seq is derived as base + hash(series_key, ts) mod 2^32 —
        deterministic, shuffle-free, driver-free. Because the base is
        re-read from storage afterwards, every later batch's seqs are
        strictly above this batch's (monotonic ACROSS batches, which is
        all MVCC needs — iterator/iterator.go:61 orders by seq only
        within identical (series, ts) keys). Contract: a bulk batch
        carries at most one row per (point, field) — within-batch
        last-write-wins ordering is a WAL/put_batch semantics, not a bulk
        loader's.
        """
        base = self._seq
        out = (
            df.withColumn("series_key", series_key_expr(F.col("metric"), F.col("tags")))
            .withColumn("seq", F.lit(base)
                        + F.pmod(F.xxhash64("series_key", "ts"), F.lit(1 << 32)))
        )
        markers = (
            out.groupBy("metric", "series_key", "ts", "seq")
            .agg(F.first("tags").alias("tags"))
            .withColumns({
                "field": F.lit(""), "vtype": F.lit("marker"),
                **{f.name: F.lit(None).cast(f.dataType)
                   for f in POINTS_SCHEMA.fields if f.name.startswith("f_")},
            })
        )
        out = out.unionByName(markers.select(*out.columns))
        self._write_points(out)
        if self.hooks is not None and (
                self.hooks.has_listeners("on_series_create")
                or self.hooks.has_listeners("on_string_create")):
            # new-series detection for the bulk path: distinct series of
            # the batch anti-joined against the catalog (series
            # cardinality on both sides). Only runs when someone listens.
            batch_series = out.select("metric", "series_key").distinct()
            if self._catalog.exists():
                known = (self.spark.read.parquet(self._catalog.path)
                         .select("series_key").distinct())
                # no broadcast hint: the catalog side can be millions of
                # series at corpus scale — let AQE pick the strategy
                batch_series = batch_series.join(known, "series_key",
                                                 "left_anti")
            self._track_new_names(
                [(r["metric"], r["series_key"])
                 for r in batch_series.collect()])
        self._catalog.append_df(out)
        self._seq = self._load_max_seq() + 1
        self._write_gen += 1

    def import_jsonl(self, path: str) -> int:
        """Bulk-load newline-delimited JSON point dumps — the batch twin
        of the Kafka feed, sharing its typed wire schema
        (streaming/kafka.POINT_WIRE_SCHEMA: metric/tags/ts +
        typed fields, core/fields.go encoding in JSON) and its
        drop-malformed semantics, through ``ingest_frame`` (seq assign,
        catalog track — never the driver). ``path`` may be a file, a
        directory, or a glob; at 100 TB this is just a distributed text
        scan feeding the normal bulk path. Returns the number of POINTS
        ingested (distinct (series, ts) of the parsed rows)."""
        from nexusbase_spark.streaming.kafka import parse_kafka_points

        raw = self.spark.read.text(path).select(
            F.col("value").cast("binary").alias("value"))
        pts = parse_kafka_points(raw).persist()
        try:
            n = (pts.select("metric", "tags", "ts")
                 .withColumn("series_key",
                             series_key_expr(F.col("metric"), F.col("tags")))
                 .select("series_key", "ts").distinct().count())
            if n:
                self.ingest_frame(pts)
        finally:
            pts.unpersist()
        return n

    def start_stream_ingest(self, source_dir: str, checkpoint: str,
                            bus=None, refresh_rollups: bool = False):
        """Continuous ingest: a file-source stream of long-format rows
        (metric, tags, ts, field, vtype, f_*) feeding the warehouse via
        foreachBatch — the WAL-tail -> memtable path as a streaming job
        (SURVEY.md §7 step 9). Optional hook bus wraps each micro-batch
        (pre_put_batch listeners see the batch before it lands).

        ``refresh_rollups`` makes continuous aggregates actually
        continuous: after each micro-batch lands, every registered
        rollup is refreshed — delta-invalidate means each refresh costs
        only the day partitions the batch touched, so the standing cost
        tracks batch size, not table size."""
        from nexusbase_spark.streaming.subscribe import stream_ingest
        schema = StructType([f for f in POINTS_SCHEMA.fields if f.name != "seq"])
        stream = stream_ingest(self.spark, source_dir, schema)

        def sink(batch: DataFrame, batch_id: int) -> None:
            self.ingest_frame(batch)
            if refresh_rollups:
                for name in self.rollups():
                    self.refresh_rollup(name)

        on_batch = bus.for_each_batch(sink) if bus is not None else sink
        return (stream.writeStream.queryName("nexusbase_ingest")
                .foreachBatch(on_batch)
                .option("checkpointLocation", checkpoint)
                .outputMode("append").start())

    def start_kafka_ingest(self, bootstrap_servers: str, topic: str,
                           checkpoint: str, bus=None, **source_opts):
        """Kafka-source twin of ``start_stream_ingest`` (same sink, same
        hook-bus wrapping); needs the spark-sql-kafka connector on the
        classpath. See streaming/kafka.py for the wire format."""
        from nexusbase_spark.streaming.kafka import kafka_stream_ingest
        stream = kafka_stream_ingest(self.spark, bootstrap_servers, topic,
                                     **source_opts)

        def sink(batch: DataFrame, batch_id: int) -> None:
            self.ingest_frame(batch)

        on_batch = bus.for_each_batch(sink) if bus is not None else sink
        return (stream.writeStream.queryName("nexusbase_kafka_ingest")
                .foreachBatch(on_batch)
                .option("checkpointLocation", checkpoint)
                .outputMode("append").start())

    # ------------------------------------------------------------ deletes

    @_serialized
    def delete_series(self, metric: str, tags: dict[str, str]) -> int:
        """Whole-series tombstone with seq cutoff (engine2/adapter.go:950-1030)."""
        sk = self._series_key(metric, tags)
        self._emit("pre_delete_series", {"series_key": sk})
        seq = self._next_seq()
        self._append_tomb("series", [(sk, seq)])
        self._emit("post_delete_series", {"series_key": sk, "seq": seq})
        return seq

    @_serialized
    def delete_point(self, metric: str, tags: dict[str, str], ts: int) -> int:
        """Point tombstone ('D' entry — engine2/adapter.go:909-948)."""
        sk = self._series_key(metric, tags)
        self._emit("pre_delete_point", {"series_key": sk, "ts": int(ts)})
        seq = self._next_seq()
        self._append_tomb("point", [(sk, int(ts), seq)])
        self._emit("post_delete_point", {"series_key": sk, "ts": int(ts),
                                         "seq": seq})
        return seq

    @_serialized
    def delete_range(self, metric: str, tags: dict[str, str],
                     start: int, end: int) -> int:
        """Range tombstone [start,end] inclusive (engine2/adapter.go:1032-1101)."""
        sk = self._series_key(metric, tags)
        self._emit("pre_delete_range", {"series_key": sk,
                                        "start": int(start), "end": int(end)})
        seq = self._next_seq()
        self._append_tomb("range", [(sk, int(start), int(end), seq)])
        self._emit("post_delete_range", {"series_key": sk, "seq": seq,
                                         "start": int(start), "end": int(end)})
        return seq

    @staticmethod
    def _series_key(metric: str, tags: dict[str, str]) -> str:
        kv = ",".join(f"{k}={v}" for k, v in sorted((tags or {}).items()))
        return f"{metric}|{kv}"

    def _append_tomb(self, kind: str, rows: list[tuple]) -> None:
        (self.spark.createDataFrame(rows, _TOMB_SCHEMAS[kind])
         .write.mode("append").parquet(self._tomb[kind]))
        self._write_gen += 1

    # -------------------------------------------------------------- reads

    def _read_dir(self, path: str, schema) -> DataFrame | None:
        """An engine-owned dir read with its declared schema, or None when
        the dir does not exist. No inference job runs, and the append-
        birth torn state (a concurrent first append has CREATED the dir
        but not yet committed a file) reads as 0 rows: an in-flight batch
        is not durable until its commit. Deletions, the other torn state,
        are excluded by _ScanLock instead, because there the rows DO
        exist and must stay visible."""
        if not os.path.isdir(path):
            return None
        return self.spark.read.schema(schema).parquet(path)

    def _base(self) -> tuple[DataFrame, dict[str, DataFrame]]:
        """(points ∪ L0 frame, {tombstone kind: frame} for the kinds
        present): the base scan every read starts from, built once
        per write generation and handed out until the file set changes —
        a DataFrame pins the file listing it was built with, like the
        reference's iterators pin a table version. Each build lists the
        directories once; reuse lists nothing. Correct only with one live
        engine per warehouse directory (already the contract: _seq is per
        engine), because only this engine's writes bump the generation.
        The generation is read BEFORE listing, so a build that races an
        append is filed under the older generation and rebuilt."""
        with self._base_mu:
            gen = self._write_gen
            if self._base_gen == gen:
                self._base_reuses += 1
                return self._base_frames
            parts = [df for p in (self._points_path, self._l0_path)
                     if (df := self._read_dir(p, _POINTS_DIR_SCHEMA)) is not None]
            raw = (functools.reduce(DataFrame.unionByName, parts) if parts
                   else self.spark.createDataFrame([], _POINTS_DIR_SCHEMA))
            tombs = {k: df for k, p in self._tomb.items()
                     if (df := self._read_dir(p, _TOMB_SCHEMAS[k])) is not None}
            self._base_gen, self._base_frames = gen, (raw, tombs)
            self._base_builds += 1
            return self._base_frames

    def points(self, metric: str | None = None,
               tags: dict[str, str] | None = None,
               start: int | None = None, end: int | None = None,
               matchers: list | None = None) -> DataFrame:
        """The visible long-format points view: MVCC dedup (whole-point
        last-write-wins) + all three tombstone kinds, seq-aware.

        Selection predicates are applied BEFORE ``mvcc.visible``'s dedup
        window and anti-joins: the window partitions by (series_key, ts) and
        metric/tags are constant per series while ts is a partition key,
        so pre-filtering keeps whole partitions — same results, but the
        MVCC shuffle covers only the selected slice instead of the table
        (without this, the window blocks predicate pushdown and every
        query pays a full-table shuffle).
        """
        df, tombs = self._base()
        if metric is not None:
            df = metric_filter(df, metric)
        if tags:
            # Two-phase tag resolution (tag-index analog): resolve series
            # keys from the catalog driver-side, then push a series_key
            # IN-list into the parquet scan. Map access (tags[k] = v) never
            # reaches the scan; the IN-list does (row-group min/max skip).
            keys = self._catalog.resolve(metric, tags)
            if keys is not None:
                df = df.filter(F.col("series_key").isin(keys))
            else:  # catalog absent or too many series: scan-side filter
                df = tag_filter(df, tags)
        df = apply_tag_matchers(df, matchers)
        # the day partition filters prune whole day directories — the
        # SSTable key-range skip at the directory level
        if start is not None:
            df = df.filter((F.col("ts") >= start)
                           & (F.col("day") >= align(start, DAY_NS)))
        if end is not None:
            df = df.filter((F.col("ts") <= end)
                           & (F.col("day") <= align(end, DAY_NS)))
        return visible(df.drop("day"), tombs)  # day: partition bookkeeping

    def get(self, metric: str, tags: dict[str, str] | None,
            ts: int) -> dict | None:
        """Point lookup (gRPC Get — engine2/adapter.go:751-907): the fields
        map of the MVCC-visible point at exactly (series, ts), or None when
        absent or tombstoned. Fires pre/post_get_point (hooks.go:26-27)."""
        sk = self._series_key(metric, tags or {})
        self._emit("pre_get_point", {"series_key": sk, "ts": int(ts)})
        rows = (
            self.points(metric=metric, tags=tags or {},
                        start=int(ts), end=int(ts))
            .filter(F.col("series_key") == sk)
            .filter(F.col("vtype") != "marker")
            .collect())  # ≤ one row per field by construction
        fields: dict[str, object] | None = None
        if rows:
            col_for = {"float": "f_double", "int": "f_long",
                       "string": "f_string", "bool": "f_bool"}
            fields = {r["field"]: (None if r["vtype"] == "null"
                                   else r[col_for[r["vtype"]]])
                      for r in rows}
        self._emit("post_get_point", {"series_key": sk, "ts": int(ts),
                                      "found": fields is not None})
        return fields

    def points_wide(self, fields: dict[str, str]) -> DataFrame:
        """Wide-format view: one row per point, one TYPED column per
        requested field (``{"latency_ms": "double", "status": "long",
        "level": "string", "ok": "boolean"}``).

        The long format is the storage truth (points are schemaless —
        core/fields.go); a wide projection needs the caller to pin each
        field's type. One groupBy over the point key with conditional
        max() per field — no pivot machinery, partial-aggregatable.
        """
        col_for = {"double": "f_double", "long": "f_long",
                   "string": "f_string", "boolean": "f_bool"}
        aggs = []
        for fname, ftype in fields.items():
            if ftype not in col_for:
                raise ValueError(f"unsupported wide type {ftype!r} for {fname!r}")
            src = F.when(F.col("field") == fname,
                         F.col(col_for[ftype]).cast(ftype))
            aggs.append(F.max(src).alias(fname))
        return (
            self.points()
            .groupBy("metric", "series_key", "ts", "seq")
            .agg(F.first("tags").alias("tags"), *aggs)
        )

    # ------------------------------------- continuous aggregates (rollups)

    def _rollup_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, "rollups", name)

    @_serialized
    def create_rollup(self, name: str, metric: str, interval_ns: int,
                      specs: list) -> None:
        """Materialized downsample (TimescaleDB continuous-aggregate /
        hypertable-rollup shape — the reference computes every downsample
        at query time; at 100TB a standing dashboard query must not).

        The rollup table holds the NBQL downsample plan's output
        (metric, series_key, tags, window_start/end, one column per agg)
        for one metric, partitioned by the UTC day of window_start, plus
        a meta file recording the last seq it has seen. ``specs`` are
        `fidelity.AggSpec`s — the same objects the parser makes.
        `refresh_rollup` is DELTA-INVALIDATE, not delta-aggregate:
        new/late/deleted data marks its windows' day partitions dirty and
        those days are recomputed exactly from the base table — no merge algebra, so
        every aggregate (avg, stddev, percentiles) stays exact, and
        dynamic partition overwrite rewrites only the dirty days.
        """
        d = self._rollup_dir(name)
        os.makedirs(d, exist_ok=True)
        last_seq = self._seq - 1
        out = self._rollup_compute(metric, interval_ns, specs)
        (out.withColumn("wday", align_col(F.col("window_start"), DAY_NS))
         .write.mode("overwrite")
         .partitionBy("wday").parquet(os.path.join(d, "data")))
        # schema recorded: rollup() reads data/ with it, so no read runs
        # an inference job, and one whose day partitions a refresh or a
        # restore deleted still has its columns
        self._write_rollup_meta(name, {
            "metric": metric, "interval_ns": interval_ns,
            "specs": [[s.func, s.field, s.alias] for s in specs],
            "last_seq": last_seq, "schema": out.schema.json()})

    def _rollup_compute(self, metric: str, interval_ns: int, specs: list,
                        day_filter=None) -> DataFrame:
        """The rollup kernel: the NBQL planner's per-series downsample over
        the engine's long points view (same code path the oracle-checked
        nbql_downsample query proves), optionally restricted to the base
        rows whose WINDOW falls on a dirty day."""
        from nexusbase_spark.nbql.planner import _plan_downsample
        q = QueryStatement(metric=metric, aggregations=list(specs),
                           downsample_interval=interval_ns)
        df = self.points(metric)
        if day_filter is not None:
            df = df.filter(_window_day(F.col("ts"), interval_ns).isin(*day_filter))
        return _plan_downsample(df, q, None, None)

    def _rollup_meta(self, name: str) -> dict:
        with open(os.path.join(self._rollup_dir(name), "meta.json")) as f:
            return json.load(f)

    def _write_rollup_meta(self, name: str, meta: dict) -> None:
        with open(os.path.join(self._rollup_dir(name), "meta.json"), "w") as f:
            json.dump(meta, f)

    def rollups(self) -> dict[str, dict]:
        """name -> meta of every registered rollup, in name order."""
        base = os.path.join(self.warehouse, "rollups")
        names = sorted(os.listdir(base)) if os.path.isdir(base) else []
        return {n: self._rollup_meta(n) for n in names
                if os.path.isfile(os.path.join(base, n, "meta.json"))}

    def rollup(self, name: str) -> DataFrame:
        """The materialized rollup as a DataFrame, read with the schema
        meta.json records (no inference job; wday is partition
        bookkeeping, dropped). A data dir whose day partitions were all
        deleted by a refresh reads as 0 rows; one removed by a restore
        gives an empty frame of the same schema."""
        schema = StructType.fromJson(json.loads(self._rollup_meta(name)["schema"]))
        df = self._read_dir(os.path.join(self._rollup_dir(name), "data"),
                            StructType(schema.fields + [StructField("wday", LongType())]))
        if df is None:
            return self.spark.createDataFrame([], schema)
        return df.drop("wday")

    @_serialized
    def refresh_rollup(self, name: str) -> int:
        """Fold everything ingested or deleted since the last refresh into
        the rollup; returns the number of day partitions recomputed.

        Dirty-day discovery is seq-based (every write path — ingest, L0
        puts, tombstones — carries seq): new point rows dirty their own
        window's day; new point/range tombstones dirty the rollup days
        they overlap; a new series tombstone dirties every rollup day
        where that series appears. All discovery frames are
        rollup-or-delta-sized, never base-table scans.
        """
        meta = self._rollup_meta(name)
        metric, iv = meta["metric"], meta["interval_ns"]
        last = meta["last_seq"]
        dirty: set[int] = set()

        raw, tombs = self._base()
        new_pts = (raw.filter((F.col("metric") == metric) & (F.col("seq") > last))
                   .select(_window_day(F.col("ts"), iv).alias("wd")).distinct())
        dirty |= {r["wd"] for r in new_pts.collect()}

        # every tombstone kind as a (series_key, [min_ts, max_ts]) span —
        # a point delete is [ts, ts], a series delete is all of time — so
        # one overlap join against the rollup's own (series, window) finds
        # the dirty days; deletes on unrelated metrics/series match no
        # rollup row, so refresh cost never scales with GLOBAL delete
        # traffic. A point both ingested and deleted since the last
        # refresh is covered by the new-points branch above.
        spans = {"point": (F.col("ts"), F.col("ts")),
                 "range": (F.col("min_ts"), F.col("max_ts")),
                 "series": (F.lit(-2 ** 63), F.lit(2 ** 63 - 1))}
        new_tombs = [tombs[k].filter(F.col("seq") > last)
                     .select("series_key", lo.alias("lo"), hi.alias("hi"))
                     for k, (lo, hi) in spans.items() if k in tombs]
        if new_tombs:
            roll = self.rollup(name).select("series_key", "window_start")
            tomb = functools.reduce(DataFrame.union, new_tombs)
            hit = (roll.join(tomb, "series_key")
                   .filter((F.col("window_start") + iv > F.col("lo"))
                           & (F.col("window_start") <= F.col("hi")))
                   .select(align_col(F.col("window_start"), DAY_NS).alias("wd"))
                   .distinct())
            dirty |= {r["wd"] for r in hit.collect()}

        new_last = self._seq - 1
        if dirty:
            specs = [AggSpec(*s) for s in meta["specs"]]
            out = (self._rollup_compute(metric, iv, specs,
                                        day_filter=sorted(dirty))
                   .withColumn("wday", align_col(F.col("window_start"), DAY_NS))
                   .persist())
            try:
                # ``out`` is persisted and the day-set collect below runs
                # BEFORE the exclusive section, so readers are only
                # blocked for the directory swaps, not the recompute
                still = {r["wday"] for r in
                         out.select("wday").distinct().collect()}
                with self._scan_rw.write():
                    # dynamic partition overwrite, set on this write only
                    # (never on the shared session): just the dirty wday
                    # dirs move
                    (out.write.mode("overwrite")
                     .option("partitionOverwriteMode", "dynamic")
                     .partitionBy("wday")
                     .parquet(os.path.join(self._rollup_dir(name), "data")))
                    # a dirty day whose data was FULLY deleted produces no
                    # output rows, so dynamic overwrite never touches its
                    # directory — drop those partitions explicitly or
                    # stale windows survive
                    for wd in dirty - still:
                        shutil.rmtree(
                            os.path.join(self._rollup_dir(name), "data",
                                         f"wday={wd}"), ignore_errors=True)
            finally:
                out.unpersist()
        meta["last_seq"] = new_last
        self._write_rollup_meta(name, meta)
        return len(dirty)

    def verify_rollup(self, name: str, sample_days: int | None = None) -> dict:
        """Consistency audit: recompute a (sampled) set of day partitions
        from the base table and diff them against the materialized rollup.
        The 100 TB ops answer to "do I trust this materialization" — a
        full recompute per check is exactly what the rollup exists to
        avoid, so the audit samples days with the stores' pinned sampler
        (``ParquetStore._pinned_sample``: successive runs with higher
        ``sample_days`` audit supersets) and recomputes only those.

        Day universe = stored days UNION base-data days, so a day the
        refresh missed entirely (or a stale day whose base data was
        deleted) is still auditable. Rows diff through
        ``expectations.table_diff`` on (series_key, window_start); float
        aggregates compare within 1e-9, since the recompute shuffles in a
        different partition order and last-ulp float-sum drift is
        expected, not corruption.

        Returns {"days_total", "days_checked", "checked": [...],
        "mismatched_days": [...], "ok": bool}.
        """
        from nexusbase_spark.pipeline.expectations import table_diff
        from nexusbase_spark.store import ParquetStore

        meta = self._rollup_meta(name)
        metric, iv = meta["metric"], meta["interval_ns"]
        specs = [AggSpec(*s) for s in meta["specs"]]
        wday = align_col(F.col("window_start"), DAY_NS)
        stored = self.rollup(name)
        days = (stored.select(wday.alias("wd"))
                .union(self.points(metric).select(
                    _window_day(F.col("ts"), iv).alias("wd")))
                .distinct())
        picked, n = ParquetStore._pinned_sample(days, sample_days)
        checked = sorted(r["wd"] for r in picked.collect())
        if not checked:
            return {"days_total": 0, "days_checked": 0, "checked": [],
                    "mismatched_days": [], "ok": True}
        rec = self._rollup_compute(metric, iv, specs, day_filter=checked)
        # tags is map-typed (not comparable) and determined by
        # series_key; metric is constant
        cols = [c for c in rec.columns if c not in ("metric", "tags")]
        bad = table_diff(stored.filter(wday.isin(*checked)).select(*cols),
                         rec.select(*cols), ["series_key", "window_start"],
                         tol=1e-9)
        bad_days = sorted(r["wd"] for r in
                          bad.select(wday.alias("wd")).distinct().collect())
        return {"days_total": n if sample_days is None else days.count(),
                "days_checked": n, "checked": checked,
                "mismatched_days": bad_days, "ok": not bad_days}

    # ------------------------------------------------------- maintenance

    @_serialized
    def flush(self, target: str = "all") -> None:
        """FLUSH MEMTABLE/DISK/ALL (executor.go:237-258): merge the L0
        tier down regardless of the batch trigger. Durability needs no
        extra work (appends are already on disk)."""
        self.flush_l0()

    @_serialized
    def compact(self, retention_cutoff_ns: int | None = None, *,
                cluster: bool = False, cluster_files: int = 32) -> None:
        """OPTIMIZE analog of leveled compaction + retention-on-compaction
        (levels/compaction.go:48-140, engine2/compaction_manager.go:734-757
        drops entries older than the retention cutoff during merge):
        materialize the resolved view, optionally drop rows with
        ts < retention_cutoff_ns, rewrite the points dir, drop consumed
        tombstones.

        ``cluster=True`` additionally range-clusters the rewrite on
        (series_key, ts) INSIDE each (metric, day) hive partition:
        repartitionByRange gives every output file a contiguous
        series_key range (tight min/max file stats -> series-scans open
        only that series' files) and the in-partition sort tightens ts
        row-group stats for sub-day ranges. This deliberately beats
        z-order for THIS layout: day is already hive-pruned, so the two
        residual slicing dims are series (file-level, from the range
        clustering) and ts (row-group-level, from the sort) — the
        measured single-column-sort trade in SCALE.md's z-order probe
        (1/64 files on the sorted column vs 13/64 under interleaving);
        z-order (plans/zorder.py) remains the layout for tables where
        BOTH dims need file-level pruning in one directory."""
        self._emit("pre_compaction", {
            "retention_cutoff_ns": retention_cutoff_ns,
            "source_level": "l0+points", "target_level": "points"})
        resolved = self.points()
        if retention_cutoff_ns is not None:
            resolved = resolved.filter(F.col("ts") >= retention_cutoff_ns)
        resolved = resolved.cache()
        try:
            resolved.count()
            bytes_read = (self._dir_bytes(self._points_path)
                          + self._dir_bytes(self._l0_path))
            tmp = self._points_path + ".compact"
            if cluster:
                # an explicit partition count is kept by AQE (it only
                # coalesces shuffles whose count it chose), so each range
                # partition stays its own file
                (resolved.withColumn("day", align_col(F.col("ts"), DAY_NS))
                 .repartitionByRange(cluster_files, "metric", "day",
                                     "series_key", "ts")
                 .sortWithinPartitions("metric", "day", "series_key", "ts")
                 .write.mode("overwrite")
                 .partitionBy("metric", "day").parquet(tmp))
                self._emit("post_sstable_create", {"path": tmp,
                                                   "mode": "overwrite"})
            else:
                self._write_points(resolved, path=tmp, mode="overwrite")
            # the catalog of the surviving view (prunes tombstoned series,
            # merges the tiny per-put index files), staged beside the live
            # one and swapped in with the points
            catalog = self._catalog.stage(resolved)
        finally:
            resolved.unpersist()
        self._emit("pre_sstable_delete", {"path": self._points_path})
        # the rewrites above ran lock-free (reads are additive); only the
        # swaps exclude readers — the refcounted-SSTable handoff
        with self._scan_rw.write():
            shutil.rmtree(self._points_path, ignore_errors=True)  # may be L0-only
            os.rename(tmp, self._points_path)
            # L0 was folded into the resolved view (points() reads the union)
            shutil.rmtree(self._l0_path, ignore_errors=True)
            self._set_l0_batches(0)
            # consumed tombstones die in the SAME exclusive window as the
            # rewrite that applied them: a reader seeing the new points
            # WITH the old tombstones would re-delete resurrected rows
            for path in self._tomb.values():
                shutil.rmtree(path, ignore_errors=True)
            self._catalog.publish(catalog)
            self._write_gen += 1
        self._known_series = self._known_metrics = None  # reload from catalog
        if self.hooks is not None:
            # PostCompaction payload: old/new table sizes, the inputs the
            # write-amplification listener accumulates (hooks/listeners/
            # waf.go:65-94 sums OldTables/NewTables sizes per event)
            self.hooks.publish("post_compaction", {
                "bytes_read": bytes_read,
                "bytes_written": self._dir_bytes(self._points_path),
                "source_level": "l0+points", "target_level": "points",
            })

    @staticmethod
    def _dir_bytes(path: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(path):
            for fn in files:
                total += os.path.getsize(os.path.join(dirpath, fn))
        return total

    _SNAPSHOT_DIRS = ["points", "l0", "tomb_point", "tomb_series",
                      "tomb_range", "catalog"]

    def _state_files(self) -> dict[str, tuple[int, int]]:
        """relpath -> (size, mtime_ns) for every file of the current
        warehouse state. Parquet part files are immutable and uniquely
        named, so (path, size) identifies content."""
        out: dict[str, tuple[int, int]] = {}
        for name in self._SNAPSHOT_DIRS:
            root = os.path.join(self.warehouse, name)
            for dirpath, _dirs, files in os.walk(root):
                for fn in files:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.warehouse)
                    st = os.stat(full)
                    out[rel] = (st.st_size, st.st_mtime_ns)
        st = os.stat(self._format_path)
        out["_format"] = (st.st_size, st.st_mtime_ns)
        return out

    @_serialized
    def snapshot(self, incremental_from: str | None = None) -> str:
        """Snapshot with a file manifest (snapshot/manager.go full +
        incremental with manifest; Delta time-travel would subsume this
        on a Delta-enabled cluster).

        Full: copy every file. Incremental (``incremental_from`` = a
        prior snapshot path): copy ONLY files the parent doesn't already
        hold — sound because the warehouse is append-only between
        compactions (parquet parts are immutable; compact() renames the
        whole dir so rewritten files never collide with inherited paths).
        The manifest records the full file set either way; restore
        resolves inherited files through the parent chain — the format
        stamp included, as it is written once and never changes."""
        self._emit("pre_create_snapshot",
                   {"incremental_from": incremental_from})
        dest = os.path.join(self.warehouse, "snapshots", uuid.uuid4().hex[:12])
        os.makedirs(dest, exist_ok=True)
        parent_files: set[str] = set()
        if incremental_from is not None:
            pm = os.path.join(incremental_from, "manifest.json")
            with open(pm) as f:
                parent_files = set(json.load(f)["files"])
        files = self._state_files()
        manifest = {"version": 1,
                    "parent": os.path.abspath(incremental_from) if incremental_from else None,
                    "files": {}}
        for rel, (size, _mtime) in files.items():
            stored = rel not in parent_files
            manifest["files"][rel] = {"size": size, "stored": stored}
            if stored:
                src = os.path.join(self.warehouse, rel)
                dst = os.path.join(dest, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy2(src, dst)
        with open(os.path.join(dest, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        self._emit("post_manifest_write",
                   {"path": os.path.join(dest, "manifest.json"),
                    "n_files": len(manifest["files"])})
        self._emit("post_create_snapshot", {"path": dest})
        return dest

    @_serialized
    def restore(self, path: str, overwrite: bool = False) -> None:
        """Replace the warehouse with a manifest snapshot, full or
        incremental: each file comes from the nearest snapshot in the
        parent chain that stores it (nexusbase_spark/snapshots.py, shared
        with the restore-util CLI). The whole chain is resolved first —
        every data file present, the format stamp supplied — so a bad
        snapshot raises ValueError with the warehouse untouched."""
        from nexusbase_spark.snapshots import copy_files, resolve_files
        have = any(os.path.isdir(os.path.join(self.warehouse, n))
                   for n in self._SNAPSHOT_DIRS)
        if have and not overwrite:
            raise ValueError("restore target not empty; use WITH OVERWRITE")
        sources = resolve_files(path)
        _check_stamp(sources.get("_format") or os.path.join(path, "_format"))
        # restore replaces EVERY warehouse dir — exclusive vs any
        # in-flight scan for the whole swap (the reference blocks reads
        # during RestoreFromSnapshot the same way)
        with self._scan_rw.write():
            for name in self._SNAPSHOT_DIRS:
                shutil.rmtree(os.path.join(self.warehouse, name),
                              ignore_errors=True)
            copy_files(sources, self.warehouse)
            # rollups are not part of snapshots: each one drops its data
            # and restarts from last_seq -1, so the next refresh
            # recomputes every day from the restored base and the rewrite
            # never serves the replaced state
            for name, meta in self.rollups().items():
                shutil.rmtree(os.path.join(self._rollup_dir(name), "data"),
                              ignore_errors=True)
                self._write_rollup_meta(name, {**meta, "last_seq": -1})
            self._write_gen += 1
            # a snapshot whose catalog is missing or partial restores
            # without one; re-index (readers still excluded) so the
            # completeness invariant holds when they resume
            if ((os.path.isdir(self._points_path)
                 or os.path.isdir(self._l0_path))
                    and not self._catalog.exists()):
                self._catalog.rebuild(self._base()[0])
        self._seq = self._load_max_seq() + 1
        self._set_l0_batches(0)  # pending-batch count died with the old L0
        self._known_series = self._known_metrics = None  # reload from catalog

    # ----------------------------------------------------------- metrics

    def metrics(self) -> dict:
        """Operational counters — the expvar/memstats surface the reference
        exposes through its monitor pages (server/http_server.go:95-105,
        ui/memstats.html, ui/monitor.html). Everything here is O(directory
        listing); no Spark job runs."""
        def _files(path: str) -> int:
            n = 0
            for _dp, _dirs, files in os.walk(path):
                n += sum(1 for f in files if f.endswith(".parquet"))
            return n
        out = {
            "seq": self._seq,
            "write_generation": self._write_gen,
            "l0_pending_batches": self._l0_batches(),
            "l0_trigger": self.l0_trigger,
            "points_bytes": self._dir_bytes(self._points_path),
            "points_files": _files(self._points_path),
            "l0_bytes": self._dir_bytes(self._l0_path),
            "l0_files": _files(self._l0_path),
            "tombstone_files": {k: _files(p) for k, p in self._tomb.items()},
            "base_scan": {"builds": self._base_builds,
                          "reuses": self._base_reuses},
            "rollup_rewrites": self.rollup_rewrites,
            "result_cache": {
                "capacity": self.result_cache.capacity,
                "entries": len(self.result_cache),
                "hits": self.result_cache.hits,
                "misses": self.result_cache.misses,
            },
        }
        if self.hooks is not None:
            from nexusbase_spark.streaming.hooks import WriteAmplificationListener
            for lst in self.hooks.listeners_of(WriteAmplificationListener):
                out["write_amplification"] = {
                    "total_bytes_read": lst.total_bytes_read,
                    "total_bytes_written": lst.total_bytes_written,
                    "compaction_events": lst.compaction_events,
                    "waf": round(lst.waf(), 4),
                }
        return out

    # ------------------------------------------------------------- query

    def read_guard(self):
        """Shared-side guard for MATERIALIZING a query result (collect /
        toLocalIterator). While held, destructive rewrites (flush_l0's
        rmtree, compact's swap, restore) wait — the Spark analog of the
        reference pinning an iterator's SSTables for the cursor lifetime
        (levels manager refcounts). DataFrame CONSTRUCTION never needs
        it (lazy); take it exactly around the drain. Not reentrant; do
        not hold across unrelated engine mutations."""
        return self._scan_rw.read()

    def query(self, q: QueryStatement) -> DataFrame:
        from nexusbase_spark.nbql.planner import plan_query
        self._emit("pre_query", {"query": q})
        rewritten = self._try_rollup_rewrite(q)
        if rewritten is not None:
            out, path = rewritten, "rollup_rewrite"
        elif self.result_cache.capacity > 0:
            out, path = self._query_cached(q), "cache"
        else:
            out, path = plan_query(self, q), "plan"
        # post_query fires when the PLAN is built (DataFrames are lazy;
        # execution happens when the caller drains the result)
        self._emit("post_query", {"query": q, "path": path})
        return out

    def _try_rollup_rewrite(self, q: QueryStatement) -> DataFrame | None:
        """Transparent materialized-view rewriting: a plain per-series
        downsample query is served from a matching FRESH rollup instead
        of recomputing from base — the whole point of maintaining
        continuous aggregates (a standing dashboard query at 100TB reads
        rollup-sized data, not the fact table).

        The rewrite fires only when it is EXACT:
        - same metric and agg list (func/field/alias, in order) as a
          registered rollup whose interval either EQUALS the query's or
          divides it with every agg in the re-aggregable set
          {count, sum, min, max} (counts/sums add, min/max nest; an
          exact-interval rollup always wins over re-aggregation, and
          avg/stddev/first/last/frac/p<N> never take the coarser path —
          they need inputs a finer aggregate doesn't carry);
        - the rollup is fresh (last_seq == the engine's current max —
          any unrefreshed write disables the rewrite rather than serving
          stale data);
        - no slide/emit-empty/fill/limit/cursor. Tag equality AND
          matchers ARE served: the rollup is per-series, so a tag
          predicate selects whole series and leaves every window's
          value untouched — it becomes a row filter on the rollup;
        - the time range is BOUNDED and WINDOW-ALIGNED (start % iv == 0
          and end+1 an exact window end): the batch semantics exclude
          points outside [start, end] from edge windows, which a
          materialized whole-window answer cannot reproduce for partial
          windows; an unbounded end defaults to now() in the direct
          path, which future-dated points would diverge from.

        Known, INTENDED divergence after retention compaction:
        ``compact(retention_cutoff_ns)`` drops base rows without bumping
        seq, so a rollup covering pre-cutoff windows stays "fresh" and
        this rewrite keeps serving that downsampled history even though
        the direct path would now return nothing there. This is the
        TimescaleDB-style downsampled-retention contract — aggregates
        outlive the raw data they summarize — and it's why retention is
        applied at compaction rather than by tombstones (which WOULD
        invalidate the rollup). Callers who want the raw-data view of a
        post-retention range should query an interval the rollup doesn't
        cover or drop the rollup with the retention policy.
        Increments ``self.rollup_rewrites`` when used (reported by
        ``metrics()``)."""
        iv = q.downsample_interval
        if (iv is None or q.downsample_slide
                or q.emit_empty_windows or q.fill_previous or q.fill_linear
                or q.limit is not None or q.after_cursor or q.relative):
            return None
        aligned = (q.start is not None and q.start % iv == 0
                   and q.end is not None and (q.end + 1) % iv == 0)
        if not aligned:
            return None
        want = list(q.aggregations)
        # functions whose coarser windows re-aggregate EXACTLY from finer
        # ones (count/sum add; min/max nest; NaN propagation/blindness is
        # preserved because Spark applies the same rule at both levels).
        # avg/stddev/first/last/frac/p<N> are NOT in the set — they need
        # inputs a finer aggregate doesn't carry.
        _REAGG = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
        exact_hit, coarse_hit = None, None
        for name, meta in self.rollups().items():
            if (meta["metric"] != q.metric
                    or [AggSpec(*s) for s in meta["specs"]] != want
                    or meta["last_seq"] != self._seq - 1):
                continue
            r_iv = meta["interval_ns"]
            if r_iv == iv and exact_hit is None:
                exact_hit = name
            elif (r_iv < iv and iv % r_iv == 0 and coarse_hit is None
                  and all(s.func in _REAGG for s in want)):
                coarse_hit = name
        name = exact_hit or coarse_hit  # an exact rollup always wins
        if name is None:
            return None
        # aligned: start and end are set. The range filter runs before
        # any re-windowing, because fine windows in [start, end] exactly
        # compose the aligned coarse range
        df = apply_tag_matchers(tag_filter(self.rollup(name), q.tags or {}),
                                q.tag_matchers)
        df = df.filter((F.col("window_start") >= q.start)
                       & (F.col("window_start") <= q.end))
        if exact_hit is None:
            # re-window the finer rollup: epoch alignment makes every
            # fine window nest inside exactly one coarse window
            # (iv % r_iv == 0), so the coarse answer is a groupBy over
            # rollup-sized data, never the fact table
            aggs = [_REAGG[s.func](qcol(s.out_name)).alias(s.out_name)
                    for s in want]
            df = (df.withColumn("window_start",
                                align_col(F.col("window_start"), iv))
                  .groupBy("metric", "series_key", "window_start")
                  .agg(F.first("tags").alias("tags"), *aggs)
                  .withColumn("window_end", F.col("window_start") + F.lit(iv))
                  .select(*df.columns))
        with self._base_mu:  # server threads rewrite concurrently
            self.rollup_rewrites += 1
        return order_windows(df, q.sort_desc)

    def _query_cached(self, q: QueryStatement) -> DataFrame:
        """Serve a QUERY through the result cache: the FULL (unpaginated)
        result is cached under the canonical key; LIMIT/AFTER are applied
        to the cached rows (cache_key.go:88-91). An entry is valid only at
        the write generation it was computed at."""
        import dataclasses
        from nexusbase_spark.cache import CachedResult, paginate_rows, query_cache_key
        from nexusbase_spark.nbql.planner import plan_query
        key = query_cache_key(q)
        entry, ok = self.result_cache.get(key)
        if ok and entry.generation != self._write_gen:
            ok = False  # stale entry counts as a miss in the metrics
            self.result_cache.reclassify_hit_as_miss()
        self._emit("on_cache_hit" if ok else "on_cache_miss", {"key": key})
        if not ok:
            # the generation is read BEFORE planning: a write that lands
            # between planning and the put below files these (pre-write)
            # rows under the older generation, so the next read misses
            gen = self._write_gen
            full = plan_query(
                self, dataclasses.replace(q, limit=None, after_cursor=None))
            # Bound the driver-side collect BEFORE it happens: take at most
            # cache_max_rows + 1 rows (the +1 detects overflow). A result
            # bigger than the cache cap is never fully collected — the
            # query falls through to the normal distributed path with
            # LIMIT/AFTER pushed into the plan, and nothing is cached.
            rows = full.limit(self.cache_max_rows + 1).collect()
            if len(rows) > self.cache_max_rows:
                return plan_query(self, q)
            entry = CachedResult(gen, rows, full.schema)
            self.result_cache.put(key, entry)
        return self.spark.createDataFrame(paginate_rows(entry.rows, q), entry.schema)

    def execute(self, nbql: str, params: tuple | list = ()):
        """Parse + dispatch one NBQL statement (api/nbql/executor.go:29-50).
        Returns a DataFrame for QUERY/SHOW, None for manipulations.

        Thread-safety contract (ADVICE r6): mutations serialize on the
        engine's writer mutex internally, but the returned DataFrame is
        LAZY — direct embedders that materialize it (collect/toPandas)
        from their own threads while another thread can FLUSH / COMPACT /
        RESTORE must wrap the materialization in ``read_guard()``
        spanning plan construction AND the collect, exactly as
        ``server.execute_to_json`` does, or the planned parquet files can
        be rmtree'd mid-scan. Single-threaded embedders need nothing."""
        from nexusbase_spark.nbql.parser import parse, substitute_params
        if params:
            nbql = substitute_params(nbql, params)
        return self._dispatch(parse(nbql))

    def _dispatch(self, stmt):
        from nexusbase_spark.nbql import ast as A
        if isinstance(stmt, A.ExplainStatement):
            # EXPLAIN (extension): one row per physical-plan line of the
            # inner statement's DataFrame — plan introspection for an
            # engine whose physical strategy is Catalyst's, the analog of
            # SQL EXPLAIN the reference lacks (its iterator stack is
            # fixed). The inner statement is PLANNED, never executed: a
            # QUERY skips the result cache, which would run it.
            inner = stmt.inner
            if isinstance(inner, A.QueryStatement):
                from nexusbase_spark.nbql.planner import plan_query
                df = self._try_rollup_rewrite(inner)
                if df is None:
                    df = plan_query(self, inner)
            else:
                df = self._dispatch(inner)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows = [(i, line) for i, line in enumerate(plan.splitlines())]
            return self.spark.createDataFrame(rows, "line bigint, plan string")
        if isinstance(stmt, A.PushStatement):
            self.put(stmt.metric, stmt.tags, stmt.fields, stmt.timestamp)
            return None
        if isinstance(stmt, A.QueryStatement):
            return self.query(stmt)
        if isinstance(stmt, A.RemoveStatement):
            if stmt.kind == "series":
                self.delete_series(stmt.metric, stmt.tags)
            elif stmt.kind == "point":
                self.delete_point(stmt.metric, stmt.tags, stmt.at)
            else:
                self.delete_range(stmt.metric, stmt.tags, stmt.start, stmt.end)
            return None
        if isinstance(stmt, A.ShowStatement):
            from nexusbase_spark.nbql.planner import plan_show
            return plan_show(self, stmt)
        if isinstance(stmt, A.FlushStatement):
            self.flush(stmt.target)
            return None
        if isinstance(stmt, A.SnapshotStatement):
            return self.snapshot()
        if isinstance(stmt, A.RestoreStatement):
            self.restore(stmt.path, stmt.overwrite)
            return None
        if isinstance(stmt, A.CreateRollupStatement):
            if not validate_name(stmt.name):
                raise ValueError(f"invalid rollup name: {stmt.name!r}")
            self.create_rollup(stmt.name, stmt.metric, stmt.interval,
                               stmt.aggregations)
            return None
        if isinstance(stmt, A.RefreshRollupStatement):
            self.refresh_rollup(stmt.name)
            return None
        if isinstance(stmt, A.VerifyRollupStatement):
            rep = self.verify_rollup(stmt.name, sample_days=stmt.sample_days)
            return self.spark.createDataFrame(
                [(rep["ok"], rep["days_total"], rep["days_checked"],
                  [int(d) for d in rep["mismatched_days"]])],
                "ok boolean, days_total long, days_checked long, "
                "mismatched_days array<long>")
        if isinstance(stmt, A.QueryRollupStatement):
            df = self.rollup(stmt.name)
            if stmt.start is not None:
                df = df.filter(F.col("window_start") >= stmt.start)
            if stmt.end is not None:
                df = df.filter(F.col("window_start") <= stmt.end)
            return order_windows(df)
        raise TypeError(f"unhandled statement {type(stmt).__name__}")
