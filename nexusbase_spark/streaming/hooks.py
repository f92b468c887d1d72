"""Hook bus: lifecycle callbacks on the ingest stream.

Reference: ``hooks/hooks.go:17-71`` — sync/async listeners on ~30 lifecycle
events (PrePutBatch, PostPutBatch, OnSeriesCreate, PreQuery, ...), with two
built-in listeners rebuilt here:

- OutlierDetector (``hooks/listeners/outlier_detector.go:19-100``):
  min/max threshold rules per (metric, field), evaluated on PrePutBatch.
- CardinalityAlerter (``hooks/listeners/cardinality_alerter.go:14-52``):
  warns when a batch creates a previously-unseen series.
- WriteAmplificationListener (``hooks/listeners/waf.go:40-104``):
  accumulates bytes read/written per PostCompaction event and exposes the
  write-amplification factor written/read.

Spark mapping: listeners run inside ``foreachBatch`` on the ingest stream
(micro-batch = the reference's batch hook granularity). Filters are
DataFrame expressions, so the detection work happens distributed; only the
(tiny) violation sets come back to the driver callbacks.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Listener = Callable[[str, object, int], None]

# The reference's full lifecycle event set (hooks/hooks.go:17-71), snake_
# cased. Engine publish points are documented per event in engine.py; the
# WAL/SSTable/manifest internals map to their Parquet-warehouse analogs
# (SURVEY.md §4): an "SSTable" is a parquet append, the "WAL append" is the
# durable L0 append a put_batch makes, "WAL rotate" is the L0 -> base merge,
# and "WAL recovery" is the open-time rescan of existing warehouse state.
# on_string_create fires for newly interned METRIC names (the narrower
# analog of the reference's string store — tag keys/values aren't interned
# here; they live inline in the tags map column).
EVENTS = (
    # data lifecycle (hooks.go:22-35)
    "pre_put_data_point", "post_put_data_point",
    "pre_put_batch", "post_put_batch",
    "pre_get_point", "post_get_point",
    "pre_delete_point", "post_delete_point",
    "pre_delete_series", "post_delete_series",
    "pre_delete_range", "post_delete_range",
    # engine lifecycle (hooks.go:37-40)
    "pre_flush_memtable", "post_flush_memtable", "post_compaction",
    # admin lifecycle (hooks.go:42-45)
    "pre_compaction", "pre_create_snapshot", "post_create_snapshot",
    # engine internal, parquet analogs (hooks.go:47-55)
    "post_sstable_create", "pre_sstable_delete", "post_manifest_write",
    "pre_wal_append", "post_wal_append", "post_wal_rotate",
    "post_wal_recovery",
    # cache (hooks.go:56-59)
    "on_cache_hit", "on_cache_miss", "on_cache_eviction",
    # metadata & indexing (hooks.go:61-63)
    "on_string_create", "on_series_create",
    # engine start/stop + query lifecycle (hooks.go:65-72)
    "pre_start_engine", "post_start_engine",
    "pre_close_engine", "post_close_engine",
    "pre_query", "post_query",
)


class HookBus:
    """Listener registry keyed by event name, with the reference's
    priority + sync/async dispatch contract (hooks/hooks.go:541-648):

    - listeners are invoked in PRIORITY order, lower first. Within equal
      priority this implementation is FIFO-stable (registration order),
      an INTENTIONAL divergence from the reference: hooks.go Register
      (:569-586) uses sort.Search with >= and inserts a new equal-priority
      listener BEFORE existing ones (LIFO among equals). FIFO is the
      saner contract — "registered first, runs first" — and no reference
      test depends on the LIFO quirk (ADVICE r3);
    - pre_* hooks are ALWAYS synchronous so a raising listener can cancel
      the operation (an ``is_async`` request on a pre-hook is honored
      sync, mirroring the reference's warn-and-run-sync at :612-619);
    - post_* hooks run sync by default; a listener registered with
      ``is_async=True`` is dispatched on a worker thread tracked by a
      WaitGroup analog (:630-640). Errors from post-hooks never abort the
      publisher: the most recent ``ERRORS_KEPT`` are kept in ``errors``
      and ``error_count`` counts them all (:627-628,636-638 log), so a
      long-lived server's bus stays bounded;
    - ``stop()`` drains: waits for every in-flight async listener
      (:645-648 ``wg.Wait``)."""

    ERRORS_KEPT = 256

    def __init__(self) -> None:
        import threading
        # [(priority, insertion_seq, listener, is_async)] sorted
        self._listeners: dict[str, list[tuple]] = {e: [] for e in EVENTS}
        self._seq = 0
        self._pool = None
        self._inflight = 0
        self._cv = threading.Condition()
        self.errors: deque[tuple[str, Exception]] = deque(maxlen=self.ERRORS_KEPT)
        self.error_count = 0

    def register(self, event: str, listener: Listener, *,
                 priority: int = 100, is_async: bool = False) -> None:
        if event not in self._listeners:
            raise ValueError(f"unknown hook event {event!r}; known: {EVENTS}")
        import bisect
        lst = self._listeners[event]
        item = (priority, self._seq, listener, is_async)
        self._seq += 1
        bisect.insort(lst, item, key=lambda it: (it[0], it[1]))

    def has_listeners(self, event: str) -> bool:
        """Cheap pre-check for events whose PAYLOAD is expensive to build
        (e.g. new-series detection on the bulk ingest path runs an
        anti-join only when someone is listening)."""
        return bool(self._listeners.get(event))

    def _submit(self, fn) -> None:
        from concurrent.futures import ThreadPoolExecutor
        if self._pool is None:
            self._pool = ThreadPoolExecutor(
                max_workers=4, thread_name_prefix="hookbus-async")
        with self._cv:
            self._inflight += 1

        def run():
            try:
                fn()
            finally:
                with self._cv:
                    self._inflight -= 1
                    self._cv.notify_all()

        self._pool.submit(run)

    def publish(self, event: str, payload, batch_id: int = -1) -> None:
        """Payload is a DataFrame for batch events, a plain dict for
        lifecycle events like post_compaction (old/new table sizes).
        pre_* payload dicts are MUTABLE on purpose: the reference passes
        pointers so listeners can rewrite a point before it lands
        (hooks.go PrePutDataPointPayload); dict mutation is the analog.
        A raising pre_* listener cancels the operation (the exception
        propagates); post_* listener errors are collected, never raised."""
        is_pre = event.startswith("pre_")
        for _prio, _seq, listener, is_async in self._listeners.get(event, ()):
            if is_pre or not is_async:
                if is_pre:
                    listener(event, payload, batch_id)  # may cancel
                else:
                    try:
                        listener(event, payload, batch_id)
                    except Exception as exc:  # post-hooks never abort
                        self._record_error(event, exc)
            else:
                def call(listener=listener):
                    try:
                        listener(event, payload, batch_id)
                    except Exception as exc:
                        self._record_error(event, exc)
                self._submit(call)

    def _record_error(self, event: str, exc: Exception) -> None:
        with self._cv:  # async listeners fail on worker threads
            self.errors.append((event, exc))
            self.error_count += 1

    def stop(self, timeout: float | None = 30.0) -> bool:
        """Drain: block until every dispatched async listener finished
        (hooks.go:645-648). Returns False on timeout."""
        import time as _time
        deadline = None if timeout is None else _time.monotonic() + timeout
        with self._cv:
            while self._inflight > 0:
                remaining = (None if deadline is None
                             else deadline - _time.monotonic())
                if remaining is not None and remaining <= 0:
                    return False
                self._cv.wait(remaining)
        if self._pool is not None:
            self._pool.shutdown(wait=True)
            self._pool = None
        return True

    def listeners_of(self, cls: type) -> list:
        """All registered listeners of a given class, across events —
        lets a metrics scrape find e.g. the write-amplification meter."""
        seen: list = []
        for listeners in self._listeners.values():
            for _prio, _seq, lst, _a in listeners:
                if isinstance(lst, cls) and lst not in seen:
                    seen.append(lst)
        return seen

    def for_each_batch(self, inner: Callable[[DataFrame, int], None] | None = None):
        """Wrap a foreachBatch sink: pre hooks -> sink -> post hooks."""
        def run(batch: DataFrame, batch_id: int) -> None:
            self.publish("pre_put_batch", batch, batch_id)
            if inner is not None:
                inner(batch, batch_id)
            self.publish("post_put_batch", batch, batch_id)
        return run


@dataclass
class ThresholdRule:
    metric: str
    field: str           # field column name in the points frame
    min_value: float | None = None
    max_value: float | None = None


@dataclass
class OutlierDetector:
    """Flags rows outside [min, max] per (metric, field) rule; violations
    are handed to ``on_violation`` as a small collected list."""

    rules: list[ThresholdRule]
    on_violation: Callable[[list], None]
    violations_seen: int = 0

    def __call__(self, event: str, batch: DataFrame, batch_id: int) -> None:
        pred = None
        for r in self.rules:
            cond = F.col("metric") == r.metric
            bounds = F.lit(False)
            if r.min_value is not None:
                bounds = bounds | (F.col(r.field) < r.min_value)
            if r.max_value is not None:
                bounds = bounds | (F.col(r.field) > r.max_value)
            c = cond & bounds
            pred = c if pred is None else (pred | c)
        if pred is None:
            return
        bad = batch.filter(pred).collect()
        if bad:
            self.violations_seen += len(bad)
            self.on_violation(bad)


@dataclass
class WriteAmplificationListener:
    """Write-amplification (WAF) metrics on PostCompaction events —
    ``hooks/listeners/waf.go:40-104``: per compaction, sum the sizes of the
    consumed (old) tables as bytes_read and the produced (new) tables as
    bytes_written; expose running totals and the ratio written/read, 0.0
    when nothing has been read yet (waf.go:30-36). The reference publishes
    these through expvar; here they're plain counters a metrics endpoint
    can scrape."""

    total_bytes_read: int = 0
    total_bytes_written: int = 0
    compaction_events: int = 0

    def __call__(self, event: str, payload, batch_id: int = -1) -> None:
        if not isinstance(payload, dict):  # only PostCompaction payloads
            return
        self.total_bytes_read += int(payload.get("bytes_read", 0))
        self.total_bytes_written += int(payload.get("bytes_written", 0))
        self.compaction_events += 1

    def waf(self) -> float:
        if self.total_bytes_read == 0:
            return 0.0
        return self.total_bytes_written / self.total_bytes_read


@dataclass
class WriteFirewallListener:
    """Write firewall (beyond the reference — its WAF listener is the
    write-amplification meter above): blocks points whose metric matches a
    denied prefix or whose tag value matches a denied exact value.
    ``blocked_filter()`` is the predicate an ingest pipeline applies
    (rows to DROP); the listener reports what would be blocked."""

    deny_metric_prefixes: list[str]
    deny_tag_values: dict[str, str]
    on_blocked: Callable[[int, int], None] | None = None  # (batch_id, n)

    def blocked_filter(self):
        pred = F.lit(False)
        for p in self.deny_metric_prefixes:
            pred = pred | F.col("metric").startswith(p)
        for k, v in self.deny_tag_values.items():
            pred = pred | (F.col("tags").getItem(k) == v)
        return pred

    def __call__(self, event: str, batch: DataFrame, batch_id: int) -> None:
        n = batch.filter(self.blocked_filter()).count()
        if n and self.on_blocked:
            self.on_blocked(batch_id, n)


@dataclass
class CardinalityAlerter:
    """Detects new series per batch. Driver-side seen-set state mirrors the
    reference's in-memory map; at real scale this becomes a streaming
    dedup on series_key with state-store backing."""

    on_new_series: Callable[[list[str]], None]
    seen: set = field(default_factory=set)

    def __call__(self, event: str, batch: DataFrame, batch_id: int) -> None:
        keys = {r["series_key"] for r in batch.select("series_key").distinct().collect()}
        new = sorted(keys - self.seen)
        if new:
            self.seen |= keys
            self.on_new_series(new)
