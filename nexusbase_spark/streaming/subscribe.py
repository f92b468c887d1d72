"""Real-time subscription surface on Structured Streaming.

Reference: ``engine2/pubsub.go:13-126`` — subscribers register a metric
filter and tag filters; both support PREFIX wildcards (``foo*`` —
pubsub.go:33-60). Every Put/Delete matching the filter is pushed; the
per-subscriber channel drops on overflow (best-effort, at-most-once —
pubsub.go:104-120).

Spark mapping: the ingest stream IS the pub/sub bus. A subscription is a
streaming filter over it; delivery guarantees come from the sink
(foreachBatch = at-least-once with checkpointing — stronger than the
reference's drop-on-overflow, documented divergence). Watermarks are NOT
needed for parity (the reference accepts any timestamp and computes windows
at query time — SURVEY.md §2.10); ``live_downsample`` shows the watermarked
variant for true streaming aggregation at scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def match_expr(col: Column, pattern: str) -> Column:
    """Exact match, or prefix match when the pattern ends with '*'
    (engine2/pubsub.go:33-60). '*' alone matches everything."""
    if pattern == "*":
        return F.lit(True)
    if pattern.endswith("*"):
        return col.startswith(pattern[:-1])
    return col == pattern


def subscription_filter(df: DataFrame, metric: str = "*",
                        tags: dict[str, str] | None = None) -> DataFrame:
    """Apply subscription semantics to a (batch or streaming) points frame."""
    out = df.filter(match_expr(F.col("metric"), metric))
    for k, v in (tags or {}).items():
        out = out.filter(match_expr(F.col("tags").getItem(k), v))
    return out


class BoundedSubscriber:
    """Reference-parity subscriber buffer: a bounded queue with
    NON-BLOCKING enqueue — engine2/pubsub.go:80-82 allocates a 100-slot
    channel per subscription and Publish (:104-120) uses select/default,
    so a slow consumer LOSES updates rather than blocking the writer
    (best-effort, at-most-once).

    foreachBatch delivery is at-least-once (stronger); this adapter
    reproduces the reference's drop-on-overflow at the consumer edge:
    rows beyond ``capacity`` are dropped and counted, ingest never
    blocks. Counters mirror pubsub.go's publish summary (matched / sent /
    dropped). Use as the ``on_batch`` of ``subscribe``; drain with
    ``take()``. Single-process adapter by design — at fleet scale the
    subscription sink is a Kafka topic and backpressure is the broker's
    problem, not the engine's."""

    def __init__(self, capacity: int = 100):
        import threading
        from collections import deque
        self.capacity = capacity
        self._q: deque = deque()
        self._lock = threading.Lock()
        self.matched = 0
        self.sent = 0
        self.dropped = 0
        self.closed = False

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if self.closed:
            return
        # Count distributed, then pull at most the remaining capacity: a
        # surge micro-batch of millions of matched rows never lands on the
        # driver — only the <=capacity survivors do. Which rows survive an
        # overflow is unspecified, same as the reference's select/default
        # drop (pubsub.go:104-120).
        total = batch.count()
        with self._lock:
            room = self.capacity - len(self._q)
        rows = batch.limit(room).collect() if room > 0 else []
        with self._lock:
            if self.closed:  # close() raced the collect: publishes after
                return       # unsubscribe are ignored (pubsub.go:94-103)
            room = self.capacity - len(self._q)  # re-clamp: room may have shrunk
            took = rows[:room] if room > 0 else []
            self._q.extend(took)
            self.matched += total
            self.sent += len(took)
            self.dropped += total - len(took)  # select/default: drop, don't block

    def take(self, n: int | None = None) -> list:
        """Drain up to n buffered updates (all when n is None)."""
        with self._lock:
            out = []
            while self._q and (n is None or len(out) < n):
                out.append(self._q.popleft())
            return out

    def close(self) -> None:
        """Unsubscribe (pubsub.go:94-103): further publishes are ignored."""
        with self._lock:
            self.closed = True
            self._q.clear()


def stream_ingest(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    """File-source ingest stream: new parquet files appearing under
    ``source_dir`` become micro-batches — the WAL-tail analog. On a real
    cluster this is the same code with a Kafka source swapped in."""
    return spark.readStream.schema(schema).parquet(source_dir)


def subscribe(stream: DataFrame, on_batch: Callable[[DataFrame, int], None],
              metric: str = "*", tags: dict[str, str] | None = None,
              name: str = "subscription",
              checkpoint: str | None = None) -> StreamingQuery:
    """Start a subscription: filtered stream -> foreachBatch callback
    (the gRPC Subscribe push loop — server/grpc_server.go:456-491)."""
    filtered = subscription_filter(stream, metric, tags)
    writer = (filtered.writeStream.queryName(name)
              .foreachBatch(on_batch).outputMode("append"))
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _dur(ns: int) -> str:
    """ns interval -> a Spark window duration string at MICROSECOND
    granularity (the event-time resolution). Previously floored to whole
    seconds with a 1s minimum, which silently shifted boundaries for
    sub-second or non-second-aligned intervals (500ms, 90.5s); anything
    not representable in whole microseconds is rejected instead."""
    if ns <= 0 or ns % 1_000 != 0:
        raise ValueError(
            f"window interval {ns}ns is not a positive whole number of "
            "microseconds; event-time windows are µs-granular")
    return f"{ns // 1_000} microseconds"


def _event_time() -> Column:
    """Event time of the ns ``ts`` column, floored to whole µs in integer
    arithmetic (the batch ``align_col``'s pmod floor). ns timestamps
    exceed 2^53, so ``ts / 1000`` as a double rounds by up to 128 ns and
    can push a point just before a window boundary into the next window."""
    return F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))


def live_downsample(stream: DataFrame, interval_ns: int,
                    slide_ns: int | None = None,
                    watermark_delay: str = "10 minutes") -> DataFrame:
    """Streaming per-series window aggregation with late-data handling —
    the scale path for continuous rollups (the reference recomputes windows
    at query time instead; SURVEY.md §2.10).

    Windows tumble by default; with ``slide_ns`` they HOP, the live
    counterpart of the batch ``downsample(..., slide=)``: each point
    contributes to interval/slide overlapping windows. Structured
    Streaming's window(ts, size, slide) assigns them natively (state per
    open window per series, bounded by the watermark horizon), and a
    window closes once the watermark passes its end. Emits (metric,
    series_key, window_start, count/sum/avg) per closed window.
    """
    window = F.window("event_time", _dur(interval_ns),
                      _dur(interval_ns if slide_ns is None else slide_ns))
    return (
        stream.withColumn("event_time", _event_time())
        .withWatermark("event_time", watermark_delay)
        .groupBy(window, F.col("metric"), F.col("series_key"))
        .agg(F.count(F.lit(1)).alias("count_*"),
             F.sum("value").alias("sum_value"),
             F.avg("value").alias("avg_value"))
        .withColumn("window_start", F.unix_micros(F.col("window.start")) * 1000)
        .drop("window")
    )


def live_dedup(stream: DataFrame, keys: tuple[str, ...] = ("series_key", "ts"),
               watermark_delay: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on ingest: keep the FIRST arrival of each key
    seen within the watermark horizon (dropDuplicatesWithinWatermark).

    The batch engine resolves duplicate (series, ts) writes by MVCC
    last-write-wins at READ time (iterator/iterator.go:270-289); this is
    the scale-path complement — drop replayed/duplicate points at INGEST
    so the storage layer never accumulates them. State self-expires with
    the watermark: on a 1000-executor cluster the dedup state holds only
    the horizon's keys, where a plain dropDuplicates would grow a
    full-history state store without bound. First-wins (vs the reader's
    highest-seq-wins) is the documented divergence: an at-least-once
    source replays IDENTICAL points, where first == last."""
    return (stream.withColumn("event_time", _event_time())
            .withWatermark("event_time", watermark_delay)
            .dropDuplicatesWithinWatermark(list(keys))
            .drop("event_time"))
