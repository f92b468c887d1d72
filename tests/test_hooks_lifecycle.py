"""Full hook-bus lifecycle event breadth (hooks/hooks.go:17-71).

The reference defines 36 lifecycle events; the Spark engine publishes every
one of them at the analogous warehouse site (SSTable -> parquet append,
WAL append -> durable L0 append, WAL rotate -> L0 merge, manifest ->
snapshot manifest). One recording bus watches everything; each family gets
a golden assertion on ordering and payload.
"""

from __future__ import annotations

import pytest

from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.streaming.hooks import EVENTS, HookBus

BASE = 1_700_000_000 * 1_000_000_000
MIN = 60 * 1_000_000_000

# hooks/hooks.go:17-71, snake_cased — the parity contract
REFERENCE_EVENTS = {
    "pre_put_data_point", "post_put_data_point",
    "pre_put_batch", "post_put_batch",
    "pre_get_point", "post_get_point",
    "pre_delete_point", "post_delete_point",
    "pre_delete_series", "post_delete_series",
    "pre_delete_range", "post_delete_range",
    "pre_flush_memtable", "post_flush_memtable", "post_compaction",
    "pre_compaction", "pre_create_snapshot", "post_create_snapshot",
    "post_sstable_create", "pre_sstable_delete", "post_manifest_write",
    "pre_wal_append", "post_wal_append", "post_wal_rotate",
    "post_wal_recovery",
    "on_cache_hit", "on_cache_miss", "on_cache_eviction",
    "on_string_create", "on_series_create",
    "pre_start_engine", "post_start_engine",
    "pre_close_engine", "post_close_engine",
    "pre_query", "post_query",
}


def test_event_set_matches_reference():
    assert set(EVENTS) == REFERENCE_EVENTS
    assert len(EVENTS) == 36


class Recorder:
    def __init__(self, bus: HookBus):
        self.log: list[tuple[str, object]] = []
        for e in EVENTS:
            bus.register(e, self)

    def __call__(self, event, payload, batch_id=-1):
        self.log.append((event, payload))

    def names(self):
        return [e for e, _p in self.log]

    def first(self, event):
        for e, p in self.log:
            if e == event:
                return p
        raise AssertionError(f"event {event} never fired; saw {self.names()}")


@pytest.fixture()
def wired(spark, tmp_path_factory):
    bus = HookBus()
    rec = Recorder(bus)
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("hooks_wh")),
                      l0_trigger=100, cache_capacity=4, hooks=bus)
    return eng, rec


@pytest.mark.nightly
def test_start_put_and_wal_events(wired):
    eng, rec = wired
    assert rec.names()[:2] == ["pre_start_engine", "post_start_engine"]
    rec.log.clear()
    seq = eng.put("hx.metric", {"h": "a"}, {"v": 1.5}, BASE)
    names = rec.names()
    # ordering within one put: pre point -> pre batch -> wal bracket around
    # the durable append (which itself is the sstable create) -> metadata
    # discovery -> post batch -> post point
    assert names.index("pre_put_data_point") < names.index("pre_put_batch")
    assert (names.index("pre_wal_append")
            < names.index("post_sstable_create")
            < names.index("post_wal_append"))
    assert names.index("on_string_create") < names.index("on_series_create")
    assert names.index("post_put_batch") < names.index("post_put_data_point")
    assert rec.first("post_put_data_point")["seq"] == seq
    assert rec.first("on_series_create")["series_key"] == "hx.metric|h=a"
    assert rec.first("on_string_create")["value"] == "hx.metric"
    # same series again: no second create events
    rec.log.clear()
    eng.put("hx.metric", {"h": "a"}, {"v": 2.0}, BASE + MIN)
    assert "on_series_create" not in rec.names()
    assert "on_string_create" not in rec.names()
    # new tag set on the same metric: series fires, string doesn't
    rec.log.clear()
    eng.put("hx.metric", {"h": "b"}, {"v": 3.0}, BASE)
    assert "on_series_create" in rec.names()
    assert "on_string_create" not in rec.names()


def test_pre_put_data_point_payload_is_mutable(wired):
    """The reference passes pointers so listeners can rewrite a point
    before it lands (PrePutDataPointPayload); dict mutation is the analog."""
    eng, rec = wired

    def scrub(event, payload, batch_id=-1):
        payload["fields"] = {"v": 99.0}

    eng.hooks.register("pre_put_data_point", scrub)
    eng.put("mut.metric", {"h": "a"}, {"v": 1.0}, BASE)
    got = eng.get("mut.metric", {"h": "a"}, BASE)
    assert got == {"v": 99.0}


def test_get_delete_flush_events(wired):
    eng, rec = wired
    eng.put("hd.metric", {"h": "a"}, {"v": 1.0}, BASE)
    rec.log.clear()
    assert eng.get("hd.metric", {"h": "a"}, BASE) == {"v": 1.0}
    assert rec.names()[:1] == ["pre_get_point"]
    assert rec.first("post_get_point")["found"] is True
    assert eng.get("hd.metric", {"h": "a"}, BASE + 5) is None
    assert rec.first("post_get_point")["found"] is True  # first call
    assert [p["found"] for e, p in rec.log
            if e == "post_get_point"] == [True, False]
    rec.log.clear()
    eng.delete_point("hd.metric", {"h": "a"}, BASE)
    eng.delete_series("hd.metric", {"h": "a"})
    eng.delete_range("hd.metric", {"h": "a"}, BASE, BASE + MIN)
    names = rec.names()
    for kind in ("point", "series", "range"):
        assert names.index(f"pre_delete_{kind}") < names.index(f"post_delete_{kind}")
    assert rec.first("post_delete_range")["start"] == BASE
    rec.log.clear()
    eng.flush()
    names = rec.names()
    assert (names.index("pre_flush_memtable")
            < names.index("pre_sstable_delete")
            < names.index("post_wal_rotate")
            < names.index("post_flush_memtable"))


def test_compact_snapshot_close_events(wired):
    eng, rec = wired
    eng.put("hc.metric", {"h": "a"}, {"v": 1.0}, BASE)
    rec.log.clear()
    eng.compact()
    names = rec.names()
    assert names.index("pre_compaction") < names.index("post_compaction")
    assert "pre_sstable_delete" in names
    assert rec.first("post_compaction")["bytes_read"] > 0
    rec.log.clear()
    snap = eng.snapshot()
    names = rec.names()
    assert (names.index("pre_create_snapshot")
            < names.index("post_manifest_write")
            < names.index("post_create_snapshot"))
    assert rec.first("post_create_snapshot")["path"] == snap
    assert rec.first("post_manifest_write")["n_files"] > 0
    rec.log.clear()
    eng.close()
    assert rec.names()[0] == "pre_close_engine"
    assert rec.names()[-1] == "post_close_engine"


@pytest.mark.nightly
def test_query_and_cache_events(wired):
    eng, rec = wired
    eng.put("hq.metric", {"h": "a"}, {"v": 1.0}, BASE)
    rec.log.clear()
    q = 'QUERY hq.metric FROM 0 TO 3000000000000000000 AGGREGATE (count(v))'
    eng.execute(q).collect()
    names = rec.names()
    assert names.index("pre_query") < names.index("on_cache_miss")
    assert names.index("on_cache_miss") < names.index("post_query")
    rec.log.clear()
    eng.execute(q).collect()
    assert "on_cache_hit" in rec.names()
    # fill the 4-entry cache past capacity -> eviction event
    rec.log.clear()
    for i in range(5):
        eng.execute(f'QUERY hq.metric FROM 0 TO {BASE + i} AGGREGATE (count(v))')
    assert "on_cache_eviction" in rec.names()


@pytest.mark.nightly
def test_wal_recovery_on_reopen(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("reopen_wh"))
    eng = NexusEngine(spark, wh)
    eng.put("hr.metric", {"h": "a"}, {"v": 1.0}, BASE)
    bus = HookBus()
    rec = Recorder(bus)
    eng2 = NexusEngine(spark, wh, hooks=bus)
    assert rec.first("post_wal_recovery")["max_seq"] >= 0
    assert eng2.get("hr.metric", {"h": "a"}, BASE) == {"v": 1.0}


@pytest.mark.nightly
def test_bulk_ingest_series_create(wired):
    """The bulk path detects new series via an anti-join against the
    catalog — only when someone is listening."""
    import pyspark.sql.functions as F
    eng, rec = wired
    eng.put("hb.metric", {"h": "a"}, {"v": 1.0}, BASE)
    rec.log.clear()
    df = (eng.spark.range(2)
          .select(F.lit("hb.metric").alias("metric"),
                  F.create_map(F.lit("h"),
                               F.concat(F.lit("bulk"), F.col("id"))).alias("tags"),
                  (F.lit(BASE) + F.col("id") * MIN).alias("ts"),
                  F.lit("v").alias("field"), F.lit("float").alias("vtype"),
                  F.col("id").cast("double").alias("f_double"),
                  F.lit(None).cast("long").alias("f_long"),
                  F.lit(None).cast("string").alias("f_string"),
                  F.lit(None).cast("boolean").alias("f_bool")))
    eng.ingest_frame(df)
    created = {p["series_key"] for e, p in rec.log if e == "on_series_create"}
    assert created == {"hb.metric|h=bulk0", "hb.metric|h=bulk1"}
    # existing series in a second bulk batch: no new events
    rec.log.clear()
    eng.ingest_frame(df.withColumn("ts", F.col("ts") + 2 * MIN))
    assert "on_series_create" not in rec.names()


def test_async_post_listener_dispatch_and_drain():
    """Reference dispatch contract (hooks/hooks.go:599-648): post-hooks
    from an is_async listener run off-thread, tracked by a WaitGroup
    analog; stop() blocks until they drain."""
    import threading
    import time

    bus = HookBus()
    gate = threading.Event()
    seen: list[tuple[str, str]] = []

    def slow_async(event, payload, batch_id=-1):
        gate.wait(5.0)
        seen.append((event, threading.current_thread().name))

    bus.register("post_put_batch", slow_async, is_async=True)
    bus.publish("post_put_batch", {"points": []})
    assert seen == []                       # dispatched, not yet run
    gate.set()
    assert bus.stop(timeout=5.0)            # wg.Wait analog
    assert len(seen) == 1
    assert seen[0][1].startswith("hookbus-async")


def test_pre_hook_always_sync_and_cancels():
    """Pre-hooks are ALWAYS synchronous — an is_async request is honored
    sync (hooks.go:612-619) — and a raising pre-listener cancels the
    operation (the exception propagates, hooks.go:623-626)."""
    import threading

    bus = HookBus()
    ran_on: list[str] = []
    bus.register("pre_put_batch",
                 lambda e, p, b=-1: ran_on.append(threading.current_thread().name),
                 is_async=True)             # ignored for pre-hooks
    bus.publish("pre_put_batch", {"points": []})
    assert ran_on == [threading.main_thread().name]

    def deny(event, payload, batch_id=-1):
        raise PermissionError("rejected by pre-hook")

    bus.register("pre_put_data_point", deny)
    with pytest.raises(PermissionError):
        bus.publish("pre_put_data_point", {"metric": "m"})


def test_post_hook_errors_collected_not_raised():
    """Post-hook errors never abort the publisher (hooks.go:627-628 logs
    and continues; :636-638 for async) — collected on bus.errors, and
    later listeners still run."""
    bus = HookBus()
    calls: list[str] = []

    def boom(event, payload, batch_id=-1):
        calls.append("boom")
        raise RuntimeError("sync post failure")

    def after(event, payload, batch_id=-1):
        calls.append("after")

    def boom_async(event, payload, batch_id=-1):
        raise RuntimeError("async post failure")

    bus.register("post_put_batch", boom, priority=1)
    bus.register("post_put_batch", after, priority=2)
    bus.register("post_put_batch", boom_async, priority=3, is_async=True)
    bus.publish("post_put_batch", {"points": []})   # must not raise
    assert bus.stop(timeout=5.0)
    assert calls == ["boom", "after"]
    assert sorted(str(e) for _ev, e in bus.errors) == [
        "async post failure", "sync post failure"]


def test_post_hook_errors_keep_the_most_recent():
    """A long-lived bus keeps only the newest ERRORS_KEPT post-hook
    failures; error_count still counts every one."""
    bus = HookBus()

    def boom(event, payload, batch_id=-1):
        raise RuntimeError(str(payload["i"]))

    bus.register("post_put_batch", boom)
    n = HookBus.ERRORS_KEPT + 5
    for i in range(n):
        bus.publish("post_put_batch", {"i": i})
    assert bus.error_count == n
    assert [str(e) for _ev, e in bus.errors] == [
        str(i) for i in range(5, n)]


def test_listener_priority_order():
    """Lower priority runs first; stable within a priority
    (hooks.go:569-586 keeps the slice sorted on Register)."""
    bus = HookBus()
    order: list[str] = []
    mk = lambda tag: (lambda e, p, b=-1: order.append(tag))
    bus.register("post_query", mk("late"), priority=50)
    bus.register("post_query", mk("first"), priority=1)
    bus.register("post_query", mk("mid_a"), priority=10)
    bus.register("post_query", mk("mid_b"), priority=10)   # stable tie
    bus.publish("post_query", {})
    assert order == ["first", "mid_a", "mid_b", "late"]
