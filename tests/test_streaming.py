"""Streaming surface tests: subscription wildcard semantics, live ingest ->
subscribe delivery, hook-bus listeners, watermarked live downsample.
Mirrors server/e2e_test.go:1015 (Subscribe) and engine2/pubsub.go:33-60."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from nexusbase_spark.datamodel import events_to_points, load_table
from nexusbase_spark.streaming import (
    CardinalityAlerter,
    HookBus,
    OutlierDetector,
    live_downsample,
    stream_ingest,
    subscribe,
    subscription_filter,
)
from nexusbase_spark.streaming.hooks import ThresholdRule


def test_wildcard_semantics(spark, sf_dir):
    pts = events_to_points(load_table(spark, sf_dir, "events"))
    total = pts.count()
    assert subscription_filter(pts, "*").count() == total
    assert subscription_filter(pts, "click").count() == pts.filter("metric = 'click'").count()
    c_star = subscription_filter(pts, "c*").count()
    assert c_star == pts.filter(F.col("metric").startswith("c")).count() > 0
    t = subscription_filter(pts, "*", {"user": "1*"})
    assert t.count() == pts.filter(F.col("tags")["user"].startswith("1")).count() > 0
    assert subscription_filter(pts, "nope*").count() == 0


@pytest.fixture()
def point_stream(spark, tmp_path):
    """File-source micro-batch stream fed by parquet drops."""
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = ("metric string, tags map<string,string>, series_key string, "
              "ts long, seq long, value double")

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a", 1_000, 1, 10.0)])
    stream = stream_ingest(spark, str(src), schema)
    return stream, feed


@pytest.mark.nightly
def test_subscribe_delivery_and_hooks(spark, point_stream, tmp_path):
    stream, feed = point_stream
    delivered: list = []
    outliers: list = []
    new_series: list = []

    bus = HookBus()
    bus.register("pre_put_batch", OutlierDetector(
        [ThresholdRule("cpu.usage", "value", max_value=90.0)],
        on_violation=outliers.extend))
    bus.register("post_put_batch", CardinalityAlerter(on_new_series=new_series.extend))

    def sink(batch, batch_id):
        delivered.extend(batch.collect())

    q = subscribe(stream, bus.for_each_batch(sink), metric="cpu.*",
                  tags={"host": "a"}, name="t_sub",
                  checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        n0 = len(delivered)
        assert n0 == 1
        feed([
            ("cpu.usage", {"host": "a"}, "cpu.usage|host=a", 2_000, 2, 95.5),   # outlier
            ("cpu.usage", {"host": "b"}, "cpu.usage|host=b", 2_000, 3, 50.0),   # filtered out
            ("mem.usage", {"host": "a"}, "mem.usage|host=a", 2_000, 4, 1.0),    # filtered out
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    # prefix metric + exact tag filter: only cpu.usage|host=a delivered
    assert len(delivered) == 2
    assert {r["seq"] for r in delivered} == {1, 2}
    # outlier detector fired on the >90 value (post-filter stream)
    assert [r["seq"] for r in outliers] == [2]
    # cardinality alerter saw the series once
    assert new_series == ["cpu.usage|host=a"]


@pytest.mark.nightly
def test_subscribe_drop_on_overflow(spark, point_stream):
    """Reference pubsub parity (engine2/pubsub.go:80-82,104-120): a
    subscriber buffer is a bounded 'channel' with non-blocking enqueue —
    a slow consumer LOSES updates beyond capacity, ingest never blocks,
    and the drop is counted. Draining frees capacity for later batches;
    close() makes further publishes no-ops."""
    from nexusbase_spark.streaming import BoundedSubscriber

    stream, feed = point_stream
    sub = BoundedSubscriber(capacity=5)
    q = subscribe(stream, sub, metric="cpu.*", name="t_drop")
    try:
        q.processAllAvailable()                  # fixture's seed row
        feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a",
               10_000 + i, 10 + i, float(i)) for i in range(12)])
        q.processAllAvailable()
        assert sub.matched == 13                 # 1 seed + 12 fed
        assert sub.sent == 5 and sub.dropped == 8
        got = sub.take()
        assert len(got) == 5 and sub.take() == []
        # drained capacity admits later updates again
        feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a",
               99_000, 99, 1.5)])
        q.processAllAvailable()
        assert sub.sent == 6 and len(sub.take()) == 1
        # unsubscribe: further publishes are ignored
        sub.close()
        feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a",
               99_500, 100, 2.5)])
        q.processAllAvailable()
        assert sub.matched == 14 and sub.take() == []
    finally:
        q.stop()


def test_bounded_subscriber_surge_bounded_transfer(spark):
    """A surge micro-batch >> capacity must NOT be collect()ed whole onto
    the driver (VERDICT r2 "What's wrong" #2): matched is counted
    distributed, and only <= remaining-capacity rows cross to the driver
    via limit(). Counters stay reference-exact (pubsub.go:104-120)."""
    from nexusbase_spark.streaming import BoundedSubscriber

    surge = spark.range(10_000).selectExpr("id as seq")

    class Spy:
        """Wraps the batch; records the largest row count ever collected."""
        max_collected = 0

        def __init__(self, df):
            self._df = df

        def count(self):
            return self._df.count()

        def limit(self, n):
            return Spy(self._df.limit(n))

        def collect(self):
            rows = self._df.collect()
            Spy.max_collected = max(Spy.max_collected, len(rows))
            return rows

    sub = BoundedSubscriber(capacity=100)
    sub(Spy(surge), 0)
    assert sub.matched == 10_000 and sub.sent == 100 and sub.dropped == 9_900
    assert Spy.max_collected <= 100          # driver transfer bounded
    assert len(sub.take()) == 100
    # second surge into a drained queue: same bound, counters accumulate
    sub(Spy(surge), 1)
    assert sub.matched == 20_000 and sub.sent == 200 and sub.dropped == 19_800
    assert Spy.max_collected <= 100


def test_bounded_subscriber_close_race():
    """close() racing a publish: the closed flag is re-checked inside the
    lock after the collect, so a publish that passed the early check still
    enqueues nothing once unsubscribed (pubsub.go:94-103)."""
    from nexusbase_spark.streaming import BoundedSubscriber

    sub = BoundedSubscriber(capacity=10)

    class RacyBatch:
        """close() fires between the distributed count and the collect —
        the widest race window in __call__."""

        def count(self):
            return 3

        def limit(self, n):
            sub.close()
            return self

        def collect(self):
            return [1, 2, 3]

    sub(RacyBatch(), 0)
    assert sub.take() == []                  # nothing enqueued after close
    assert sub.sent == 0 and sub.matched == 0 and sub.dropped == 0


@pytest.mark.nightly
def test_stream_ingest_into_engine(spark, tmp_path):
    """Live stream -> engine warehouse: rows fed while the stream runs are
    queryable through NBQL afterwards; WAF listener counts denials."""
    from nexusbase_spark.engine import NexusEngine
    from nexusbase_spark.streaming.hooks import WriteFirewallListener

    src = tmp_path / "ing_src"
    src.mkdir()
    schema = ("metric string, tags map<string,string>, ts long, "
              "field string, vtype string, f_double double, f_long long, "
              "f_string string, f_bool boolean")

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    eng = NexusEngine(spark, str(tmp_path / "wh"))
    blocked: list = []
    bus = HookBus()
    waf = WriteFirewallListener(deny_metric_prefixes=["__evil"], deny_tag_values={},
                      on_blocked=lambda b, n: blocked.append(n))
    bus.register("pre_put_batch", waf)

    feed([("s.m", {"h": "a"}, 1_000, "v", "float", 1.5, None, None, None)])
    q = eng.start_stream_ingest(str(src), str(tmp_path / "ckpt"), bus=bus)
    try:
        q.processAllAvailable()
        feed([("s.m", {"h": "a"}, 2_000, "v", "float", 2.5, None, None, None),
              ("__evil.m", {"h": "z"}, 2_000, "v", "float", 0.0, None, None, None)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = eng.execute("QUERY s.m FROM 0 TO 10000").collect()
    assert [r["fields"]["v"] for r in rows] == ["1.5", "2.5"]
    assert blocked == [1]  # the __evil row was flagged by the WAF listener


def test_kafka_wire_parse_batch(spark):
    """The Kafka wire format round-trips: typed JSON point -> long-format
    rows; malformed messages are dropped, not poison."""
    from nexusbase_spark.streaming.kafka import encode_point_json, parse_kafka_points

    msgs = [
        encode_point_json("k.m", {"h": "a"}, {"v": 1.5, "status": 200,
                                              "level": "info", "ok": True}, 1_000),
        "{not json at all",
        '{"other": "shape"}',
    ]
    df = spark.createDataFrame([(m.encode(),) for m in msgs], "value binary")
    rows = {(r["field"]): r for r in parse_kafka_points(df).collect()}
    assert set(rows) == {"v", "status", "level", "ok"}
    assert rows["v"]["vtype"] == "float" and rows["v"]["f_double"] == 1.5
    assert rows["status"]["vtype"] == "int" and rows["status"]["f_long"] == 200
    assert rows["level"]["f_string"] == "info" and rows["ok"]["f_bool"] is True
    assert all(r["metric"] == "k.m" and r["ts"] == 1_000 for r in rows.values())


@pytest.mark.nightly
def test_kafka_shaped_stream_into_engine(spark, tmp_path):
    """End-to-end with a kafka-SHAPED stream (a text file stream provides
    the same ``value`` column the Kafka source yields — the reader swap is
    one line): messages land in the warehouse and answer NBQL queries,
    with per-point MVCC intact."""
    from nexusbase_spark.engine import NexusEngine
    from nexusbase_spark.streaming.kafka import encode_point_json, parse_kafka_points

    src = tmp_path / "kafka_src"
    src.mkdir()
    eng = NexusEngine(spark, str(tmp_path / "kwh"))

    def feed(name, msgs):
        (src / name).write_text("\n".join(msgs) + "\n")

    feed("b0.txt", [
        encode_point_json("kk.m", {"h": "a"}, {"v": 1.0, "n": 10}, 1_000),
        encode_point_json("kk.m", {"h": "b"}, {"v": 2.0}, 1_000),
    ])
    stream = parse_kafka_points(spark.readStream.text(str(src)))

    q = (stream.writeStream.queryName("kafka_sim_ingest")
         .foreachBatch(lambda b, _id: eng.ingest_frame(b))
         .option("checkpointLocation", str(tmp_path / "kckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # second batch replaces the whole (h=a, ts=1000) point via MVCC
        feed("b1.txt", [encode_point_json("kk.m", {"h": "a"}, {"v": 9.0}, 1_000)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = eng.execute('QUERY kk.m FROM 0 TO 10000 TAGGED (h="a")').collect()
    assert len(rows) == 1 and rows[0]["fields"] == {"v": "9.0"}
    rows = eng.execute('QUERY kk.m FROM 0 TO 10000 TAGGED (h="b")').collect()
    assert [r["fields"]["v"] for r in rows] == ["2.0"]


def test_live_window_starts_match_batch_downsample(spark):
    """On a static frame, live_downsample puts each point in the windows
    the batch downsample does: 1 ns before a boundary above 2^53 ns (a
    double ts/1000 rounded it into the next window), on the boundary, and
    pre-epoch; tumbling and hopping."""
    from nexusbase_spark.datamodel import series_key_expr
    from nexusbase_spark.functions.fidelity import AggSpec
    from nexusbase_spark.operators.downsample import downsample

    MIN = 60_000_000_000
    B = 1_700_000_040_000_000_000  # a whole minute
    df = spark.createDataFrame(
        [("m", {"h": "a"}, ts, i, 1.0)
         for i, ts in enumerate([B - 1, B, -MIN // 2 - 1])],
        "metric string, tags map<string,string>, ts long, seq long, value double")
    df = df.withColumn("series_key", series_key_expr(F.col("metric"), F.col("tags")))
    for slide in (None, MIN // 2):
        live = {(r["window_start"], r["count_*"])
                for r in live_downsample(df, MIN, slide_ns=slide).collect()}
        batch = {(r["window_start"], r["count_*"])
                 for r in downsample(df, MIN, [AggSpec("count", "*")],
                                     slide=slide).collect()}
        assert live == batch, (slide, sorted(live ^ batch))
        assert (B - MIN, 1) in live and (-MIN, 1) in live


@pytest.mark.nightly
def test_live_downsample_watermarked(spark, point_stream):
    stream, feed = point_stream
    agg = live_downsample(stream, 60 * 1_000_000_000, watermark_delay="0 seconds")
    q = (agg.writeStream.queryName("t_ds").outputMode("update")
         .format("memory").start())
    try:
        feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a",
               120 * 1_000_000_000 + i, 10 + i, float(i)) for i in range(4)])
        q.processAllAvailable()
        rows = spark.sql("select * from t_ds").collect()
    finally:
        q.stop()
    got = {(r["series_key"], r["window_start"]): (r["count_*"], r["sum_value"]) for r in rows}
    # the 4 fed points share the 120s-aligned window
    key = ("cpu.usage|host=a", 120 * 1_000_000_000)
    assert key in got and got[key] == (4, 6.0)


@pytest.mark.nightly
def test_live_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: intra-batch gap splits emit
    CLOSED sessions; the open session stays in state across micro-batches
    and is extended by a following batch, not re-emitted. (The sink is
    polled with a deadline: processing-time timeouts keep the query
    scheduling batches, so processAllAvailable would block.)"""
    from nexusbase_spark.streaming.sessions import live_sessionize

    src = tmp_path / "sess_src"
    src.mkdir()
    schema = "user string, ts long, value double"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    def sink_rows():
        return {tuple(r) for r in spark.sql(
            "SELECT user, session_start, session_end, n_events, sum_value "
            "FROM live_sessions").collect()}

    def await_rows(expected, deadline_s=90):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            got = sink_rows()
            if got == expected:
                return got
            time.sleep(0.5)
        return sink_rows()

    gap = 100
    # batch 1: u1 has two sessions split by a 150 gap (first one closes);
    # u2 has a single open session.
    feed([("u1", 0, 1.0), ("u1", 50, 2.0), ("u1", 200, 3.0),
          ("u2", 0, 9.0)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = live_sessionize(stream, "user", gap_ns=gap, timeout_ms=3_600_000)
    q = (out.writeStream.format("memory").queryName("live_sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .start())
    try:
        assert await_rows({("u1", 0, 50, 2, 3.0)}) == {("u1", 0, 50, 2, 3.0)}

        # batch 2: u1's open session (start 200) extends within gap, then a
        # far point closes it; u2 stays open (nothing emitted for u2).
        feed([("u1", 250, 4.0), ("u1", 1000, 5.0)])
        expected = {("u1", 0, 50, 2, 3.0), ("u1", 200, 250, 2, 7.0)}
        assert await_rows(expected) == expected
    finally:
        q.stop()


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _has_protobuf(), reason=(
    "transformWithStateInPandas workers need google.protobuf (absent in "
    "this container); the operator is exercised on protobuf-equipped "
    "clusters"))
def test_live_sessionize_tws(spark, tmp_path):
    """transformWithStateInPandas sessionization (the Spark-4 successor
    API): same closed-session semantics as the applyInPandasWithState
    operator, but the idle flush is an explicit per-key timer backed by
    the RocksDB state store."""
    from nexusbase_spark.streaming.sessions import live_sessionize_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    src = tmp_path / "tws_src"
    src.mkdir()
    schema = "user string, ts long, value double"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    def sink_rows():
        return {tuple(r) for r in spark.sql(
            "SELECT user, session_start, session_end, n_events, sum_value "
            "FROM tws_sessions").collect()}

    def await_rows(expected, deadline_s=90):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            got = sink_rows()
            if got == expected:
                return got
            time.sleep(0.5)
        return sink_rows()

    gap = 100
    feed([("u1", 0, 1.0), ("u1", 50, 2.0), ("u1", 200, 3.0),
          ("u2", 0, 9.0)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = live_sessionize_tws(stream, "user", gap_ns=gap, timeout_ms=3_600_000)
    q = (out.writeStream.format("memory").queryName("tws_sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
         .start())
    try:
        assert await_rows({("u1", 0, 50, 2, 3.0)}) == {("u1", 0, 50, 2, 3.0)}
        # the open session (start 200) extends within gap, then a far
        # point closes it; u2 stays open and is never emitted
        feed([("u1", 250, 4.0), ("u1", 1000, 5.0)])
        expected = {("u1", 0, 50, 2, 3.0), ("u1", 200, 250, 2, 7.0)}
        assert await_rows(expected) == expected
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


@pytest.mark.nightly
def test_live_dedup_within_watermark(spark, point_stream):
    """Replayed points (same series_key+ts) are dropped across micro-batches
    while the key is inside the watermark horizon; distinct timestamps all
    pass. First arrival wins (at-least-once replay semantics)."""
    from nexusbase_spark.streaming import live_dedup

    stream, feed = point_stream
    deduped = live_dedup(stream, watermark_delay="1 hour")
    q = (deduped.writeStream.queryName("t_dedup").outputMode("append")
         .format("memory").start())
    try:
        base = 120 * 1_000_000_000
        feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a", base, 10, 1.0),
              ("cpu.usage", {"host": "a"}, "cpu.usage|host=a", base, 11, 2.0)])
        q.processAllAvailable()
        # replay the same point in a LATER batch + one genuinely new ts
        feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a", base, 12, 3.0),
              ("cpu.usage", {"host": "a"}, "cpu.usage|host=a", base + 1, 13, 4.0)])
        q.processAllAvailable()
        rows = spark.sql("select series_key, ts, value from t_dedup").collect()
    finally:
        q.stop()
    got = {(r["series_key"], r["ts"]) for r in rows}
    # the fixture's warmup point plus the two distinct ts; replays dropped
    assert ("cpu.usage|host=a", base) in got
    assert ("cpu.usage|host=a", base + 1) in got
    by_key = [r for r in rows if r["ts"] == base]
    assert len(by_key) == 1 and by_key[0]["value"] == 1.0


@pytest.mark.nightly
def test_live_downsample_hopping_overlap(spark, point_stream):
    """Sliding windows: a point lands in size/slide overlapping windows;
    counts per window reflect exactly the points inside [start, start+size)."""
    stream, feed = point_stream
    NS = 1_000_000_000
    agg = live_downsample(stream, 60 * NS, slide_ns=30 * NS,
                          watermark_delay="0 seconds")
    q = (agg.writeStream.queryName("t_hop").outputMode("update")
         .format("memory").start())
    try:
        # points at 120s and 135s: windows 60-120? no — [90,150) and [120,180)
        feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a", 120 * NS, 1, 2.0),
              ("cpu.usage", {"host": "a"}, "cpu.usage|host=a", 135 * NS, 2, 3.0)])
        q.processAllAvailable()
        rows = spark.sql("select * from t_hop").collect()
    finally:
        q.stop()
    got = {r["window_start"]: (r["count_*"], r["sum_value"]) for r in rows}
    assert got[90 * NS] == (2, 5.0)    # [90,150) holds both
    assert got[120 * NS] == (2, 5.0)   # [120,180) holds both
    # the 60s-aligned window [60,120) holds neither point
    assert got.get(60 * NS) is None


@pytest.mark.nightly
def test_live_downsample_subsecond_windows(spark, point_stream):
    """Sub-second hopping windows keep exact boundaries (regression:
    intervals were floored to whole seconds with a 1s minimum, silently
    shifting 500ms windows); non-µs-representable intervals raise."""
    import pytest as _pytest

    stream, feed = point_stream
    NS = 1_000_000_000
    agg = live_downsample(stream, NS // 2, slide_ns=NS // 4,
                          watermark_delay="0 seconds")
    q = (agg.writeStream.queryName("t_hop_sub").outputMode("update")
         .format("memory").start())
    try:
        # 1.30s lands in [1.00,1.50) and [1.25,1.75); a 1s-floored window
        # would have produced a single [1,2) bucket instead
        feed([("cpu.usage", {"host": "a"}, "cpu.usage|host=a",
               NS + 300_000_000, 1, 2.0)])
        q.processAllAvailable()
        rows = spark.sql("select * from t_hop_sub").collect()
    finally:
        q.stop()
    # the fixture pre-seeds a point at ts≈0; check the 1.30s point's windows
    got = {r["window_start"]: r["count_*"] for r in rows
           if r["window_start"] >= NS}
    assert got == {NS: 1, NS + 250_000_000: 1}
    with _pytest.raises(ValueError, match="microsecond"):
        live_downsample(stream, 1500, slide_ns=500)  # 1.5µs size: not whole µs


@pytest.mark.nightly
def test_live_heavy_hitters_state_accumulates(spark, tmp_path):
    """Sharded MG state: counts accumulate ACROSS micro-batches (exact
    while shard vocab fits capacity), every occurrence of a token lands in
    one shard, and the candidate set stays bounded by nshards x capacity."""
    from nexusbase_spark.streaming.heavyhitters import live_heavy_hitters

    src = tmp_path / "hh_src"
    src.mkdir()
    schema = "token string"

    def feed(tokens):
        spark.createDataFrame([(t,) for t in tokens], schema) \
            .coalesce(1).write.mode("append").parquet(str(src))

    def latest():
        # update-mode memory sink appends re-emissions; latest = max cnt
        rows = spark.sql(
            "SELECT token, max(cnt) AS cnt FROM live_hh GROUP BY token").collect()
        return {r["token"]: r["cnt"] for r in rows}

    def await_counts(expected, deadline_s=90):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            got = latest()
            if all(got.get(k) == v for k, v in expected.items()):
                return got
            time.sleep(0.5)
        return latest()

    feed(["hot"] * 5 + ["warm"] * 2 + ["cold"])
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = live_heavy_hitters(stream, nshards=2, capacity=64)
    q = (out.writeStream.format("memory").queryName("live_hh")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        got = await_counts({"hot": 5, "warm": 2, "cold": 1})
        assert got["hot"] == 5 and got["warm"] == 2 and got["cold"] == 1

        feed(["hot"] * 3 + ["cold"] * 4)          # batch 2 extends state
        q.processAllAvailable()
        got = await_counts({"hot": 8, "cold": 5})
        assert got["hot"] == 8 and got["cold"] == 5 and got["warm"] == 2
    finally:
        q.stop()


def test_live_heavy_hitters_bounded_state(spark, tmp_path):
    """With capacity 2 per shard the emitted candidate set never exceeds
    nshards x capacity however many distinct tokens stream through."""
    from nexusbase_spark.streaming.heavyhitters import live_heavy_hitters

    src = tmp_path / "hhb_src"
    src.mkdir()
    spark.createDataFrame([(f"t{i}",) for i in range(50)] + [("hot",)] * 40,
                          "token string") \
        .coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("token string").parquet(str(src))
    out = live_heavy_hitters(stream, nshards=2, capacity=2)
    q = (out.writeStream.format("memory").queryName("live_hh_bounded")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "hhb_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT shard, token, cnt FROM live_hh_bounded").collect()
        per_emit: dict[tuple, int] = {}
        for r in rows:
            per_emit[(r["shard"], r["token"])] = r["cnt"]
        assert len(per_emit) <= 2 * 2 + 2  # ≤ shards x capacity (+slack for re-emits)
        # the heavy token survives eviction pressure (count 40 > n/capacity)
        hot = [c for (s, t), c in per_emit.items() if t == "hot"]
        assert hot and hot[0] >= 40 - (90 // 2)
    finally:
        q.stop()


@pytest.mark.nightly
def test_live_percentile_digest_state(spark, tmp_path):
    """Digest state accumulates across micro-batches: after two batches
    the p50 equals the exact median of ALL values seen (singleton
    regime), per key."""
    from nexusbase_spark.streaming.quantiles import live_percentile

    src = tmp_path / "lq_src"
    src.mkdir()
    schema = "series string, value double"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    def latest():
        rows = spark.sql(
            "SELECT series, n, quantile FROM live_q").collect()
        out = {}
        for r in rows:  # keep the row with the largest n per key
            if r["series"] not in out or r["n"] > out[r["series"]][0]:
                out[r["series"]] = (r["n"], r["quantile"])
        return out

    def await_n(key, n, deadline_s=90):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            got = latest()
            if got.get(key, (0,))[0] == n:
                return got
            time.sleep(0.5)
        return latest()

    feed([("a", float(v)) for v in (1, 2, 3, 4)] + [("b", 10.0)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = live_percentile(stream, "series", 0.5)
    q = (out.writeStream.format("memory").queryName("live_q")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "lq_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        got = await_n("a", 4)
        assert got["a"] == (4, pytest.approx(2.5))   # median of 1..4
        assert got["b"] == (1, pytest.approx(10.0))

        feed([("a", float(v)) for v in (5, 6)])      # now 1..6 -> 3.5
        q.processAllAvailable()
        got = await_n("a", 6)
        assert got["a"] == (6, pytest.approx(3.5))
        assert got["b"] == (1, pytest.approx(10.0))  # untouched key keeps state
    finally:
        q.stop()


def test_import_jsonl_bulk_load(spark, tmp_path):
    """Batch JSONL bulk import: typed fields land queryable, malformed
    lines drop, the count is POINTS (not long rows), and re-import of the
    same file is MVCC-idempotent for reads."""
    from nexusbase_spark.engine import NexusEngine
    from nexusbase_spark.streaming.kafka import encode_point_json

    eng = NexusEngine(spark, str(tmp_path / "wh"))
    ts = 1_900_000_000 * 1_000_000_000
    lines = [
        encode_point_json("j.m", {"h": "a"}, {"v": 1.5, "ok": True}, ts),
        encode_point_json("j.m", {"h": "b"}, {"v": 2.5}, ts + 1),
        "{broken json",
    ]
    src = tmp_path / "dump.jsonl"
    src.write_text("\n".join(lines) + "\n")
    assert eng.import_jsonl(str(src)) == 2

    rows = eng.execute(f"QUERY j.m FROM 0 TO {ts + 10}").collect()
    assert len(rows) == 2
    by_ts = {r["ts"]: r["fields"] for r in rows}
    assert by_ts[ts] == {"v": "1.5", "ok": "true"}
    assert by_ts[ts + 1] == {"v": "2.5"}
    # re-import: same points, higher seqs -> reads unchanged
    assert eng.import_jsonl(str(src)) == 2
    assert eng.execute(f"QUERY j.m FROM 0 TO {ts + 10}").count() == 2


@pytest.mark.nightly
def test_streaming_cusum_matches_batch(spark, tmp_path):
    """The live CUSUM fold across two micro-batches equals the batch
    closed-form operator on the concatenated data when fed the same
    (mu, sigma) baseline: same final statistics, same alarm count."""
    import math

    from nexusbase_spark.operators.timeseries import cusum_changepoints
    from nexusbase_spark.streaming.changepoints import live_cusum

    vals1 = [10.0 + (0.2 if i % 2 else -0.2) for i in range(30)]
    vals2 = [11.2 + (0.2 if i % 2 else -0.2) for i in range(30)]
    allv = vals1 + vals2
    n = len(allv)
    mu = math.floor(sum(allv) / n * 1e6 + 0.5) / 1e6
    m = sum(allv) / n
    sigma = math.floor(math.sqrt(
        sum((v - m) ** 2 for v in allv) / (n - 1)) * 1e6 + 0.5) / 1e6

    # batch reference: alarm rows from the closed-form window operator
    rows = [("s", i, i, v) for i, v in enumerate(allv)]
    bdf = spark.createDataFrame(
        rows, "k string, ts long, seq long, value double")
    batch_alarms = cusum_changepoints(
        bdf, ["k"], slack=0.5, threshold=4.0).count()

    src = tmp_path / "cusum_src"
    src.mkdir()
    schema = "k string, ts long, seq long, value double"

    def feed(vals, off):
        spark.createDataFrame(
            [("s", off + i, off + i, v) for i, v in enumerate(vals)],
            schema).coalesce(1).write.mode("append").parquet(str(src))

    feed(vals1, 0)
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = live_cusum(stream, "k", mu, sigma, slack=0.5, threshold=4.0)
    q = (out.writeStream.format("memory").queryName("live_cusum_t")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "cusum_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        feed(vals2, 30)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM live_cusum_t").collect()
        final = max(rows, key=lambda r: r["n"])
        assert final["n"] == 60
        assert final["alarms"] == batch_alarms

        # python recursion cross-check of the final statistic
        sp = sn = 0.0
        for v in allv:
            sp = max(0.0, sp + (v - mu - 0.5 * sigma))
            sn = max(0.0, sn + (mu - v - 0.5 * sigma))
        assert final["s_pos"] == pytest.approx(sp)
        assert final["s_neg"] == pytest.approx(sn)
    finally:
        q.stop()


@pytest.mark.nightly
def test_streaming_holt_matches_batch(spark, tmp_path):
    """The live Holt fold across two micro-batches equals the batch
    struct-fold operator on the concatenated series: same level, trend,
    and forecast; a single-point key emits NULLs until its second point."""
    from nexusbase_spark.operators.timeseries import holt_linear
    from nexusbase_spark.streaming.smoothing import live_holt

    vals1 = [10.0, 12.0, 11.0, 15.0]
    vals2 = [14.0, 18.0, 17.0]
    allv = vals1 + vals2
    bdf = spark.createDataFrame(
        [("s", i, i, v) for i, v in enumerate(allv)],
        "k string, ts long, seq long, value double")
    bref = holt_linear(bdf, ["k"], 0.4, 0.3, horizon=3).collect()[0]

    src = tmp_path / "holt_src"
    src.mkdir()
    schema = "k string, ts long, seq long, value double"

    def feed(vals, off, key="s"):
        spark.createDataFrame(
            [(key, off + i, off + i, v) for i, v in enumerate(vals)],
            schema).coalesce(1).write.mode("append").parquet(str(src))

    feed(vals1, 0)
    feed([42.0], 0, key="lonely")
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = live_holt(stream, "k", 0.4, 0.3, horizon=3)
    q = (out.writeStream.format("memory").queryName("live_holt_t")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "holt_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        mid = {r["k"]: r for r in
               spark.sql("SELECT * FROM live_holt_t").collect()}
        assert mid["lonely"]["level"] is None and mid["lonely"]["n"] == 1
        feed(vals2, len(vals1))
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("SELECT * FROM live_holt_t WHERE k = 's'").collect()
    last = max(rows, key=lambda r: r["n"])
    assert last["n"] == len(allv)
    assert last["level"] == bref["level"]
    assert last["trend"] == bref["trend"]
    assert last["forecast"] == bref["forecast"]


@pytest.mark.nightly
def test_streaming_panel_matches_batch(spark, tmp_path):
    """The live exact-k panel across two micro-batches equals the batch
    per_group_sample_k over the union — same members, same ranks —
    because both are pure (md5, id) order with no arrival-order state."""
    from nexusbase_spark.pipeline.split import per_group_sample_k
    from nexusbase_spark.streaming.panels import live_panel

    rows1 = [("g1", i) for i in range(20)] + [("g2", i) for i in range(5)]
    rows2 = [("g1", i) for i in range(20, 40)]
    bdf = spark.createDataFrame(rows1 + rows2, "grp string, doc_id long")
    bref = {(r["grp"], str(r["doc_id"]))
            for r in per_group_sample_k(bdf, "grp", 3, "doc_id").collect()}

    src = tmp_path / "panel_src"
    src.mkdir()
    schema = "grp string, doc_id long"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    feed(rows1)
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = live_panel(stream, "grp", 3, "doc_id")
    q = (out.writeStream.format("memory").queryName("live_panel_t")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "panel_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        feed(rows2)
        q.processAllAvailable()
    finally:
        q.stop()

    # memory sink appends per batch; the LAST emission per (group, rank)
    # is the current panel slot
    rows = spark.sql("SELECT * FROM live_panel_t").collect()
    per_group: dict = {}
    for r in rows:
        per_group.setdefault((r["grp"], r["rank"]), []).append(r["doc_id"])
    live = {(g, ids[-1]) for (g, rk), ids in per_group.items()}
    assert live == bref
    # g2 saw no batch-2 rows; its panel is its 5-row top-3
    assert sum(1 for g, _ in live if g == "g2") == 3


@pytest.mark.nightly
def test_streaming_expectations_sink(spark, tmp_path):
    """Each micro-batch appends its contract report; violation counts
    are per batch and the history table accumulates one row per check
    per batch."""
    from nexusbase_spark.pipeline.expectations import expectations_sink

    src = tmp_path / "exp_src"
    src.mkdir()
    rep = str(tmp_path / "exp_report")
    schema = "id long, x double"
    checks = [
        {"name": "id_nn", "kind": "not_null", "column": "id"},
        {"name": "x_pos", "kind": "in_range", "column": "x",
         "arg": (0.0, 100.0)},
    ]

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    feed([(1, 5.0), (2, -3.0)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (stream.writeStream.queryName("t_exp_sink")
         .foreachBatch(expectations_sink(checks, rep))
         .option("checkpointLocation", str(tmp_path / "exp_ckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        feed([(None, 7.0), (4, 8.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    hist = spark.read.parquet(rep).collect()
    assert len(hist) == 4  # 2 checks x 2 batches
    by = {(r["batch_id"], r["check"]): r["violations"] for r in hist}
    batches = sorted({b for b, _ in by})
    assert by[(batches[0], "x_pos")] == 1      # -3.0
    assert by[(batches[0], "id_nn")] == 0
    assert by[(batches[1], "id_nn")] == 1      # the NULL id
    assert by[(batches[1], "x_pos")] == 0


@pytest.mark.nightly
def test_hybrid_rrf_served_from_streaming_stores(spark, tmp_path):
    """The hybrid serving path under continuous ingest (NOTES r4 backlog
    #5): ONE document stream feeds BOTH retrieval stores — CorpusStats
    (BM25 statistics) and VectorIndex (dense) — via their foreachBatch
    sinks; after each micro-batch the RRF fusion of the two served
    shortlists equals the batch recompute (bm25_topk + cosine_topk +
    rrf_fuse) over everything ingested so far. No rebuild anywhere."""
    from nexusbase_spark.pipeline.search import (
        CorpusStats, bm25_topk, bm25_topk_served, rrf_fuse)
    from nexusbase_spark.pipeline.similarity import cosine_topk
    from nexusbase_spark.pipeline.vecindex import VectorIndex
    from nexusbase_spark.streaming.subscribe import stream_ingest

    schema = "doc_id long, text string, embedding array<double>"
    base = [
        (1, "spark shuffles partitions", [1.0, 0.0, 0.0]),
        (2, "parquet row groups", [0.0, 1.0, 0.0]),
        (3, "spark reads parquet", [0.7, 0.7, 0.0]),
        (4, "unrelated prose entirely", [0.0, 0.0, 1.0]),
    ]
    later = [
        (5, "spark parquet spark", [0.9, 0.1, 0.0]),
        (6, "row groups prune scans", [0.1, 0.9, 0.1]),
    ]
    probe = [1.0, 0.2, 0.0]
    terms = ["spark", "parquet"]

    stats = CorpusStats.build(spark, str(tmp_path / "st"),
                              spark.createDataFrame(base, schema))
    idx = VectorIndex.build(spark, str(tmp_path / "vx"),
                            spark.createDataFrame(base, schema),
                            nlist=2, iters=2, id_col="doc_id")
    src = tmp_path / "hybrid_src"
    src.mkdir()

    def served_hybrid(corpus):
        lex = bm25_topk_served(corpus, stats, terms, k=4, id_col="doc_id")
        dense = (idx.search(probe, k=4, nprobe=2)
                 .withColumnRenamed("cosine", "score"))
        return [(r["doc_id"], r["rrf"]) for r in
                rrf_fuse([lex, dense], k=4, id_col="doc_id").collect()]

    def batch_hybrid(corpus):
        lex = bm25_topk(corpus, terms, k=4, id_col="doc_id")
        dense = (cosine_topk(corpus, probe, k=4, id_col="doc_id")
                 .withColumnRenamed("cosine", "score"))
        return [(r["doc_id"], r["rrf"]) for r in
                rrf_fuse([lex, dense], k=4, id_col="doc_id").collect()]

    stream = stream_ingest(spark, str(src), schema)
    stq = (stream.writeStream.queryName("t_hybrid_stats")
           .foreachBatch(stats.for_each_batch())
           .outputMode("append").start())
    vxq = (stream.writeStream.queryName("t_hybrid_vec")
           .foreachBatch(idx.for_each_batch())
           .outputMode("append").start())
    try:
        corpus = spark.createDataFrame(base, schema)
        assert served_hybrid(corpus) == batch_hybrid(corpus)
        (spark.createDataFrame(later, schema).coalesce(1)
         .write.mode("append").parquet(str(src)))
        stq.processAllAvailable()
        vxq.processAllAvailable()
        corpus = spark.createDataFrame(base + later, schema)
        got = served_hybrid(corpus)
        assert got == batch_hybrid(corpus)
        assert 5 in {d for d, _ in got}   # streamed doc is servable
    finally:
        stq.stop()
        vxq.stop()


@pytest.mark.nightly
def test_drift_monitor_streaming_psi_matches_batch(spark, tmp_path):
    """DriftMonitor under ingest: PSI after each micro-batch equals the
    batch recompute (psi_of_counts over histograms of everything
    ingested so far vs the frozen reference); the report table trends
    batch_id/n_seen/psi; a shifted batch raises PSI."""
    from nexusbase_spark.streaming.drift import (
        DriftMonitor, histogram, psi_of_counts)
    from nexusbase_spark.streaming.subscribe import stream_ingest

    schema = "value double"
    ref_rows = [(float(x % 10),) for x in range(100)]
    ref = spark.createDataFrame(ref_rows, schema)
    mon = DriftMonitor.build(spark, str(tmp_path / "dm"), ref,
                             value_col="value", bins=10)
    m = mon._meta()

    src = tmp_path / "drift_src"
    src.mkdir()
    rep = str(tmp_path / "drift_report")
    q = (stream_ingest(spark, str(src), schema).writeStream
         .queryName("t_drift").foreachBatch(mon.for_each_batch(rep))
         .outputMode("append").start())
    seen: list[tuple] = []

    def feed(rows):
        seen.extend(rows)
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(src)))
        q.processAllAvailable()

    def batch_psi():
        cur = spark.createDataFrame(seen, schema)
        got = {int(r["bin"]): int(r["cnt"]) for r in
               histogram(cur, "value", m["lo"], m["width"],
                         m["bins"]).collect()}
        return psi_of_counts(m["ref"],
                             [got.get(i, 0) for i in range(m["bins"])])

    try:
        feed([(float(x % 10),) for x in range(50)])   # same distribution
        stable = mon.psi()
        assert stable == batch_psi() and stable < 0.1
        feed([(25.0,)] * 60)                          # mass out of range
        drifted = mon.psi()
        assert drifted == batch_psi() and drifted > 0.25
    finally:
        q.stop()

    hist = sorted(spark.read.parquet(rep).collect(),
                  key=lambda r: r["batch_id"])
    assert len(hist) == 2
    assert hist[0]["n_seen"] == 50 and hist[1]["n_seen"] == 110
    assert hist[1]["psi"] == drifted


def test_live_session_paths_matches_batch(spark, tmp_path):
    """live_session_paths emits each CLOSED session's ordered type path
    (capped at max_len) with the same close semantics as
    live_sessionize; the closed sessions' paths equal the batch
    session_paths computation over the same in-order data."""
    from nexusbase_spark.operators.sessionize import session_paths
    from nexusbase_spark.streaming.sessions import live_session_paths

    src = tmp_path / "paths_src"
    src.mkdir()
    schema = "user string, ts long, seq long, metric string"

    def feed(rows):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(src)))

    def sink_rows():
        return {(r["user"], r["session_start"], r["session_end"],
                 r["n_events"], r["path"])
                for r in spark.sql("SELECT * FROM live_paths").collect()}

    def await_rows(expected, deadline_s=90):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            if sink_rows() == expected:
                return sink_rows()
            time.sleep(0.5)
        return sink_rows()

    gap = 100
    # u1: view,click then a gap-split buy (closes session 1 of 2 events);
    # the cap: session 2 of u2 has 4 events, max_len=3 keeps 3 steps
    feed([("u1", 0, 0, "view"), ("u1", 50, 1, "click"),
          ("u1", 200, 2, "buy"),
          ("u2", 0, 10, "a"), ("u2", 10, 11, "b"), ("u2", 20, 12, "c"),
          ("u2", 30, 13, "d"), ("u2", 400, 14, "e")])
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = live_session_paths(stream, "user", gap_ns=gap, max_len=3,
                             timeout_ms=3_600_000)
    q = (out.writeStream.format("memory").queryName("live_paths")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "paths_ckpt"))
         .start())
    try:
        want = {("u1", 0, 50, 2, "view>click"),
                ("u2", 0, 30, 4, "a>b>c")}
        assert await_rows(want) == want
    finally:
        q.stop()

    # batch parity on the closed sessions' paths
    batch = spark.createDataFrame(
        [("u1", 0, 0, "view"), ("u1", 50, 1, "click"),
         ("u2", 0, 10, "a"), ("u2", 10, 11, "b"), ("u2", 20, 12, "c"),
         ("u2", 30, 13, "d")], schema)
    got = {(r["path"], r["n_sessions"]) for r in
           session_paths(batch, ["user"], gap_ns=gap, type_col="metric",
                         max_len=3).collect()}
    assert got == {("view>click", 1), ("a>b>c", 1)}


def test_drift_monitor_restart_safety(spark, tmp_path):
    """A DriftMonitor re-opened on the same path (process restart) sees
    the full ingested state: estimates continue from the store, not
    from scratch."""
    from nexusbase_spark.streaming.drift import DriftMonitor

    ref = spark.createDataFrame([(float(x % 10),) for x in range(100)],
                                "value double")
    path = str(tmp_path / "dm")
    mon = DriftMonitor.build(spark, path, ref, value_col="value", bins=10)
    mon.update(spark.createDataFrame([(25.0,)] * 40, "value double"))
    before = mon.psi()

    reopened = DriftMonitor(spark, path)   # fresh object, same store
    assert reopened.psi() == before
    reopened.update(spark.createDataFrame([(25.0,)] * 40, "value double"))
    assert reopened.psi() > before
    assert sum(reopened.current_counts()) == 80


@pytest.mark.nightly
def test_expectations_by_group_trend_detects_deteriorating_source(
        spark, tmp_path):
    """Per-source ingest-gate trending (NOTES r5 backlog): the grouped
    expectations sink appends one (source, check) row per batch; the
    trend reader's OLS slope flags the source whose violation rate is
    RISING across batches (0 -> 0.5 -> 1.0) while the healthy source
    stays at slope 0. Each appended report row must equal the batch
    recompute (sink parity)."""
    from nexusbase_spark.pipeline.expectations import (
        check_expectations_by_group,
        expectations_by_group_sink,
        expectations_trend,
    )

    src = tmp_path / "grp_exp_src"
    src.mkdir()
    rep = str(tmp_path / "grp_exp_report")
    schema = "id long, source string, x double"
    checks = [{"name": "x_pos", "kind": "in_range", "column": "x",
               "arg": (0.0, 100.0)}]

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    # batch 1: bad 0/4 violations, good 0/4
    feed([(i, "bad", 1.0) for i in range(4)]
         + [(10 + i, "good", 1.0) for i in range(4)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (stream.writeStream.queryName("t_grp_exp")
         .foreachBatch(expectations_by_group_sink(checks, "source", rep))
         .option("checkpointLocation", str(tmp_path / "grp_exp_ckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # batch 2: bad 2/4, good 0/4
        feed([(20 + i, "bad", -1.0 if i < 2 else 1.0) for i in range(4)]
             + [(30 + i, "good", 1.0) for i in range(4)])
        q.processAllAvailable()
        # batch 3: bad 4/4, good 0/4
        feed([(40 + i, "bad", -1.0) for i in range(4)]
             + [(50 + i, "good", 1.0) for i in range(4)])
        q.processAllAvailable()
    finally:
        q.stop()

    hist = spark.read.parquet(rep)
    assert hist.count() == 6  # 2 sources x 1 check x 3 batches
    # sink parity: per-batch rows equal the batch recompute
    batches = sorted(r["batch_id"] for r in
                     hist.select("batch_id").distinct().collect())
    last = spark.read.parquet(str(src)).filter(
        (F.col("id") >= 40))
    want = {(r["source"], r["violations"]) for r in
            check_expectations_by_group(last, "source", checks).collect()}
    got = {(r["source"], r["violations"]) for r in
           hist.filter(F.col("batch_id") == batches[-1]).collect()}
    assert got == want == {("bad", 4), ("good", 0)}

    trend = {r["source"]: r for r in
             expectations_trend(spark, rep, "source").collect()}
    assert trend["bad"]["n_batches"] == 3
    assert trend["bad"]["latest_rate"] == 1.0
    assert abs(trend["bad"]["slope"] - 0.5) < 1e-9
    assert trend["good"]["latest_rate"] == 0.0
    assert abs(trend["good"]["slope"]) < 1e-9


@pytest.mark.nightly
def test_quality_mix_monitor_matches_batch(spark, tmp_path):
    """The streaming quality-mix monitor: two doc micro-batches append
    per-bin doc/token counts; the store-served totals equal the batch
    recompute over everything ingested (additive-integer merge), and
    per-batch rows carry the shift (batch 2 is all low-quality)."""
    from nexusbase_spark.pipeline.text import (
        quality_bin_expr,
        quality_mix_sink,
        quality_mix_totals,
        tokens_col,
    )

    src = tmp_path / "qm_src"
    src.mkdir()
    rep = str(tmp_path / "qm_report")
    schema = "doc_id long, text string"
    good = ("the quick brown fox jumps over the lazy dog and then they "
            "have a long talk about the weather with many common words "
            "to be sure of the mix staying clean and pleasant today")
    bad = "#### #### #### #### #### #### #### #### #### ####"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    feed([(i, good + f" x{i}") for i in range(4)] + [(9, bad)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (stream.writeStream.queryName("t_quality_mix")
         .foreachBatch(quality_mix_sink(rep))
         .option("checkpointLocation", str(tmp_path / "qm_ckpt"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        feed([(20 + i, bad + f" y{i}") for i in range(3)])
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = spark.read.parquet(str(src))
    want = {(r["bin"], r["n_docs"], r["n_tokens"]) for r in
            corpus.select(quality_bin_expr(F.col("text")).alias("bin"),
                          F.size(tokens_col(F.col("text")))
                          .alias("n_tok"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("n_tokens"))
            .collect()}
    got = {(r["bin"], r["n_docs"], r["n_tokens"]) for r in
           quality_mix_totals(spark, rep).collect()}
    assert got == want
    # the shift is visible per batch: batch 2 contributed only low bins
    hist = spark.read.parquet(rep)
    batches = sorted(r["batch_id"] for r in
                     hist.select("batch_id").distinct().collect())
    b2 = hist.filter(F.col("batch_id") == batches[-1]).collect()
    assert sum(r["n_docs"] for r in b2) == 3
    assert all(r["bin"] <= 4 for r in b2)


@pytest.mark.nightly
def test_streaming_soak_all_stores_one_stream(spark, tmp_path):
    """Cross-store soak (VERDICT r5 #5): ONE continuous document stream
    drives the TSDB rollup and every pipeline store — DedupIndex,
    ExactDupIndex, VectorIndex, InvertedIndex, CorpusStats, CMSStore,
    quality-mix monitor — through a SINGLE foreachBatch fan-out sharing
    one checkpoint, with interleaved verify() calls and a mid-stream
    restart. The stores are individually parity-tested; what this
    proves is the absence of cross-store interference and checkpoint
    collisions when they all hang off one query."""
    from nexusbase_spark.engine import NexusEngine
    from nexusbase_spark.functions.fidelity import AggSpec
    from nexusbase_spark.operators.sketches import CMSStore, cms_build
    from nexusbase_spark.pipeline.dedup_index import DedupIndex
    from nexusbase_spark.pipeline.invindex import InvertedIndex
    from nexusbase_spark.pipeline.ppjoin_index import ExactDupIndex
    from nexusbase_spark.pipeline.search import CorpusStats
    from nexusbase_spark.pipeline.text import (quality_mix_sink,
                                               quality_mix_totals,
                                               tokens_col)
    from nexusbase_spark.pipeline.vecindex import VectorIndex

    DAY = 86_400 * 1_000_000_000
    D0 = 1_700_006_400 * 1_000_000_000
    schema = "doc_id long, text string, embedding array<double>"

    def mk(i):
        # unique vocabulary per doc (so the ingest-dedup store drops
        # nothing) plus a shared tail (so df/BM25 stats are non-trivial)
        words = " ".join(f"w{i:03d}x{j}" for j in range(6))
        emb = [1.0 if i % 3 == 0 else 0.1,
               1.0 if i % 3 == 1 else 0.2,
               1.0 if i % 3 == 2 else 0.3]
        return (i, f"{words} shared common tokens", emb)

    seed = [mk(i) for i in range(8)]
    phase1 = [mk(i) for i in range(10, 16)]
    phase2 = [mk(i) for i in range(20, 26)]
    seed_df = spark.createDataFrame(seed, schema)

    stats = CorpusStats.build(spark, str(tmp_path / "stats"), seed_df)
    vx = VectorIndex.build(spark, str(tmp_path / "vx"), seed_df,
                           nlist=2, iters=2, id_col="doc_id")
    inv = InvertedIndex.build(spark, str(tmp_path / "inv"), seed_df,
                              n_buckets=8)
    ddx = DedupIndex.build(spark, str(tmp_path / "ddx"), seed_df)
    xdx = ExactDupIndex.build(spark, str(tmp_path / "xdx"), seed_df,
                              min_threshold=0.5)
    cms = CMSStore.build(spark, str(tmp_path / "cms"), col="tok",
                         depth=4, width=512)
    qmix = str(tmp_path / "qmix")

    eng = NexusEngine(spark, str(tmp_path / "wh"))
    eng.put_batch([("doc.len", {"src": "soak"}, {"v": 1.0}, D0)])
    eng.create_rollup("r", "doc.len", DAY,
                      [AggSpec("count", "*"),
                       AggSpec("sum", "v")])

    from pyspark.sql import functions as F
    sinks = [stats.for_each_batch(), vx.for_each_batch(),
             inv.for_each_batch(), ddx.for_each_batch(threshold=0.3),
             xdx.for_each_batch(), quality_mix_sink(qmix)]

    def fan_out(batch, bid):
        if not batch.head(1):
            return
        batch = batch.localCheckpoint(eager=True)  # 8 consumers, 1 scan
        for s in sinks:
            s(batch, bid)
        cms.update(batch.select(
            F.explode(F.array_distinct(tokens_col(F.col("text"))))
            .alias("tok")))
        pts = batch.select(
            F.lit("doc.len").alias("metric"),
            F.create_map(F.lit("src"), F.lit("soak")).alias("tags"),
            (F.lit(D0) + F.col("doc_id") * F.lit(DAY // 4)).alias("ts"),
            F.lit("v").alias("field"), F.lit("float").alias("vtype"),
            F.length("text").cast("double").alias("f_double"),
            F.lit(None).cast("long").alias("f_long"),
            F.lit(None).cast("string").alias("f_string"),
            F.lit(None).cast("boolean").alias("f_bool"))
        eng.ingest_frame(pts)
        eng.refresh_rollup("r")

    src = tmp_path / "soak_src"
    src.mkdir()

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    def start():
        return (spark.readStream.schema(schema).parquet(str(src))
                .writeStream.queryName("t_soak").foreachBatch(fan_out)
                .option("checkpointLocation", str(tmp_path / "soak_ckpt"))
                .outputMode("append").start())

    def corpus_df(rows):
        return spark.createDataFrame(rows, schema)

    def verify_all(rows):
        corpus = corpus_df(rows)
        assert stats.verify(corpus)["ok"]
        assert vx.verify(corpus)["ok"]
        assert inv.verify(corpus)["ok"]
        assert ddx.verify(corpus)["ok"]
        assert xdx.verify(corpus)["ok"]
        assert eng.verify_rollup("r")["ok"]

    q = start()
    try:
        feed(phase1)
        q.processAllAvailable()
        verify_all(seed + phase1)           # interleaved mid-stream audit
    finally:
        q.stop()

    q = start()                              # restart on the same ckpt
    try:
        feed(phase2)
        q.processAllAvailable()
        verify_all(seed + phase1 + phase2)   # clean after restart
    finally:
        q.stop()

    # CMS: incremental per-batch folds must equal the batch-built sketch
    # of everything STREAMED (exact-merge property, cross-store edition)
    streamed = corpus_df(phase1 + phase2)
    tok = streamed.select(
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok"))
    want_cms = {r["item"]: int(r["estimate"]) for r in __import__(
        "nexusbase_spark.operators.sketches", fromlist=["cms_estimate"]
    ).cms_estimate(cms_build(tok, "tok", 4, 512),
                   ["shared", "common", "w010x0"], 4, 512).collect()}
    assert cms.estimate(["shared", "common", "w010x0"]) == want_cms
    assert want_cms["shared"] >= 12      # every streamed doc has it

    # quality-mix totals cover exactly the streamed docs
    totals = quality_mix_totals(spark, qmix).collect()
    assert sum(r["n_docs"] for r in totals) == 12

    # the TSDB side saw one point per doc (+1 engine seed); points()
    # is long-format (one row per field plus a presence marker), so
    # count distinct point keys
    assert (eng.points("doc.len").select("ts", "seq").distinct().count()
            == 13)
