"""End-to-end NBQL engine tests, mirroring the reference's e2e suite
(server/e2e_test.go): put/query, tag filtering, downsampling with golden
aggregate values, empty windows, deletes (series/range/point) with
resurrection, metadata, snapshot/restore, pagination."""

from __future__ import annotations

import math

import pytest

from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.nbql.parser import NBQLError, parse, parse_duration, substitute_params
from nexusbase_spark.nbql import ast as A

MIN = 60_000_000_000  # ns


# ----------------------------------------------------------------- parser


def test_parse_push():
    s = parse('PUSH system.logs TAGGED (app="api", dc="us-east-1") '
              'SET (level="info", status=200, success=TRUE, lat=1.5) AT 12345;')
    assert isinstance(s, A.PushStatement)
    assert s.metric == "system.logs"
    assert s.tags == {"app": "api", "dc": "us-east-1"}
    assert s.fields == {"level": "info", "status": 200, "success": True, "lat": 1.5}
    assert s.timestamp == 12345


def test_parse_query_forms():
    q = parse("QUERY cpu.usage FROM 1672531200 TO 1672534800 LIMIT 10;")
    assert (q.metric, q.start, q.end, q.limit) == ("cpu.usage", 1672531200, 1672534800, 10)

    # parameterized form substitutes client-side first (raw '?' never
    # reaches the parser — clients/nbql/python/nbql/client.py:60-79)
    q = parse(substitute_params(
        "QUERY ? FROM ? TO ? TAGGED (region=?) AGGREGATE BY 1m (avg(load1), max(load5));",
        ("system.load", 0, 100, "eu")))
    assert q.metric == "system.load"
    assert q.tags == {"region": "eu"}
    assert q.downsample_interval == MIN
    assert [(a.func, a.field) for a in q.aggregations] == [("avg", "load1"), ("max", "load5")]

    q = parse("QUERY cpu.usage FROM RELATIVE(1m)")
    assert q.relative == MIN

    q = parse('QUERY m AGGREGATE (count(*), p95(lat) AS p95) DESC LIMIT 5 AFTER "abc"')
    assert q.aggregations[0].field == "*"
    assert q.aggregations[1].alias == "p95"
    assert q.sort_desc and q.limit == 5 and q.after_cursor == "abc"


def test_parse_remove_show_admin():
    r = parse('REMOVE SERIES "e2e.remove" TAGGED (host="a");')
    assert (r.kind, r.metric, r.tags) == ("series", "e2e.remove", {"host": "a"})
    r = parse('REMOVE FROM "e2e.remove" TAGGED (host="c") AT 200;')
    assert (r.kind, r.at) == ("point", 200)
    r = parse('REMOVE FROM "e2e.remove" TAGGED (host="d") FROM 200 TO 400;')
    assert (r.kind, r.start, r.end) == ("range", 200, 400)
    assert parse("SHOW METRICS").what == "metrics"
    assert parse("SHOW TAG KEYS FROM m").metric == "m"
    s = parse("SHOW TAG VALUES FROM m WITH KEY = host")
    assert (s.what, s.key) == ("tag_values", "host")
    assert parse("FLUSH MEMTABLE").target == "memtable"
    assert isinstance(parse("SNAPSHOT"), A.SnapshotStatement)
    r = parse("RESTORE FROM '/tmp/snap' WITH OVERWRITE")
    assert r.path == "/tmp/snap" and r.overwrite


def test_parse_duration():
    assert parse_duration("1m") == MIN
    assert parse_duration("1h30m") == 90 * MIN
    assert parse_duration("500ms") == 500_000_000
    with pytest.raises(NBQLError):
        parse_duration("xyz")


def test_parse_errors():
    for bad in ["PUSH m", "QUERY", "BOGUS", "QUERY m EMIT EMPTY WINDOWS",
                "REMOVE m", "FLUSH everything"]:
        with pytest.raises(NBQLError):
            parse(bad)


# ------------------------------------------------------------ engine e2e


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("warehouse")))
    # fixture modeled on server/e2e_test.go:541-643 — 2 one-minute windows
    # of e2e.test.requests{service,method} with latency_ms/status/path
    base = 1_700_000_040 * 1_000_000_000  # NOT minute-aligned (epoch align check)
    rows = []
    for i, lat in enumerate([10.0, 20.0, 30.0]):            # window 0
        rows.append(("e2e.test.requests", {"service": "api", "method": "GET"},
                     {"latency_ms": lat, "status": 200, "path": f"/x{i}"},
                     base + i * 5_000_000_000))
    for i, lat in enumerate([100.0, 200.0]):                # window 1 (next minute)
        rows.append(("e2e.test.requests", {"service": "api", "method": "GET"},
                     {"latency_ms": lat, "status": 500, "path": f"/y{i}"},
                     base + MIN + i * 5_000_000_000))
    # second series, same windows
    rows.append(("e2e.test.requests", {"service": "auth", "method": "POST"},
                 {"latency_ms": 50.0, "status": 200, "path": "/z"}, base + 1))
    eng.put_batch(rows)
    return eng


def test_raw_query_and_tag_filter(engine):
    df = engine.execute(
        'QUERY e2e.test.requests FROM 0 TO 3000000000000000000 TAGGED (service="api")')
    rows = df.collect()
    assert len(rows) == 5
    assert rows[0]["fields"]["latency_ms"] == "10.0"
    assert rows[0]["fields"]["status"] == "200"
    # ascending ts, fields map carries all three typed fields
    ts = [r["ts"] for r in rows]
    assert ts == sorted(ts)
    auth = engine.execute(
        'QUERY e2e.test.requests FROM 0 TO 3000000000000000000 TAGGED (service="auth")')
    assert auth.count() == 1


def test_downsample_golden(engine):
    """Golden window values like server/e2e_test.go:625-643, epoch-aligned
    windows (start - start%interval), per-series grouping."""
    df = engine.execute(
        "QUERY e2e.test.requests FROM 0 TO 3000000000000000000 "
        'TAGGED (service="api") AGGREGATE BY 1m '
        "(count(latency_ms), sum(latency_ms), avg(latency_ms), "
        "min(latency_ms), max(latency_ms), count(*))")
    rows = {r["window_start"]: r for r in df.collect()}
    assert len(rows) == 2
    w0, w1 = sorted(rows)
    assert w0 % MIN == 0 and w1 == w0 + MIN
    r0, r1 = rows[w0], rows[w1]
    assert r0["count_latency_ms"] == 3 and r0["sum_latency_ms"] == 60.0
    assert r0["avg_latency_ms"] == 20.0 and (r0["min_latency_ms"], r0["max_latency_ms"]) == (10.0, 30.0)
    assert r0["count_*"] == 3
    assert r1["count_latency_ms"] == 2 and r1["sum_latency_ms"] == 300.0
    assert r1["avg_latency_ms"] == 150.0
    assert r1["window_end"] == w1 + MIN


def test_final_agg_across_series(engine):
    """Final aggregation collapses ALL matching series to one row keyed by
    the bare metric (engine2/adapter.go:1349-1364)."""
    df = engine.execute(
        "QUERY e2e.test.requests FROM 0 TO 3000000000000000000 "
        "AGGREGATE (count(*), sum(latency_ms), first(latency_ms), last(latency_ms), "
        "frac(latency_ms), count(path), count(status))")
    row = df.collect()[0]
    assert row["metric"] == "e2e.test.requests"
    assert row["count_*"] == 6
    assert row["sum_latency_ms"] == 410.0
    # stream order: (ts, series_key) — base+1 (auth) sorts after base (api)
    assert row["first_latency_ms"] == 10.0
    assert row["last_latency_ms"] == 200.0
    assert row["frac_latency_ms"] == pytest.approx(19.0)
    # strings and ints both countable (non-null any-type count)
    assert row["count_path"] == 6 and row["count_status"] == 6


def test_emit_empty_windows(engine):
    base = 1_700_000_040 * 1_000_000_000
    start, end = base - 2 * MIN, base + 2 * MIN
    df = engine.execute(
        f'QUERY e2e.test.requests FROM {start} TO {end} TAGGED (service="auth") '
        "AGGREGATE BY 1m (count(value_missing), sum(latency_ms), avg(latency_ms)) "
        "EMIT EMPTY WINDOWS")
    rows = sorted(df.collect(), key=lambda r: r["window_start"])
    # windows enumerate from align(start) while window_start < end
    assert len(rows) == 4
    empty = rows[0]
    assert empty["count_value_missing"] == 0.0 and empty["sum_latency_ms"] == 0.0
    assert math.isnan(empty["avg_latency_ms"])
    assert rows[2]["sum_latency_ms"] == 50.0


def test_fill_value_gates_on_empty_window_not_nan_data(spark, tmp_path_factory):
    """FILL <const> fills only EMPTY windows (the grid-join absence
    marker). A window whose aggregate is NaN because its DATA was NaN —
    the downsampler deliberately keeps NaN — is NOT overwritten
    (ADVICE r3: the old isnan gate clobbered those too)."""
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("fillv_wh")))
    base = 1_700_000_040 * 1_000_000_000
    eng.put_batch([
        ("m.fillv", {"h": "a"}, {"v": float("nan")}, base),        # NaN-data window
        ("m.fillv", {"h": "a"}, {"v": 5.0}, base + 2 * MIN),       # observed window
    ])
    start = base - (base % MIN)
    df = eng.execute(
        f"QUERY m.fillv FROM {start} TO {start + 3 * MIN} "
        "AGGREGATE BY 1m (avg(v)) EMIT EMPTY WINDOWS FILL -1.0")
    rows = sorted(df.collect(), key=lambda r: r["window_start"])
    assert len(rows) == 3
    assert math.isnan(rows[0]["avg_v"])      # NaN data stays NaN
    assert rows[1]["avg_v"] == -1.0          # genuinely empty -> const
    assert rows[2]["avg_v"] == 5.0


def test_emit_empty_series_grid_is_range_independent(engine):
    """Series resolve through the tag index (range-INDEPENDENT): a series
    whose points all fall OUTSIDE [start, end] still emits its empty
    windows (multi_field_downsampling_iterator.go:305-333 runs per
    resolved series, and series resolution never sees the time range)."""
    base = 1_700_000_040 * 1_000_000_000
    # all of e2e.test.requests' points live around `base`; query a window
    # strictly after them
    start, end = base + 10 * MIN, base + 12 * MIN
    df = engine.execute(
        f'QUERY e2e.test.requests FROM {start} TO {end} TAGGED (service="auth") '
        "AGGREGATE BY 1m (count(*), sum(latency_ms)) EMIT EMPTY WINDOWS")
    rows = sorted(df.collect(), key=lambda r: r["window_start"])
    assert len(rows) == 2  # the auth series emits 2 empty windows
    assert all(r["count_*"] == 0.0 and r["sum_latency_ms"] == 0.0 for r in rows)


@pytest.mark.nightly
def test_mvcc_whole_point_replacement(engine, spark):
    """A re-push at the same (series, ts) replaces the ENTIRE fields map
    (iterator/iterator.go:270-289 — value = whole encoded fields)."""
    ts = 1_800_000_000 * 1_000_000_000
    engine.put("e2e.mvcc", {"h": "a"}, {"x": 1.0, "y": 2.0}, ts)
    engine.put("e2e.mvcc", {"h": "a"}, {"x": 9.0}, ts)
    rows = engine.execute(f"QUERY e2e.mvcc FROM {ts} TO {ts}").collect()
    assert len(rows) == 1
    assert rows[0]["fields"] == {"x": "9.0"}  # y is GONE, not merged


@pytest.mark.nightly
def test_remove_series_and_resurrect(engine):
    ts0 = 1_810_000_000 * 1_000_000_000
    for i in range(3):
        engine.put("e2e.remove", {"host": "a"}, {"value": float(i)}, ts0 + i)
    engine.execute('REMOVE SERIES "e2e.remove" TAGGED (host="a")')
    assert engine.execute(f"QUERY e2e.remove FROM 0 TO {ts0 + 10}").count() == 0
    # re-push AFTER the tombstone -> higher seq -> visible again
    engine.put("e2e.remove", {"host": "a"}, {"value": 42.0}, ts0 + 1)
    rows = engine.execute(f"QUERY e2e.remove FROM 0 TO {ts0 + 10}").collect()
    assert len(rows) == 1 and rows[0]["fields"]["value"] == "42.0"


@pytest.mark.nightly
def test_remove_point_and_range_inclusive(engine):
    ts0 = 1_820_000_000 * 1_000_000_000
    engine.put_batch([
        ("e2e.remove2", {"host": "c"}, {"value": float(t)}, ts0 + t)
        for t in range(0, 1100, 100)
    ])
    engine.execute(f'REMOVE FROM "e2e.remove2" TAGGED (host="c") AT {ts0 + 200}')
    left = {r["ts"] - ts0 for r in engine.execute(
        f"QUERY e2e.remove2 FROM {ts0} TO {ts0 + 2000}").collect()}
    assert 200 not in left and len(left) == 10
    # range delete inclusive both ends (engine2/adapter.go:2784)
    engine.execute(f'REMOVE FROM "e2e.remove2" TAGGED (host="c") FROM {ts0 + 400} TO {ts0 + 600}')
    left = {r["ts"] - ts0 for r in engine.execute(
        f"QUERY e2e.remove2 FROM {ts0} TO {ts0 + 2000}").collect()}
    assert left == {0, 100, 300, 700, 800, 900, 1000}


def test_show_metadata(engine):
    # self-seeded: e2e.mvcc used to arrive from the (now nightly-tier)
    # MVCC replacement test; a core test must not depend on another
    # test's ingest. Distinct ts/tags so both orders stay equivalent.
    engine.put("e2e.mvcc", {"h": "meta"}, {"x": 1.0},
               1_801_000_000 * 1_000_000_000)
    metrics = [r[0] for r in engine.execute("SHOW METRICS").collect()]
    assert "e2e.test.requests" in metrics and "e2e.mvcc" in metrics
    keys = [r[0] for r in engine.execute("SHOW TAG KEYS FROM e2e.test.requests").collect()]
    assert keys == ["method", "service"]
    vals = [r[0] for r in engine.execute(
        "SHOW TAG VALUES FROM e2e.test.requests WITH KEY = service").collect()]
    assert vals == ["api", "auth"]


def test_limit_and_cursor_pagination(engine, spark):
    from nexusbase_spark.operators.order import encode_cursor
    # self-seeded (the e2e.remove2 producer is nightly-tier now): six
    # points in a ts band far from the remove test's [1.82e18, +2000ns]
    # window so full runs see both sets without interference
    ts1 = 1_830_000_000 * 1_000_000_000
    engine.put_batch([
        ("e2e.remove2", {"host": "p"}, {"value": float(t)}, ts1 + t)
        for t in range(6)
    ])
    df = engine.execute("QUERY e2e.remove2 FROM 0 TO 3000000000000000000 LIMIT 3")
    page1 = df.collect()
    assert len(page1) == 3
    last = page1[-1]
    cur = encode_cursor(last["ts"], last["series_key"], last["seq"])
    page2 = engine.execute(
        f'QUERY e2e.remove2 FROM 0 TO 3000000000000000000 LIMIT 3 AFTER "{cur}"').collect()
    assert len(page2) == 3
    assert {r["ts"] for r in page1}.isdisjoint({r["ts"] for r in page2})


def test_relative_query(engine):
    """FROM RELATIVE(dur): End anchors to max data ts (quirk,
    engine2/adapter.go:1236-1276)."""
    # data must be in the PAST: End = min(max data ts, clock-now)
    ts0 = 1_600_000_000 * 1_000_000_000
    engine.put_batch([
        ("e2e.rel", {}, {"v": 1.0}, ts0),
        ("e2e.rel", {}, {"v": 2.0}, ts0 + 10 * MIN),
    ])
    rows = engine.execute("QUERY e2e.rel FROM RELATIVE(1m)").collect()
    assert len(rows) == 1 and rows[0]["fields"]["v"] == "2.0"


def test_relative_query_without_data_keeps_result_columns(engine):
    """RELATIVE over a metric with no points is planned like any other
    query: an empty answer with the raw result's columns (not the
    engine's long layout), and an aggregate answer with its own."""
    raw = engine.execute("QUERY e2e.rel_none FROM RELATIVE(1m)")
    assert raw.collect() == []
    assert raw.columns == engine.execute("QUERY e2e.rel_none FROM 0 TO 1").columns
    agg = engine.execute(
        "QUERY e2e.rel_none FROM RELATIVE(1m) AGGREGATE (count(v))")
    assert agg.collect() == [] and "count_v" in agg.columns


def test_snapshot_restore(engine):
    snap = engine.execute("SNAPSHOT")
    before = engine.execute("SHOW METRICS").count()
    engine.put("e2e.extra", {}, {"v": 1.0}, 1)
    assert engine.execute("SHOW METRICS").count() == before + 1
    engine.execute(f"RESTORE FROM '{snap}' WITH OVERWRITE")
    assert engine.execute("SHOW METRICS").count() == before
    # SHOW SNAPSHOTS extension: the snapshot-util inventory as a statement
    inv = {r["id"]: r for r in engine.execute("SHOW SNAPSHOTS").collect()}
    import os
    assert os.path.basename(snap) in inv
    row = inv[os.path.basename(snap)]
    assert row["type"] == "full" and row["n_files"] > 0
    assert row["stored_bytes"] == row["total_bytes"]


def test_restore_validates_before_it_deletes(spark, tmp_path_factory):
    """restore() resolves the whole manifest chain and checks the format
    stamp BEFORE it deletes anything: a missing snapshot, a stamp-less
    snapshot, a manifest that loops, leaves the snapshot or is
    malformed, and a chain that lost a data file all raise ValueError
    and leave the warehouse answering as before."""
    import json
    import os
    import shutil

    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("rv_wh")))
    eng.put("rv.m", {}, {"v": 1.0}, 100)
    full = eng.snapshot()
    eng.put("rv.m", {}, {"v": 2.0}, 200)
    inc = eng.snapshot(incremental_from=full)
    files = sorted(eng._state_files())

    def broken(tag, edit):
        d = shutil.copytree(full, str(tmp_path_factory.mktemp("rv") / tag))
        with open(os.path.join(d, "manifest.json")) as f:
            m = json.load(f)
        edit(m, d)
        with open(os.path.join(d, "manifest.json"), "w") as f:
            json.dump(m, f)
        return d

    def no_stamp(m, d):
        del m["files"]["_format"]
        os.unlink(os.path.join(d, "_format"))

    bad = [("/no/such/snapshot", "manifest"),
           (broken("s", no_stamp), "_format"),
           (broken("l", lambda m, d: m.update(parent=d)), "loops"),
           (broken("e", lambda m, d: m["files"].update(
               {"../../outside": {"size": 1, "stored": True}})), "outside"),
           (broken("m", lambda m, d: m["files"].update({"l0/x": 5})),
            "malformed")]
    # the incremental child inherits its first point's file from `full`
    with open(os.path.join(inc, "manifest.json")) as f:
        lost = next(p for p in json.load(f)["files"]
                    if p.startswith("l0") and p.endswith(".parquet")
                    and os.path.isfile(os.path.join(full, p)))
    os.unlink(os.path.join(full, lost))
    bad.append((inc, "missing"))

    for path, why in bad:
        with pytest.raises(ValueError, match=why):
            eng.restore(path, overwrite=True)
        assert sorted(eng._state_files()) == files
        rows = eng.execute("QUERY rv.m FROM 0 TO 1000").collect()
        assert [r["ts"] for r in rows] == [100, 200]


def test_points_wide_typed_export(engine):
    df = engine.points_wide({"latency_ms": "double", "status": "long",
                             "path": "string"})
    df = df.filter(df["metric"] == "e2e.test.requests")
    rows = sorted(df.collect(), key=lambda r: (r["ts"], r["series_key"]))
    assert rows[0]["latency_ms"] == 50.0 or rows[0]["latency_ms"] == 10.0
    types = dict(df.dtypes)
    assert (types["latency_ms"], types["status"], types["path"]) == \
        ("double", "bigint", "string")
    # a field absent from a point is NULL, not an error
    assert all("status" in r.asDict() for r in rows)
    with pytest.raises(ValueError):
        engine.points_wide({"x": "decimal"})


@pytest.mark.nightly
def test_compact_with_retention(spark, tmp_path_factory):
    """compact() folds tombstones in and drops rows older than the
    retention cutoff (engine2/compaction_manager.go:734-757)."""
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("compact_wh")))
    eng.put_batch([("m.r", {}, {"v": 1.0}, 100), ("m.r", {}, {"v": 2.0}, 200),
                   ("m.r", {}, {"v": 3.0}, 300)])
    eng.delete_point("m.r", {}, 200)
    eng.compact(retention_cutoff_ns=150)
    rows = eng.execute("QUERY m.r FROM 0 TO 1000").collect()
    assert [r["ts"] for r in rows] == [300]  # 100 aged out, 200 tombstoned
    # tombstones consumed by the rewrite; data still correct afterwards
    import os
    assert not os.path.isdir(eng._tomb["point"])


def test_validation_rejected(engine):
    with pytest.raises(ValueError):
        engine.put("bad metric!", {}, {"v": 1.0}, 1)
    with pytest.raises(ValueError):
        engine.put("ok.metric", {"__reserved": "x"}, {"v": 1.0}, 1)


@pytest.mark.nightly
def test_bulk_ingest_multifield_point(spark, tmp_path_factory):
    """All long rows of one bulk-ingested point share a seq: the MVCC read
    must return BOTH fields, and a later batch's re-push must replace the
    whole point (seqs monotonic across batches)."""
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("bulk_wh")))
    schema = ("metric string, tags map<string,string>, ts long, field string, "
              "vtype string, f_double double, f_long long, f_string string, "
              "f_bool boolean")
    eng.ingest_frame(spark.createDataFrame(
        [("m", {"h": "a"}, 1000, "v", "float", 1.5, None, None, None),
         ("m", {"h": "a"}, 1000, "k", "int", None, 7, None, None)], schema))
    rows = eng.execute("QUERY m FROM 0 TO 10000").collect()
    assert rows[0]["fields"] == {"k": "7", "v": "1.5"}
    # re-push of the same point in a later batch wins wholesale (MVCC)
    eng.ingest_frame(spark.createDataFrame(
        [("m", {"h": "a"}, 1000, "v", "float", 9.9, None, None, None)], schema))
    rows = eng.execute("QUERY m FROM 0 TO 10000").collect()
    assert rows[0]["fields"] == {"v": "9.9"}


@pytest.mark.nightly
def test_count_star_markers_and_format_stamp(spark, tmp_path_factory):
    """count(*) rides per-point marker rows — a plain conditional count,
    no Expand even mixed with other aggs — and compaction keeps them.
    A warehouse holding rows without the exact format stamp is refused
    at open instead of being served."""
    import os

    from nexusbase_spark.engine import FORMAT_STAMP
    wh = str(tmp_path_factory.mktemp("mark_wh"))
    eng = NexusEngine(spark, wh)
    eng.put_batch([("m.c", {"h": "a"}, {"v": 1.0, "k": 7}, 100),
                   ("m.c", {"h": "a"}, {"v": 2.0}, 200),
                   ("m.c", {"h": "b"}, {"v": 4.0}, 200)])
    q = "QUERY m.c FROM 0 TO 1000 AGGREGATE (count(*), sum(v))"
    df = eng.execute(q)
    row = df.collect()[0]
    assert (row["count_*"], row["sum_v"]) == (3, 7.0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    # MVCC: re-push replaces the whole point INCLUDING its marker
    eng.put("m.c", {"h": "a"}, {"v": 9.0}, 100)
    row = eng.execute(q).collect()[0]
    assert (row["count_*"], row["sum_v"]) == (3, 15.0)
    eng.compact()
    row = eng.execute(q).collect()[0]
    assert (row["count_*"], row["sum_v"]) == (3, 15.0)

    # no stamp, or any other stamp, over stored rows: ValueError naming
    # the file; the byte-identical stamp opens again
    os.unlink(eng._format_path)
    with pytest.raises(ValueError, match="_format"):
        NexusEngine(spark, wh)
    with open(eng._format_path, "w") as f:
        f.write("point_markers=0\n")
    with pytest.raises(ValueError, match="_format"):
        NexusEngine(spark, wh)
    with open(eng._format_path, "w") as f:
        f.write(FORMAT_STAMP)
    assert NexusEngine(spark, wh).execute(q).collect()[0]["count_*"] == 3


@pytest.mark.nightly
def test_incremental_snapshot_chain(spark, tmp_path_factory):
    """Incremental snapshots store only new files (manifest chain,
    snapshot/manager.go's full+incremental design); restoring the child
    yields the full state, restoring the parent yields the old state."""
    import json
    import os
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("snap_wh")))
    eng.put("sn.m", {}, {"v": 1.0}, 100)
    eng.flush_l0()
    full = eng.snapshot()
    eng.put("sn.m", {}, {"v": 2.0}, 200)
    eng.flush_l0()
    inc = eng.snapshot(incremental_from=full)
    with open(os.path.join(inc, "manifest.json")) as f:
        m = json.load(f)
    assert m["parent"] == os.path.abspath(full)
    stored = {p for p, e in m["files"].items() if e["stored"]}
    inherited = {p for p, e in m["files"].items() if not e["stored"]}
    assert inherited, "incremental stored everything (no sharing with parent)"
    assert all(not os.path.isfile(os.path.join(inc, p)) for p in inherited)
    assert "_format" in inherited  # the stamp is written once
    # restore child -> both points; restore parent -> only the first
    e2 = NexusEngine(spark, str(tmp_path_factory.mktemp("snap_wh2")))
    e2.restore(inc, overwrite=True)
    assert [r["ts"] for r in e2.execute("QUERY sn.m FROM 0 TO 1000").collect()] == [100, 200]
    # the restored stamp is the parent snapshot's file (copy2 keeps mtime)
    assert (os.stat(e2._format_path).st_mtime_ns
            == os.stat(os.path.join(full, "_format")).st_mtime_ns)
    e2.restore(full, overwrite=True)
    assert [r["ts"] for r in e2.execute("QUERY sn.m FROM 0 TO 1000").collect()] == [100]
    # MVCC seq counter follows the restored state: a new put supersedes
    e2.put("sn.m", {}, {"v": 9.0}, 100)
    rows = e2.execute("QUERY sn.m FROM 0 TO 1000").collect()
    assert [r["fields"]["v"] for r in rows] == ["9.0"]


@pytest.mark.nightly
def test_l0_tier_merge_and_flush(spark, tmp_path_factory):
    """put/put_batch land in l0/ (one file per partition dir); the 4th
    batch triggers the L0->base merge (config.yaml:37 L0 trigger); FLUSH
    merges eagerly; queries see identical data on both sides of the
    merge; snapshot/restore carries a pending L0."""
    import os
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("l0_wh")))
    assert eng.l0_trigger == 4
    for i in range(3):
        eng.put("m.l0", {"h": "a"}, {"v": float(i)}, ts=i)
    assert os.path.isdir(eng._l0_path) and not os.path.isdir(eng._points_path)
    assert eng._l0_batches() == 3
    # each batch contributed exactly ONE parquet file to the partition dir
    part = os.path.join(eng._l0_path, "metric=m.l0", "day=0")
    assert sum(f.endswith(".parquet") for f in os.listdir(part)) == 3
    assert [r["fields"]["v"] for r in eng.execute("QUERY m.l0 FROM 0 TO 9").collect()] \
        == ["0.0", "1.0", "2.0"]
    eng.put("m.l0", {"h": "a"}, {"v": 3.0}, ts=3)  # 4th batch -> merge
    assert not os.path.isdir(eng._l0_path) and eng._l0_batches() == 0
    base = os.path.join(eng._points_path, "metric=m.l0", "day=0")
    assert sum(f.endswith(".parquet") for f in os.listdir(base)) == 1
    rows = eng.execute("QUERY m.l0 FROM 0 TO 9").collect()
    assert [r["fields"]["v"] for r in rows] == ["0.0", "1.0", "2.0", "3.0"]
    # pending L0 survives snapshot/restore; FLUSH merges it
    eng.put("m.l0", {"h": "a"}, {"v": 4.0}, ts=4)
    snap = eng.snapshot()
    eng2 = NexusEngine(spark, str(tmp_path_factory.mktemp("l0_wh2")))
    eng2.restore(snap, overwrite=True)
    assert len(eng2.execute("QUERY m.l0 FROM 0 TO 9").collect()) == 5
    eng2.execute("FLUSH MEMTABLE")
    assert not os.path.isdir(eng2._l0_path)
    assert len(eng2.execute("QUERY m.l0 FROM 0 TO 9").collect()) == 5
    # MVCC across tiers: re-push of ts=0 sits in L0, base holds the old
    # version; the union read must pick the L0 (higher-seq) version
    eng2.put("m.l0", {"h": "a"}, {"v": 99.0}, ts=0)
    rows = eng2.execute("QUERY m.l0 FROM 0 TO 0").collect()
    assert [r["fields"]["v"] for r in rows] == ["99.0"]


@pytest.mark.nightly
def test_day_partitioned_layout_prunes(spark, tmp_path_factory):
    """v2 layout partitions points by (metric, day): time-range queries
    carry a day partition filter (directory pruning), results unchanged
    across day boundaries."""
    from nexusbase_spark.engine import DAY_NS
    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("day_wh")))
    eng.put_batch([("m.d", {}, {"v": 1.0}, 10),
                   ("m.d", {}, {"v": 2.0}, DAY_NS + 10),
                   ("m.d", {}, {"v": 3.0}, 2 * DAY_NS + 10)])
    eng.flush_l0()  # land the batch in the base table before inspecting it
    import os
    sub = os.listdir(os.path.join(eng._points_path, "metric=m.d"))
    days = sorted(int(s[4:]) for s in sub if s.startswith("day="))
    assert days == [0, DAY_NS, 2 * DAY_NS]
    q = eng.execute(f"QUERY m.d FROM {DAY_NS} TO {2 * DAY_NS + 100}")
    assert [r["fields"]["v"] for r in q.collect()] == ["2.0", "3.0"]
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "day" in plan and "PartitionFilters" in plan


def test_parse_slide_extension():
    q = parse("QUERY cpu FROM 0 TO 100 AGGREGATE BY 6h SLIDE 2h (avg(value));")
    assert q.downsample_interval == 6 * 3600 * 10**9
    assert q.downsample_slide == 2 * 3600 * 10**9
    # no SLIDE -> tumbling (field stays None)
    assert parse("QUERY cpu AGGREGATE BY 1h (avg(v));").downsample_slide is None
    with pytest.raises(NBQLError):  # slide must divide size
        parse("QUERY cpu FROM 0 TO 9 AGGREGATE BY 5m SLIDE 2m (avg(v));")


def test_parse_fill_previous_extension():
    q = parse("QUERY cpu FROM 0 TO 100 AGGREGATE BY 1h (avg(value)) "
              "EMIT EMPTY WINDOWS FILL PREVIOUS;")
    assert q.fill_previous and q.emit_empty_windows
    assert not parse("QUERY cpu AGGREGATE BY 1h (avg(v));").fill_previous
    with pytest.raises(NBQLError):  # FILL needs PREVIOUS
        parse("QUERY cpu FROM 0 TO 9 AGGREGATE BY 1h (avg(v)) "
              "EMIT EMPTY WINDOWS FILL;")
    with pytest.raises(NBQLError):  # only meaningful with emitted holes
        parse("QUERY cpu FROM 0 TO 9 AGGREGATE BY 1h (avg(v)) FILL PREVIOUS;")


def test_parse_fill_linear_extension():
    q = parse("QUERY cpu FROM 0 TO 100 AGGREGATE BY 1h (avg(value)) "
              "EMIT EMPTY WINDOWS FILL LINEAR;")
    assert q.fill_linear and q.emit_empty_windows and not q.fill_previous
    with pytest.raises(NBQLError):  # only meaningful with emitted holes
        parse("QUERY cpu FROM 0 TO 9 AGGREGATE BY 1h (avg(v)) FILL LINEAR;")
    with pytest.raises(NBQLError):  # the two fills are mutually exclusive
        parse("QUERY cpu FROM 0 TO 9 AGGREGATE BY 1h (avg(v)) "
              "EMIT EMPTY WINDOWS FILL PREVIOUS FILL LINEAR;")


def test_parse_fill_value_extension():
    q = parse("QUERY cpu FROM 0 TO 100 AGGREGATE BY 1h (avg(value)) "
              "EMIT EMPTY WINDOWS FILL -1.5;")
    assert q.fill_value == -1.5 and not q.fill_previous and not q.fill_linear
    assert parse("QUERY cpu FROM 0 TO 100 AGGREGATE BY 1h (avg(v)) "
                 "EMIT EMPTY WINDOWS FILL 0").fill_value == 0.0
    with pytest.raises(NBQLError):  # constant fill is a fill mode too
        parse("QUERY cpu FROM 0 TO 9 AGGREGATE BY 1h (avg(v)) "
              "EMIT EMPTY WINDOWS FILL 0 FILL PREVIOUS;")
    with pytest.raises(NBQLError):
        parse("QUERY cpu FROM 0 TO 9 AGGREGATE BY 1h (avg(v)) "
              "EMIT EMPTY WINDOWS FILL bogus;")


def test_parse_tag_matchers_extension():
    q = parse('QUERY m TAGGED (dc="us", host=~"web-.*", env!="dev", az!~"^eu")')
    assert q.tags == {"dc": "us"}
    assert q.tag_matchers == [("host", "=~", "web-.*"), ("env", "!=", "dev"),
                              ("az", "!~", "^eu")]
    with pytest.raises(NBQLError):
        parse('QUERY m TAGGED (host ~ "x")')


def test_tag_matchers_engine_semantics(engine):
    """!= and !~ require the tag to EXIST; regex is unanchored search."""
    df = engine.execute(
        'QUERY e2e.test.requests FROM 0 TO 3000000000000000000 '
        'TAGGED (service=~"a", method!="GET")')
    rows = df.collect()
    # service 'api' and 'auth' both contain 'a'; method!=GET keeps POST only
    assert rows and all(r["tags"]["method"] == "POST" for r in rows)
    none = engine.execute(
        'QUERY e2e.test.requests FROM 0 TO 3000000000000000000 '
        'TAGGED (missing!="x")').collect()
    assert none == []                      # absent tag never matches !=


def test_explain_statement(engine):
    """EXPLAIN QUERY returns the physical plan (one row per line), plans
    without executing, and rejects non-readable statements."""
    df = engine.execute(
        "EXPLAIN QUERY e2e.test.requests FROM 0 TO 3000000000000000000 "
        'TAGGED (service="api") AGGREGATE BY 1m (count(*))')
    lines = [r["plan"] for r in df.orderBy("line").collect()]
    text = "\n".join(lines)
    assert lines and "Aggregate" in text and "Exchange" in text
    # the tag filter is pushed into the scan, visible in the plan
    assert "service" in text
    with pytest.raises(Exception):
        engine.execute('EXPLAIN PUSH m SET (value=1.0)')
    # EXPLAIN SHOW also works
    assert engine.execute("EXPLAIN SHOW METRICS").count() > 0


def test_show_stats(engine):
    """SHOW STATS (extension): per-metric MVCC-visible point counts,
    distinct series, and ts span; FROM narrows to one metric."""
    rows = {r["metric"]: r for r in engine.execute("SHOW STATS").collect()}
    r = rows["e2e.test.requests"]
    assert r["points"] == 6 and r["series"] == 2
    assert r["field_rows"] > r["points"]  # long view: one row per field
    assert r["min_ts"] <= r["max_ts"]
    one = engine.execute('SHOW STATS FROM "e2e.test.requests"').collect()
    assert len(one) == 1 and one[0]["points"] == 6


def test_show_field_keys(engine):
    """SHOW FIELD KEYS (extension): distinct field names + vtypes per
    metric; FROM narrows; marker rows never leak."""
    rows = engine.execute('SHOW FIELD KEYS FROM "e2e.test.requests"').collect()
    got = {(r["field"], r["vtype"]) for r in rows}
    assert got == {("latency_ms", "float"), ("status", "int"),
                   ("path", "string")}
    all_rows = engine.execute("SHOW FIELD KEYS").collect()
    assert {r["metric"] for r in all_rows} >= {"e2e.test.requests"}


def test_duplicate_aggregation_specs_collapse(engine):
    """Duplicate aggregation specs collapse to ONE output column (the
    reference keys window results by "<func>_<field>" in a map, so
    `count(latency_ms), count(latency_ms)` has one entry) — previously
    the duplicate out_names made the EMIT EMPTY fill path raise
    AMBIGUOUS_REFERENCE at plan time (found by the execution-level
    grammar fuzz). Distinct aliases keep distinct columns."""
    base = 1_700_000_040 * 1_000_000_000
    q = (f"QUERY e2e.test.requests FROM {base} TO {base + 60_000_000_000} "
         "AGGREGATE BY 1m (count(latency_ms), count(latency_ms), "
         "sum(latency_ms)) EMIT EMPTY WINDOWS;")
    rows = engine.execute(q).collect()
    assert rows
    cols = rows[0].asDict().keys()
    assert list(cols).count("count_latency_ms") == 1
    assert "sum_latency_ms" in cols
    # final aggregation path too
    r = engine.execute(
        f"QUERY e2e.test.requests FROM {base} TO {base + 60_000_000_000} "
        "AGGREGATE (avg(latency_ms), avg(latency_ms));").collect()[0]
    assert list(r.asDict().keys()).count("avg_latency_ms") == 1
    # distinct aliases survive as distinct columns
    r2 = engine.execute(
        f"QUERY e2e.test.requests FROM {base} TO {base + 60_000_000_000} "
        "AGGREGATE (avg(latency_ms) AS a1, avg(latency_ms) AS a2);").collect()[0]
    assert r2["a1"] == r2["a2"]


@pytest.mark.nightly
def test_fractional_percentile_column_name_survives_fill_paths(engine):
    """p99.9(lat) puts a DOT in the <func>_<field> output column
    (p99.9_lat); every by-name re-reference (the EMIT EMPTY zero/NaN
    fill, FILL PREVIOUS/LINEAR/<const>) must resolve it as an exact name,
    not struct navigation (UNRESOLVED_COLUMN `p99`.`9_lat` — found by the
    execution-level grammar fuzz; fixed with fidelity.qcol)."""
    base = 1_700_000_040 * 1_000_000_000
    for fill in ("", "FILL PREVIOUS", "FILL LINEAR", "FILL 7"):
        q = (f"QUERY e2e.test.requests FROM {base} TO "
             f"{base + 180_000_000_000} AGGREGATE BY 1m "
             f"(p99.9(latency_ms), avg(latency_ms)) EMIT EMPTY WINDOWS "
             f"{fill};")
        rows = engine.execute(q).collect()
        assert rows and "p99.9_latency_ms" in rows[0].asDict()
    r = engine.execute(
        f"QUERY e2e.test.requests FROM {base} TO {base + 60_000_000_000} "
        "AGGREGATE (p99.9(latency_ms));").collect()[0]
    # inclusive range catches {10,20,30,50,100}: rank .999*(5-1)=3.996
    # interpolates 50 -> 100 at .996
    assert abs(r["p99.9_latency_ms"] - 99.8) < 1e-9


@pytest.mark.nightly
def test_malformed_after_cursor_raises_nbql_error(engine):
    """A client-supplied AFTER cursor that is bad base64 / bad UTF-8 /
    bad JSON / the wrong shape rejects as NBQLError (the servers' clean
    protocol error), never a raw binascii/JSONDecode/UnicodeDecode leak
    (found by cursor fuzzing; fixed in operators/order.decode_cursor).
    A valid round-tripped cursor still paginates."""
    from nexusbase_spark.operators.order import encode_cursor

    base = 1_700_000_040 * 1_000_000_000
    q = (f"QUERY e2e.test.requests FROM {base} TO "
         f"{base + 120_000_000_000} LIMIT 5 AFTER ")
    for bad in ("garbage", "AAAA", "====", "a+/=b",
                encode_cursor(1, "x", 2)[:-2] + "!!"):
        with pytest.raises(NBQLError):
            engine.execute(q + f'"{bad}";').collect()
    ok = encode_cursor(base, "e2e.test.requests|method=GET,service=api", 0)
    rows = engine.execute(q + f'"{ok}";').collect()
    assert all(r["ts"] >= base for r in rows)


@pytest.mark.nightly
def test_push_numeric_literal_edges(engine):
    """PUSH literal typing at the edges (found by PUSH edge probing):
    int64 bounds store; one past either bound rejects as NBQLError at
    parse (strconv.ParseInt errors out of range — previously the
    unbounded Python int crashed put with a raw PySpark
    VALUE_OUT_OF_BOUNDS); exponent-form numbers (2e5, 1e400) are FLOATS
    (the ParseInt-then-ParseFloat scan), overflowing to +Inf rather than
    silently storing the string '1e400'; non-numeric barewords remain
    strings."""
    base = 1_710_000_000 * 1_000_000_000
    engine.execute(f"PUSH edge.lit SET (v=9223372036854775807) AT {base};")
    engine.execute(f"PUSH edge.lit SET (v=-9223372036854775808) AT {base + 1};")
    for bad in ("9223372036854775808", "-9223372036854775809"):
        with pytest.raises(NBQLError):
            engine.execute(f"PUSH edge.lit SET (v={bad}) AT {base + 2};")
    engine.execute(f"PUSH edge.lit SET (f=2e5, big=1e400, word=hello) AT {base + 3};")
    rows = {r["ts"]: dict(r["fields"]) for r in engine.execute(
        f"QUERY edge.lit FROM {base} TO {base + 10};").collect()}
    assert rows[base]["v"] == "9223372036854775807"
    assert rows[base + 1]["v"] == "-9223372036854775808"
    assert rows[base + 3]["f"] == "200000.0"
    assert rows[base + 3]["big"] == "Infinity"
    assert rows[base + 3]["word"] == "hello"


def test_invalid_tag_matcher_regex_rejects_at_plan_time(engine):
    """An invalid =~ / !~ pattern must reject as NBQLError when the plan
    is built — rlike compiles the pattern inside codegen, so a bad
    client pattern otherwise aborts the whole Spark JOB with a raw
    PatternSyntaxException from an executor task (found by matcher
    fuzzing). Validation runs against java.util.regex itself: Python's
    re accepts 'a{,' which Java rejects. Valid patterns still match."""
    q = "QUERY e2e.test.requests FROM 0 TO 3000000000000000000 TAGGED "
    for pat in ("[", "(", "a(b", "*x", "a{,"):
        with pytest.raises(NBQLError, match="invalid tag matcher regex"):
            engine.execute(q + f'(service=~"{pat}")').collect()
        with pytest.raises(NBQLError, match="invalid tag matcher regex"):
            engine.execute(q + f'(service!~"{pat}")').collect()
    assert engine.execute(q + '(service=~"a(pi|uth)")').count() == 6
    assert engine.execute(q + '(service!~"^au")').count() == 5
