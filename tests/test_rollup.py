"""Continuous aggregates (materialized rollups with delta-invalidate
refresh) — the hypertable-rollup shape the reference computes at query
time (every AGGREGATE BY re-reads the base; engine2/adapter.go:1365+).
The rollup must always equal a fresh downsample of the full base table,
no matter what mix of appends/late data/deletes happened since."""
import math

import pytest
from pyspark.sql import functions as F

from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.nbql.ast import AggregationSpec

DAY = 86_400 * 1_000_000_000
D0 = 1_700_006_400 * 1_000_000_000  # UTC midnight
SPECS = [AggregationSpec("count", "*"), AggregationSpec("sum", "v"),
         AggregationSpec("avg", "v")]


@pytest.fixture()
def eng(spark, tmp_path):
    e = NexusEngine(spark, str(tmp_path / "wh"))
    e.put_batch([("m", {"h": "a"}, {"v": float(i + 1)}, D0 + i * DAY // 4)
                 for i in range(8)])          # days 0,1 for series a
    e.put_batch([("m", {"h": "b"}, {"v": 100.0}, D0)])
    return e


def _direct(e):
    rows = e._rollup_compute("m", DAY, SPECS).collect()
    return {(r["series_key"], r["window_start"]):
            (r["count_*"], r["sum_v"], r["avg_v"]) for r in rows}


def _materialized(e):
    rows = e.rollup("r").collect()
    return {(r["series_key"], r["window_start"]):
            (r["count_*"], r["sum_v"], r["avg_v"]) for r in rows}


def test_rollup_create_matches_direct(eng):
    eng.create_rollup("r", "m", DAY, SPECS)
    assert _materialized(eng) == _direct(eng)


@pytest.mark.nightly
def test_rollup_refresh_appends_and_late_data(eng):
    eng.create_rollup("r", "m", DAY, SPECS)
    # new day AND late data into an existing day
    eng.put_batch([("m", {"h": "a"}, {"v": 50.0}, D0 + 5 * DAY),
                   ("m", {"h": "a"}, {"v": 7.0}, D0 + DAY // 3)])
    dirty = eng.refresh_rollup("r")
    assert dirty == 2                          # day 0 (late) + day 5 (new)
    assert _materialized(eng) == _direct(eng)
    # idempotent: nothing new -> no recompute
    assert eng.refresh_rollup("r") == 0


@pytest.mark.nightly
def test_rollup_refresh_applies_deletes(eng):
    eng.create_rollup("r", "m", DAY, SPECS)
    eng.delete_range("m", {"h": "a"}, D0 + DAY, D0 + 2 * DAY - 1)  # day 1
    dirty = eng.refresh_rollup("r")
    assert dirty >= 1
    assert _materialized(eng) == _direct(eng)
    # series delete wipes b entirely; its (single-day) partition must go
    eng.delete_series("m", {"h": "b"})
    eng.refresh_rollup("r")
    got = _materialized(eng)
    assert got == _direct(eng)
    assert not any(k[0].startswith("m|h=b") for k in got)


@pytest.mark.nightly
def test_rollup_emptied_completely_still_readable(eng):
    """A refresh that deletes EVERY remaining day partition must leave the
    rollup queryable (regression: parquet schema inference has nothing to
    read; rollup() now short-circuits to an empty frame from meta)."""
    eng.create_rollup("r", "m", DAY, SPECS)
    eng.delete_series("m", {"h": "a"})
    eng.delete_series("m", {"h": "b"})
    eng.refresh_rollup("r")
    assert eng.rollup("r").collect() == []
    assert set(eng.rollup("r").columns) >= {"series_key", "window_start",
                                            "count_*", "sum_v", "avg_v"}
    # the emptied rollup keeps working: refresh again, then repopulate
    assert eng.refresh_rollup("r") == 0
    eng.put_batch([("m", {"h": "c"}, {"v": 5.0}, D0)])
    assert eng.refresh_rollup("r") == 1
    assert _materialized(eng) == _direct(eng)


@pytest.mark.nightly
def test_rollup_unrelated_deletes_do_not_dirty(eng):
    """Point/series tombstones on OTHER metrics/series must not mark this
    rollup's days dirty (refresh cost would scale with global delete
    traffic)."""
    eng.put_batch([("other", {"h": "z"}, {"v": 1.0}, D0),
                   ("other", {"h": "z"}, {"v": 2.0}, D0 + 1)])
    eng.create_rollup("r", "m", DAY, SPECS)
    eng.delete_point("other", {"h": "z"}, D0)       # unrelated metric
    eng.delete_series("other", {"h": "z"})
    assert eng.refresh_rollup("r") == 0
    # a point delete on the rollup's own series still dirties its day
    eng.delete_point("m", {"h": "a"}, D0)
    assert eng.refresh_rollup("r") == 1
    assert _materialized(eng) == _direct(eng)


@pytest.mark.nightly
def test_rollup_untouched_days_not_rewritten(eng, tmp_path):
    import os
    eng.create_rollup("r", "m", DAY, SPECS)
    data = str(tmp_path / "wh" / "rollups" / "r" / "data")
    day1 = os.path.join(data, f"wday={D0 + DAY}")
    before = {f: os.path.getmtime(os.path.join(day1, f))
              for f in os.listdir(day1) if f.endswith(".parquet")}
    eng.put_batch([("m", {"h": "a"}, {"v": 1.0}, D0 + 9 * DAY)])
    assert eng.refresh_rollup("r") == 1
    after = {f: os.path.getmtime(os.path.join(day1, f))
             for f in os.listdir(day1) if f.endswith(".parquet")}
    assert before == after                     # day 1's files untouched


@pytest.mark.nightly
def test_rollup_nbql_surface(eng):
    """The rollup lifecycle through the language: CREATE ROLLUP /
    REFRESH ROLLUP / QUERY ROLLUP [FROM..TO]."""
    eng.execute("CREATE ROLLUP r ON m AGGREGATE BY 1d "
                "(count(*), sum(v), avg(v));")
    eng.put_batch([("m", {"h": "a"}, {"v": 3.0}, D0 + 3 * DAY)])
    eng.execute("REFRESH ROLLUP r")
    rows = eng.execute("QUERY ROLLUP r").collect()
    got = {(r["series_key"], r["window_start"]):
           (r["count_*"], r["sum_v"], r["avg_v"]) for r in rows}
    assert got == _direct(eng)
    # window_start range is inclusive and prunes to one day
    day3 = eng.execute(
        f"QUERY ROLLUP r FROM {D0 + 3 * DAY} TO {D0 + 3 * DAY}").collect()
    assert {r["window_start"] for r in day3} == {D0 + 3 * DAY}


def test_rollup_nbql_parse_errors():
    from nexusbase_spark.nbql.parser import NBQLError, parse
    import pytest as _pytest

    s = parse("CREATE ROLLUP r ON cpu AGGREGATE BY 1h (avg(value));")
    assert (s.name, s.metric, s.interval) == ("r", "cpu", 3_600_000_000_000)
    assert [(a.func, a.field) for a in s.aggregations] == [("avg", "value")]
    assert parse("REFRESH ROLLUP r").name == "r"
    q = parse("QUERY ROLLUP r FROM 5 TO 9")
    assert (q.name, q.start, q.end) == ("r", 5, 9)
    with _pytest.raises(NBQLError):
        parse("CREATE ROLLUP r ON cpu AGGREGATE BY 1h;")
    with _pytest.raises(NBQLError):
        parse("CREATE TABLE t")


def test_show_rollups(eng):
    eng.execute("CREATE ROLLUP r ON m AGGREGATE BY 1d (count(*), avg(v));")
    rows = eng.execute("SHOW ROLLUPS").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["name"], r["metric"], r["interval_ns"]) == ("r", "m", DAY)
    assert "count_*" in r["aggregates"] and "avg_v" in r["aggregates"]
    # an engine with no rollups answers with an empty frame, not an error
    assert eng.execute("SHOW METRICS").count() >= 1


def test_restore_resets_rollups(eng):
    """Rollups are not part of snapshots, so a restore drops each one's
    data and resets its last_seq: SHOW ROLLUPS and QUERY ROLLUP stop
    answering from the replaced state, the transparent rewrite does not
    serve it once new writes bring seq back to the old last_seq, and the
    next refresh recomputes every day from the restored base."""
    eng.create_rollup("r", "m", DAY, SPECS)
    snap = eng.snapshot()
    eng.put_batch([("m", {"h": "a"}, {"v": 50.0}, D0 + 5 * DAY)])
    eng.refresh_rollup("r")
    stale_last = eng.rollups()["r"]["last_seq"]
    eng.restore(snap, overwrite=True)
    assert eng.rollups()["r"]["last_seq"] == -1
    assert eng.execute("SHOW ROLLUPS").collect()[0]["name"] == "r"
    assert eng.execute("QUERY ROLLUP r").collect() == []
    # a write of the restored state reaches the replaced state's last_seq
    eng.put_batch([("m", {"h": "b"}, {"v": 1.0}, D0 + DAY)])
    assert eng._seq - 1 == stale_last
    rows = eng.execute(f"QUERY m FROM {D0} TO {D0 + 8 * DAY - 1} AGGREGATE BY 1d "
                       "(count(*), sum(v), avg(v))").collect()
    assert getattr(eng, "rollup_rewrites", 0) == 0
    assert D0 + 5 * DAY not in {r["window_start"] for r in rows}
    eng.refresh_rollup("r")
    assert _materialized(eng) == _direct(eng)
    assert D0 + 5 * DAY not in {ws for _sk, ws in _materialized(eng)}


def test_rollup_streaming_maintenance(spark, tmp_path):
    """refresh_rollups=True keeps the continuous aggregate current as
    micro-batches land: after each batch the rollup equals a full
    recompute, without anyone calling refresh by hand."""
    src = tmp_path / "src"
    src.mkdir()
    schema = ("metric string, tags map<string,string>, ts long, "
              "field string, vtype string, f_double double, f_long long, "
              "f_string string, f_bool boolean")

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(str(src))

    e = NexusEngine(spark, str(tmp_path / "wh"))
    e.put_batch([("m", {"h": "a"}, {"v": 1.0}, D0)])
    e.create_rollup("r", "m", DAY, SPECS)
    q = e.start_stream_ingest(str(src), str(tmp_path / "ckpt"),
                              refresh_rollups=True)
    try:
        # late data into day 0 AND a brand-new day, in one micro-batch
        feed([("m", {"h": "a"}, D0 + 1, "v", "float", 5.0, None, None, None),
              ("m", {"h": "a"}, D0 + 2 * DAY, "v", "float", 9.0, None, None, None)])
        q.processAllAvailable()
    finally:
        q.stop()
    assert _materialized(e) == _direct(e)
    day0 = [r for r in e.rollup("r").collect() if r["window_start"] == D0
            and r["series_key"] == "m|h=a"]
    assert day0[0]["count_*"] == 2 and day0[0]["sum_v"] == 6.0


@pytest.mark.nightly
def test_rollup_survives_base_retention(eng):
    """The downsampled-retention pattern (keep rollups forever, raw data
    for a window): compacting old raw days away does NOT dirty the rollup
    (no new seq), so the materialized history outlives its base — and a
    later refresh for new data still leaves old windows intact."""
    eng.create_rollup("r", "m", DAY, SPECS)
    before = _materialized(eng)
    assert any(ws == D0 for (_, ws) in before)
    # drop raw day 0; keep day 1+
    eng.compact(retention_cutoff_ns=D0 + DAY)
    assert eng.points("m").filter(f"ts < {D0 + DAY}").count() == 0
    assert _materialized(eng) == before          # rollup kept the history
    # new data refreshes its own day only; day-0 windows stay materialized
    eng.put_batch([("m", {"h": "a"}, {"v": 2.0}, D0 + 7 * DAY)])
    assert eng.refresh_rollup("r") == 1
    after = _materialized(eng)
    assert all(after[k] == before[k] for k in before)


@pytest.mark.nightly
def test_rollup_transparent_rewrite(eng):
    """A plain aligned downsample query is served FROM the rollup when it
    is fresh, matches base recompute exactly, and falls back (never
    stale) the moment an unrefreshed write lands."""
    eng.create_rollup("r", "m", DAY, SPECS)
    a, b = D0, D0 + 4 * DAY - 1                 # aligned, bounded
    nbql = (f"QUERY m FROM {a} TO {b} AGGREGATE BY 1d "
            "(count(*), sum(v), avg(v))")

    def run():
        return {(r["series_key"], r["window_start"]):
                (r["count_*"], r["sum_v"], r["avg_v"])
                for r in eng.execute(nbql).collect()}

    served = run()
    assert getattr(eng, "rollup_rewrites", 0) == 1
    # unaligned range must NOT rewrite (edge windows are partial)
    eng.execute(f"QUERY m FROM {a + 1} TO {b} AGGREGATE BY 1d "
                "(count(*), sum(v), avg(v))").collect()
    assert eng.rollup_rewrites == 1
    # different agg list must not rewrite
    eng.execute(f"QUERY m FROM {a} TO {b} AGGREGATE BY 1d (max(v))").collect()
    assert eng.rollup_rewrites == 1
    # a write makes the rollup stale -> fallback; refresh re-enables
    eng.put_batch([("m", {"h": "a"}, {"v": 4.0}, D0 + DAY + 5)])
    direct_after = run()
    assert eng.rollup_rewrites == 1             # stale: served from base
    eng.refresh_rollup("r")
    served_after = run()
    assert eng.rollup_rewrites == 2
    assert served_after == direct_after
    key = ("m|h=a", D0 + DAY)
    assert served_after[key][0] == served[key][0] + 1


@pytest.mark.nightly
def test_rollup_rewrite_serves_tag_filters(eng):
    """Tag predicates select whole series, so they serve from the rollup
    (row filter on materialized windows) and match base recompute."""
    eng.put_batch([("m", {"h": "bb"}, {"v": 8.0}, D0)])
    eng.create_rollup("r", "m", DAY, SPECS)
    a, b = D0, D0 + 2 * DAY - 1
    nbql = (f'QUERY m FROM {a} TO {b} TAGGED (h="a") '
            "AGGREGATE BY 1d (count(*), sum(v), avg(v))")
    rows = eng.execute(nbql).collect()
    assert getattr(eng, "rollup_rewrites", 0) == 1
    assert rows and all(r["series_key"] == "m|h=a" for r in rows)
    # regex matcher path: unanchored =~"b" matches h=b AND h=bb; the
    # anchored form narrows to bb alone
    m = eng.execute(f'QUERY m FROM {a} TO {b} TAGGED (h=~"b") '
                    "AGGREGATE BY 1d (count(*), sum(v), avg(v))").collect()
    assert eng.rollup_rewrites == 2
    assert {r["series_key"] for r in m} == {"m|h=b", "m|h=bb"}
    mm = eng.execute(f'QUERY m FROM {a} TO {b} TAGGED (h=~"^bb$") '
                     "AGGREGATE BY 1d (count(*), sum(v), avg(v))").collect()
    assert eng.rollup_rewrites == 3
    assert {r["series_key"] for r in mm} == {"m|h=bb"}
    assert mm[0]["sum_v"] == 8.0


@pytest.mark.nightly
def test_verify_rollup_clean_and_tampered(eng, tmp_path):
    """A fresh rollup audits clean; deleting one day partition behind the
    engine's back is caught as that day's mismatch; sampling is
    deterministic and bounded."""
    import os
    import shutil

    eng.create_rollup("r", "m", DAY, SPECS)
    rep = eng.verify_rollup("r")
    assert rep["ok"] and rep["mismatched_days"] == []
    assert rep["days_checked"] == rep["days_total"] == 2

    # sampled audit checks the requested count, deterministically
    rep1 = eng.verify_rollup("r", sample_days=1)
    assert rep1["days_checked"] == 1 and rep1["ok"]
    assert rep1["checked"] == eng.verify_rollup("r", sample_days=1)["checked"]

    # tamper: remove one stored day partition -> recompute disagrees
    gone = rep["checked"][0]
    shutil.rmtree(os.path.join(eng._rollup_dir("r"), "data", f"wday={gone}"))
    rep2 = eng.verify_rollup("r")
    assert not rep2["ok"] and rep2["mismatched_days"] == [gone]


@pytest.mark.nightly
def test_verify_rollup_catches_stale_value(eng):
    """Late data folded into the base WITHOUT a refresh makes the audit
    flag exactly the stale day; after refresh_rollup it's clean again."""
    eng.create_rollup("r", "m", DAY, SPECS)
    eng.put_batch([("m", {"h": "a"}, {"v": 1000.0}, D0 + DAY // 2)])  # day 0
    rep = eng.verify_rollup("r")
    assert not rep["ok"] and rep["mismatched_days"] == [D0]
    eng.refresh_rollup("r")
    assert eng.verify_rollup("r")["ok"]


@pytest.mark.nightly
def test_verify_rollup_nbql_surface(eng):
    eng.create_rollup("r", "m", DAY, SPECS)
    row = eng.execute("VERIFY ROLLUP r SAMPLE 1").collect()[0]
    assert row["ok"] and row["days_checked"] == 1 and row["days_total"] == 2
    assert row["mismatched_days"] == []


@pytest.mark.nightly
def test_rollup_rewrite_coarser_reaggregation(eng):
    """A 2-day aligned query with re-aggregable functions is served from
    the 1-day rollup by re-windowing (rollup_rewrites increments) and
    equals the direct plan; avg disqualifies the coarser path; an
    exact-interval rollup outranks re-aggregation."""
    specs = [AggregationSpec("count", "*"), AggregationSpec("sum", "v"),
             AggregationSpec("min", "v"), AggregationSpec("max", "v")]
    eng.create_rollup("fine", "m", DAY, specs)
    t1, t2 = D0, D0 + 4 * DAY - 1          # 2 aligned 2-day windows
    q = (f"QUERY m FROM {t1} TO {t2} AGGREGATE BY 2d "
         "(count(*), sum(v), min(v), max(v))")
    before = getattr(eng, "rollup_rewrites", 0)
    served = {(r["series_key"], r["window_start"]):
              (r["count_*"], r["sum_v"], r["min_v"], r["max_v"])
              for r in eng.execute(q).collect()}
    assert getattr(eng, "rollup_rewrites", 0) == before + 1
    direct = {(r["series_key"], r["window_start"]):
              (r["count_*"], r["sum_v"], r["min_v"], r["max_v"])
              for r in eng._rollup_compute("m", 2 * DAY, specs)
              .filter((F.col("window_start") >= t1)
                      & (F.col("window_start") <= t2)).collect()}
    assert served == direct and served

    # avg is not re-aggregable -> no rewrite for the coarser interval
    n = getattr(eng, "rollup_rewrites", 0)
    eng.execute(f"QUERY m FROM {t1} TO {t2} AGGREGATE BY 2d (avg(v))")
    assert getattr(eng, "rollup_rewrites", 0) == n

    # an exact 2d rollup now exists -> it wins (still one rewrite, and
    # the direct-interval path needs no re-agg)
    eng.create_rollup("coarse", "m", 2 * DAY, specs)
    n = getattr(eng, "rollup_rewrites", 0)
    again = {(r["series_key"], r["window_start"]):
             (r["count_*"], r["sum_v"], r["min_v"], r["max_v"])
             for r in eng.execute(q).collect()}
    assert getattr(eng, "rollup_rewrites", 0) == n + 1
    assert again == served
