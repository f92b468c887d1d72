"""The reused base scan: ``NexusEngine._base`` lists points/, l0/ and the
tombstone dirs once per write generation and hands the frames out until
the file set changes. Every mutation must invalidate it — a stale base
either misses new rows or plans files a flush/compact/restore deleted —
and reads must run no parquet schema-inference job."""

from __future__ import annotations

from pyspark.sql import functions as F

from nexusbase_spark.engine import NexusEngine
from nexusbase_spark.server import execute_to_json

T0 = 1_700_006_400 * 1_000_000_000  # UTC midnight
SEC = 1_000_000_000
M = "base.m"
RAW = f"QUERY {M} FROM {T0} TO {T0 + 10 ** 6 * SEC}"


def _pt(series: str, i: int, v: float):
    return (M, {"s": series}, {"v": v}, T0 + i * SEC)


def _answer(eng) -> set:
    """(series_key, ts, v) of every visible point, read like a client."""
    body = execute_to_json(eng, RAW)
    return {(r["series_key"], r["ts"], r["fields"]["v"]) for r in body["results"]}


def _expect(model: dict) -> set:
    return {(f"{M}|s={s}", T0 + i * SEC, str(v)) for (s, i), v in model.items()}


def _builds(eng) -> int:
    return eng.metrics()["base_scan"]["builds"]


def test_base_scan_rebuilds_once_per_mutation(spark, tmp_path):
    """Plan a read (the base is built), then each mutation alone, then
    read again: the answer is the new state (no missing-file failure, no
    missed rows) and the base was built exactly once more. Two reads on
    an unchanged warehouse build once."""
    eng = NexusEngine(spark, str(tmp_path / "wh"), l0_trigger=3)
    model = {("a", i): float(i) for i in range(4)}
    model.update({("b", i): 10.0 + i for i in range(4)})
    eng.put_batch([_pt(s, i, v) for (s, i), v in model.items()])
    eng.flush_l0()

    assert _answer(eng) == _expect(model)
    built = _builds(eng)
    reuses = eng.metrics()["base_scan"]["reuses"]
    assert _answer(eng) == _expect(model)
    assert _builds(eng) == built
    assert eng.metrics()["base_scan"]["reuses"] > reuses

    snap = eng.snapshot()
    snap_model = dict(model)

    def put(series, i, v):
        def run():
            eng.put_batch([_pt(series, i, v)])
            model[(series, i)] = v
        return run

    def delete_point():
        eng.delete_point(M, {"s": "a"}, T0 + 1 * SEC)
        del model[("a", 1)]

    def delete_range():
        eng.delete_range(M, {"s": "b"}, T0 + 2 * SEC, T0 + 3 * SEC)
        del model[("b", 2)], model[("b", 3)]

    def delete_series():
        eng.delete_series(M, {"s": "c"})
        for k in [k for k in model if k[0] == "c"]:
            del model[k]

    def ingest():
        frame = spark.createDataFrame(
            [(M, {"s": "d"}, T0 + 7 * SEC, "v", "float", 7.5)],
            "metric string, tags map<string,string>, ts long, field string, "
            "vtype string, f_double double").withColumns({
                "f_long": F.lit(None).cast("long"),
                "f_string": F.lit(None).cast("string"),
                "f_bool": F.lit(None).cast("boolean")})
        eng.ingest_frame(frame)
        model[("d", 7)] = 7.5

    def restore():
        eng.restore(snap, overwrite=True)
        model.clear()
        model.update(snap_model)

    steps = [
        ("put_batch below the L0 trigger", put("c", 5, 5.5)),
        ("put_batch below the L0 trigger", put("a", 0, 0.5)),
        ("put_batch at the L0 trigger", put("c", 6, 6.5)),
        ("put_batch into an empty L0", put("a", 8, 8.5)),
        ("FLUSH", lambda: eng.execute("FLUSH ALL")),
        ("delete_point", delete_point),
        ("delete_range", delete_range),
        ("delete_series", delete_series),
        ("ingest_frame", ingest),
        ("put_batch before compact", put("e", 9, 9.5)),
        ("compact", eng.compact),
        ("restore", restore),
    ]
    for name, mutate in steps:
        built = _builds(eng)
        mutate()
        assert _answer(eng) == _expect(model), name
        assert _builds(eng) == built + 1, name
        assert _answer(eng) == _expect(model), name
        assert _builds(eng) == built + 1, name
    assert eng.metrics()["l0_pending_batches"] == 0


def test_tagged_range_query_runs_no_schema_inference_job(spark, tmp_path):
    """Every engine-owned dir is read with its declared schema, so no read
    launches a "parquet at ..." schema-inference job: not the first query
    after open (cold), and not a repeated one (warm, base reused)."""
    path = str(tmp_path / "wh")
    eng = NexusEngine(spark, path, l0_trigger=10)
    eng.put_batch([_pt(str(i % 3), i, float(i)) for i in range(12)])
    eng.flush_l0()
    eng.put_batch([_pt("1", 20, 1.5)])             # l0/
    eng.delete_point(M, {"s": "2"}, T0 + 2 * SEC)  # tomb_point/
    eng = NexusEngine(spark, path, l0_trigger=10)   # reopen: cold base
    q = f'QUERY {M} TAGGED (s="1") FROM {T0} TO {T0 + 100 * SEC}'
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def stage_names(group):
        sc.setJobGroup(group, "base-scan job guard")
        try:
            body = execute_to_json(eng, q)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(body["results"]) == 5
        jobs = tracker.getJobIdsForGroup(group)
        assert jobs
        return [tracker.getStageInfo(s).name for j in jobs
                for s in tracker.getJobInfo(j).stageIds]

    for group in ("base-scan-cold", "base-scan-warm"):
        names = stage_names(group)
        assert not [n for n in names if n.startswith("parquet at")], names
    assert eng.metrics()["base_scan"]["builds"] == 1
