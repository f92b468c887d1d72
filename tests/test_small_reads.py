"""Small reads run in one partition: when the files of the (metric, day)
dirs a read prunes to fit one scan split by Spark's own sizing,
``NexusEngine.points`` coalesces the slice to one partition before the
MVCC window, so a tagged read plans with no exchange and runs one Spark
job. Larger reads keep the distributed plan. Both plans must give the
same rows on every MVCC and tombstone case, and the per-(metric, day)
sizes must find dirs whose names Spark escaped."""

from __future__ import annotations

import contextlib

import pytest

from nexusbase_spark.engine import NexusEngine, _Base

T0 = 1_700_006_400 * 1_000_000_000  # UTC midnight
SEC = 1_000_000_000
DAY = 86_400 * SEC
# '.', ':' (Spark writes it as %3A) and a unicode letter (written as is)
METRICS = ["cpu.load", "disk:io", "témp"]
END = T0 + 10 * DAY


@contextlib.contextmanager
def _split_bytes(spark, value: str):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _statements(metric: str) -> list[str]:
    m = f'"{metric}"'
    return [
        f'QUERY {m} FROM {T0} TO {END} TAGGED (host="a")',
        f'QUERY {m} FROM {T0} TO {END} TAGGED (host="b") DESC LIMIT 3',
        f'QUERY {m} FROM {T0} TO {END} AGGREGATE BY 1d (count(*), sum(v))',
        f'QUERY {m} FROM {T0} TO {END} AGGREGATE (count(*), max(v))',
        f'QUERY {m} FROM {T0} TO {END} TAGGED (host="a") '
        'AGGREGATE BY 1d (count(*)) EMIT EMPTY WINDOWS',
        f'QUERY {m} FROM RELATIVE(2d) TAGGED (host=~"[ab]")',
        f'SHOW STATS FROM {m}',
    ]


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """points/ and l0/ rows for three metrics over 6 days; a tagged read
    of one series is checked for its job count before the tombstones are
    written, then every kind of tombstone and re-push is added."""
    path = str(tmp_path_factory.mktemp("small_reads") / "wh")
    eng = NexusEngine(spark, path, l0_trigger=100)
    eng.put_batch([(m, {"host": h}, {"v": float(d * 10 + i)}, T0 + d * DAY + i * SEC)
                   for m in METRICS for h in "abc" for d in range(6)
                   for i in range(3)])
    eng.flush_l0()  # -> points/
    # l0/: new points and re-pushes of flushed ones (MVCC: the later wins)
    eng.put_batch([(m, {"host": h}, {"v": 100.0 + d}, T0 + d * DAY + SEC)
                   for m in METRICS for h in "ab" for d in (1, 4)])
    eng.put_batch([(m, {"host": "a"}, {"v": -1.0}, T0 + 7 * DAY)
                   for m in METRICS])
    return path, eng


def test_selective_tagged_read_runs_one_job(spark, warehouse):
    """Before any tombstone exists (each kind adds a broadcast job), a
    tagged range read is one job of one task, with no exchange."""
    _path, eng = warehouse
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stmt = f'QUERY "disk:io" FROM {T0} TO {T0 + 3 * DAY} TAGGED (host="a")'
    assert "Exchange" not in _plan(eng.execute(stmt))
    group = "small-read-one-job"
    sc.setJobGroup(group, "small read job count")
    try:
        rows = eng.execute(stmt).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 10  # days 0-2 x 3 points, and the one at T0 + 3d
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    stages = tracker.getJobInfo(jobs[0]).stageIds
    assert [tracker.getStageInfo(s).numTasks for s in stages] == [1]


def test_one_partition_and_distributed_paths_agree(spark, warehouse):
    """With every tombstone kind and re-pushes over the top, each
    statement shape gives the same rows on the one-partition path (the
    default split size) and on the distributed one (a 1 KiB split size
    read by a fresh engine), and each metric — escaped dir name or not —
    takes the path its size calls for."""
    path, eng = warehouse
    for m in METRICS:
        eng.delete_point(m, {"host": "a"}, T0 + 2 * DAY + SEC)
        eng.delete_range(m, {"host": "b"}, T0 + 3 * DAY, T0 + 4 * DAY)
        eng.delete_series(m, {"host": "c"})
    # resurrect: a re-push after each delete is visible again
    eng.put_batch([(m, {"host": "c"}, {"v": 42.0}, T0 + 5 * DAY + SEC)
                   for m in METRICS])
    eng.put_batch([(m, {"host": "a"}, {"v": 43.0}, T0 + 2 * DAY + SEC)
                   for m in METRICS])
    local = {s: eng.execute(s).collect() for m in METRICS for s in _statements(m)}
    for m in METRICS:
        plan = _plan(eng.execute(_statements(m)[0]))
        assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, m
    with _split_bytes(spark, "1024"):
        dist = NexusEngine(spark, path, l0_trigger=100)
        for m in METRICS:
            plan = _plan(dist.execute(_statements(m)[0]))
            assert "Exchange hashpartitioning" in plan, m
            assert "Exchange rangepartitioning" in plan, m
        spread = {s: dist.execute(s).collect() for s in local}
    for s, rows in local.items():
        assert rows, s
        assert spread[s] == rows, s
    # the raw read's answer, from first principles
    a = local[_statements("témp")[0]]
    got = {(r["ts"], r["fields"]["v"]) for r in a}
    want = {(T0 + d * DAY + i * SEC, str(float(d * 10 + i)))
            for d in range(6) for i in range(3)}
    want -= {(T0 + d * DAY + SEC, str(float(d * 10 + 1))) for d in (1, 4)}
    want |= {(T0 + d * DAY + SEC, str(100.0 + d)) for d in (1, 4)}
    want.remove((T0 + 2 * DAY + SEC, "21.0"))
    want |= {(T0 + 2 * DAY + SEC, "43.0"), (T0 + 7 * DAY, "-1.0")}
    assert got == want


def test_split_gate_follows_spark_split_sizing():
    """The gate's arithmetic at Spark's defaults (128 MB splits, 4 MB open
    cost): a week of small day files fits one split; more data than the
    open cost, or more files than one split holds once each is charged the
    open cost, keeps the distributed plan; only the read's metric and days
    count."""
    MB = 1 << 20

    def fits(days: dict[int, tuple[int, int]], metric="m", start=None,
             end=None, split=128 * MB, open_cost=4 * MB) -> bool:
        base = _Base(None, {}, {"m": days, "other": {0: (64 * MB, 1)}},
                     split, open_cost)
        return NexusEngine._fits_one_split(base, metric, start, end)

    week = {d * DAY: (40_000, 1) for d in range(7)}
    assert fits(week)
    assert not fits(week, metric=None)            # 'other' is 64 MB
    assert not fits(week, split=1024)             # the test's small split
    assert not fits({0: (5 * MB, 1)})             # above the open cost
    assert not fits({d * DAY: (5 * MB, 1) for d in range(4)})  # 20 MB
    assert fits({0: (4 * MB, 1)}, open_cost=4 * MB)
    assert not fits({0: (1 * MB, 32)})            # 1 MB + 32 x 4 MB > 128 MB
    assert fits({0: (1 * MB, 31)})
    big = {**week, 20 * DAY: (100 * MB, 9)}
    assert not fits(big)
    assert fits(big, start=0, end=7 * DAY - 1)    # the big day is pruned
    assert fits(big, start=2 * DAY + 5, end=3 * DAY)
