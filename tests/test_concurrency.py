"""Engine thread-safety under the threaded servers' access pattern.

The NBQL TCP server is a ThreadingTCPServer and the HTTP server is
threaded too, so PUSH / QUERY / FLUSH arrive on concurrent threads of one
engine. The reference serializes its write path behind the WAL/memtable
mutex and pins SSTables for iterator lifetimes (levels manager refcounts,
engine2/adapter.go); the Spark engine mirrors both: ``_serialized``
(writer RLock) on every mutator and ``read_guard`` / ``_ScanLock``
shared-vs-destructive coordination around flush/compact/restore.

These tests drive REAL races (threads hammering one engine) — before the
locks, seq duplication and L0 rmtree-vs-append losses reproduced here.
"""

from __future__ import annotations

import itertools
import sys
import threading

import pytest

from nexusbase_spark.engine import NexusEngine, _ScanLock


@pytest.fixture()
def engine(spark, tmp_path_factory):
    return NexusEngine(spark, str(tmp_path_factory.mktemp("conc_wh")),
                       l0_trigger=3)


def _run_threads(n, target):
    errs: list[BaseException] = []

    def wrap(i):
        try:
            target(i)
        except BaseException as e:  # noqa: BLE001 - surface in the test
            errs.append(e)

    ts = [threading.Thread(target=wrap, args=(i,)) for i in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return errs


@pytest.mark.nightly
def test_concurrent_puts_assign_unique_seqs_and_lose_nothing(engine):
    """8 writer threads x 6 put_batch each, l0_trigger=3 so L0 flushes
    fire concurrently with other threads' appends. Every seq must be
    unique (duplicate seqs break MVCC last-write-wins ties) and every
    point must survive (the pre-lock race lost L0 batches when one
    thread's flush rmtree'd the dir an in-flight append was landing in)."""
    n_threads, per = 8, 6
    seqs: list[int] = []
    mu = threading.Lock()

    def work(i):
        got = []
        for j in range(per):
            s = engine.put_batch([
                ("conc.m", {"t": str(i)}, {"v": float(j)},
                 1_700_000_000_000_000_000 + (i * per + j) * 1_000_000_000)])
            got.append(s)
        with mu:
            seqs.extend(got)

    errs = _run_threads(n_threads, work)
    assert not errs, errs
    assert len(seqs) == len(set(seqs)) == n_threads * per
    engine.flush_l0()
    out = engine.execute("QUERY conc.m AGGREGATE (count(v))").collect()
    assert out[0]["count_v"] == n_threads * per


@pytest.mark.nightly
def test_queries_during_flushes_never_see_torn_state(engine):
    """One thread floods put_batch (forcing repeated L0 flushes), another
    loops FLUSH ALL, while two reader threads drain count(*) queries via
    the server surface (execute + read_guard materialization). Before
    the scan lock, readers hit FileNotFound (flush rmtree'd planned L0
    files) or double-counted the in-flight merge. Every observed count
    must be sane: monotonically nondecreasing and never above the total
    written so far."""
    from nexusbase_spark.server import execute_to_json

    total = 30
    stop = threading.Event()
    written = [0]

    def writer(_i):
        # stop MUST be set even if a put raises: the flusher and readers
        # poll it, so a crashed writer otherwise leaves them spinning
        # forever and the test hangs instead of failing (this is how the
        # POINTS_SCHEMA in-place mutation bug presented — a hung suite,
        # not a red one)
        try:
            for j in range(total):
                # pre-increment: written counts STARTED puts, so it is a
                # true upper bound on what any query can see (a
                # post-increment raced the reader — the point was visible
                # for the microseconds between put_batch returning and
                # the counter moving, and the bound check false-failed)
                written[0] = j + 1
                engine.put_batch([
                    ("flood.m", {"k": "w"}, {"v": float(j)},
                     1_700_000_000_000_000_000 + j * 1_000_000_000)])
        finally:
            stop.set()

    def flusher(_i):
        while not stop.is_set():
            engine.flush_l0()

    seen: list[int] = []
    fails: list[str] = []

    def reader(_i):
        last = 0
        while True:  # always ≥1 query, incl. one after writers stop
            done = stop.is_set()
            body = execute_to_json(engine, "QUERY flood.m AGGREGATE (count(*))")
            rows = body["results"]
            c = rows[0]["count_*"] if rows else 0
            c = int(c or 0)
            hi = written[0]  # read AFTER the query: an upper bound
            if c < last:
                fails.append(f"count went backwards: {last} -> {c}")
            if c > hi:
                fails.append(f"count overshot writes: {c} > {hi}")
            last = c
            seen.append(c)
            if done:
                break

    errs = _run_threads(4, lambda i: [writer, flusher, reader, reader][i](i))
    assert not errs, errs
    assert not fails, fails
    engine.flush_l0()
    final = execute_to_json(engine, "QUERY flood.m AGGREGATE (count(*))")
    assert int(final["results"][0]["count_*"]) == total
    assert seen, "readers never completed a query"


@pytest.mark.nightly
def test_reused_base_scan_vs_flush_and_compact_soak(engine):
    """Three readers reuse the engine's base scan between writes while one
    thread puts batches and another alternates FLUSH and compact, so the
    base is invalidated under the readers over and over. A reader that
    planned a stale base would fail on a file the flush or compact
    deleted, or miss a batch: every query must succeed with a count that
    never goes backwards or above what was written."""
    from nexusbase_spark.server import execute_to_json

    total = 16
    stop = threading.Event()
    written = [0]

    def writer(_i):
        try:
            for j in range(total):
                written[0] = j + 1  # started puts: an upper bound
                engine.put_batch([
                    ("soak.m", {"k": str(j % 3)}, {"v": float(j)},
                     1_700_000_000_000_000_000 + j * 1_000_000_000)])
        finally:
            stop.set()

    def rewriter(_i):
        rewrites = itertools.cycle([engine.flush_l0, engine.compact])
        while not stop.is_set():
            next(rewrites)()

    fails: list[str] = []

    def reader(_i):
        last = 0
        while True:
            done = stop.is_set()
            body = execute_to_json(engine, "QUERY soak.m AGGREGATE (count(*))")
            rows = body["results"]
            c = int(rows[0]["count_*"] or 0) if rows else 0
            if c < last:
                fails.append(f"count went backwards: {last} -> {c}")
            if c > written[0]:
                fails.append(f"count overshot writes: {c} > {written[0]}")
            last = c
            if done:
                break

    # frequent interpreter switches interleave the threads inside _base
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        errs = _run_threads(
            5, lambda i: [writer, rewriter, reader, reader, reader][i](i))
    finally:
        sys.setswitchinterval(interval)
    assert not errs, errs
    assert not fails, fails
    final = execute_to_json(engine, "QUERY soak.m AGGREGATE (count(*))")
    assert int(final["results"][0]["count_*"]) == total
    scan = engine.metrics()["base_scan"]
    assert scan["builds"] > 1 and scan["reuses"] > 0


@pytest.mark.nightly
def test_concurrent_deletes_and_puts_keep_seq_order(engine):
    """Tombstone writers and point writers interleave; seqs must stay
    unique across BOTH paths (a tombstone sharing a seq with a later
    point would tombstone it — the resurrect contract depends on strict
    ordering)."""
    seqs: list[int] = []
    mu = threading.Lock()

    def put_worker(i):
        got = [engine.put_batch([
            ("mix.m", {"t": str(i)}, {"v": 1.0},
             1_700_000_000_000_000_000 + j)]) for j in range(5)]
        with mu:
            seqs.extend(got)

    def del_worker(i):
        got = [engine.delete_point("mix.m", {"t": str(i)},
                                   1_700_000_000_000_000_000 + j)
               for j in range(5)]
        with mu:
            seqs.extend(got)

    errs = _run_threads(
        6, lambda i: (put_worker if i % 2 == 0 else del_worker)(i))
    assert not errs, errs
    assert len(seqs) == len(set(seqs)) == 30


def test_scan_lock_excludes_destructive_while_readers_drain():
    """Pure-lock semantics: readers overlap each other; a writer waits
    for all readers and blocks new readers while waiting (writer
    preference); writers are exclusive."""
    lock = _ScanLock()
    events: list[str] = []
    r1_in = threading.Event()
    w_started = threading.Event()

    def reader():
        with lock.read():
            events.append("r_in")
            r1_in.set()
            w_started.wait(timeout=5)
            # give the writer a beat to actually block on the cond
            import time
            time.sleep(0.1)
            events.append("r_out")

    def writer():
        r1_in.wait(timeout=5)
        w_started.set()
        with lock.write():
            events.append("w_in")

    t1 = threading.Thread(target=reader)
    t2 = threading.Thread(target=writer)
    t1.start(); t2.start()
    t1.join(timeout=10); t2.join(timeout=10)
    assert events == ["r_in", "r_out", "w_in"]


def test_scan_lock_interrupted_writer_wait_does_not_leak_counter():
    """ADVICE r6: if a writer's cond.wait raises (KeyboardInterrupt shape),
    _writers_waiting must be rolled back — a leaked count is a phantom
    writer that blocks every future read() forever."""
    lock = _ScanLock()

    class _Boom(BaseException):  # KeyboardInterrupt is a BaseException
        pass

    orig_wait = lock._cond.wait

    def raising_wait(*a, **k):
        raise _Boom()

    with lock.read():
        lock._cond.wait = raising_wait
        try:
            with pytest.raises(_Boom):
                with lock.write():
                    pass
        finally:
            lock._cond.wait = orig_wait
    assert lock._writers_waiting == 0
    # no phantom writer: a fresh reader and a fresh writer both proceed
    with lock.read():
        pass
    with lock.write():
        pass


@pytest.mark.nightly
def test_concurrent_tcp_clients_end_to_end(spark, tmp_path_factory):
    """The real deployment shape: N socket clients pushing and querying
    ONE threaded TCP server concurrently (each connection = one server
    thread = one engine caller). Every push must land (unique seqs via
    the writer mutex, no committer crashes), every query must complete
    (scan lock vs the L0 flushes the pushes trigger), and the final
    count must equal the total pushed."""
    from nexusbase_spark.tcp_server import NBQLClient, serve_tcp

    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("tcpconc_wh")),
                      l0_trigger=3)
    srv = serve_tcp(eng, port=0)
    host, port = "127.0.0.1", srv.server_address[1]
    n_clients, per = 4, 5
    try:
        def client(i):
            c = NBQLClient(host, port)
            try:
                for j in range(per):
                    ts = 1_700_000_000_000_000_000 + (i * per + j) * 10 ** 9
                    c.push(f'PUSH tcp.conc TAGGED (cl="{i}") '
                           f'SET (v={j}.5) AT {ts}')
                    rows, end = c.query(
                        "QUERY tcp.conc AGGREGATE (count(*))")
                    got = int(rows[0]["count_*"]) if rows else 0
                    assert 0 < got <= n_clients * per
            finally:
                c.close()

        errs = _run_threads(n_clients, client)
        assert not errs, errs
        c = NBQLClient(host, port)
        try:
            rows, _end = c.query("QUERY tcp.conc AGGREGATE (count(*))")
            assert int(rows[0]["count_*"]) == n_clients * per
        finally:
            c.close()
    finally:
        srv.shutdown()


@pytest.mark.nightly
def test_engine_open_and_flush_tolerate_crashed_append_dirs(spark, tmp_path_factory):
    """Crash consistency: a process killed mid-append leaves a directory
    that EXISTS but holds no committed parquet (only the committer's
    staging area). Engine open (_load_max_seq recovery), queries, puts,
    and flush must all treat that as 'no durable rows' rather than fail
    schema inference — the WAL-replay contract is durable-rows-only."""
    import os

    wh = str(tmp_path_factory.mktemp("crash_wh"))
    # simulate the crash artifacts: born-empty l0/ and tomb_point/ with
    # only staging junk inside
    os.makedirs(os.path.join(wh, "l0", "_temporary", "0"))
    os.makedirs(os.path.join(wh, "tomb_point"))
    eng = NexusEngine(spark, wh, l0_trigger=2)
    assert eng._seq == 0  # nothing durable -> recovery found no seqs

    # the engine is fully serviceable after recovery
    s1 = eng.put_batch([("crash.m", {"h": "a"}, {"v": 1.0},
                         1_700_000_000_000_000_000)])
    s2 = eng.put_batch([("crash.m", {"h": "a"}, {"v": 2.0},
                         1_700_000_001_000_000_000)])  # trips l0_trigger=2
    assert (s1, s2) == (0, 1)
    eng.flush_l0()  # idempotent after the triggered flush
    rows = eng.execute("QUERY crash.m AGGREGATE (count(v), sum(v))").collect()
    assert rows[0]["count_v"] == 2 and rows[0]["sum_v"] == 3.0

    # reopen over the now-real warehouse: recovery resumes past max seq
    eng2 = NexusEngine(spark, wh)
    assert eng2._seq == 2


@pytest.mark.nightly
def test_empty_warehouse_query_does_not_mutate_points_schema(
        spark, tmp_path_factory):
    """Regression: StructType.add mutates in place, so the empty-
    warehouse branch of engine.points() used to permanently append a
    series_key field to the module-global POINTS_SCHEMA — one query
    against a not-yet-written metric and every later put_batch died
    with FIELD_STRUCT_LENGTH_MISMATCH (10 row elements vs the silently
    grown schema). Readers polling a stop flag the crashed writer never
    set then spun forever: the intermittent test_concurrency hang."""
    from nexusbase_spark.engine import POINTS_SCHEMA
    from nexusbase_spark.server import execute_to_json

    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("schema_wh")),
                      l0_trigger=100)
    n_before = len(POINTS_SCHEMA.fields)
    assert n_before == 10
    for _ in range(2):  # two queries = two historical .add() mutations
        body = execute_to_json(eng, "QUERY no.such.metric AGGREGATE (count(*))")
        assert body["status"] == "OK"
    assert len(POINTS_SCHEMA.fields) == n_before
    assert "series_key" not in [f.name for f in POINTS_SCHEMA.fields]
    # ingest after empty-warehouse queries must still work
    eng.put_batch([("fresh.m", {"k": "v"}, {"x": 1.0},
                    1_700_000_000_000_000_000)])
    body = execute_to_json(eng, "QUERY fresh.m AGGREGATE (count(*))")
    assert body["results"][0]["count_*"] == 1
