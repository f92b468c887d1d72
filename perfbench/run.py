"""Engine benchmark: NBQL reads over the HTTP façade and put_batch writes
against a freshly built warehouse.

    python3 perfbench/run.py --workload series_read --seed 1 --seconds 15 --trace 0

Run from the repository root. Every input comes from ``--seed``; the run
builds the warehouse from scratch under ``.perfbench_work/`` and removes it
at exit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- end-to-end metrics with
``--trace 0``, per-layer metrics (from a traced run) with ``--trace 1``.
See perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import http.client
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host, oracle, trace, workload as W  # noqa: E402

OPENS = 5                  # timed reopens per run; setup_s is their median
# fewer readers than cores: a CPU-saturated VM turns every change in
# hypervisor steal into latency
READ_CLIENTS = {"series_read": 2, "ingest_mixed": 2}
WARMUP_CLIENTS = 4         # untimed, so as many as there are cores
HTTP_TIMEOUT_S = 60
DEADLINE_S = 165           # a run that hangs is stopped before 180 s


class BenchError(Exception):
    """A wrong answer or a broken run: fails the run, never a metric."""


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _pct(xs: list[float], q: int) -> float:
    """q-th percentile (1..99) by statistics.quantiles' default method."""
    return statistics.quantiles(xs, n=100)[q - 1]


# ------------------------------------------------------------------ setup

def _timed_spark(work: str):
    """(session, seconds to start it) on local[<usable cpus>]."""
    t0 = time.perf_counter()
    spark = _spark(work, len(os.sched_getaffinity(0)))
    return spark, time.perf_counter() - t0


def _spark(work: str, cores: int):
    from nexusbase_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        # the library default (16g) is sized for big hosts; 1g covers the
        # benchmark's data, and a heap the run fills keeps peak RSS steady
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the status tracker keeps every job of the run for the traced
        # per-op job counts; same setting in both modes
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its children to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = [p for p in host.process_tree() if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    host.wait_gone(children, timeout_s=30)


def _write_events(plan: W.Plan, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table(plan.events), path)


def _load_frame(spark, events_parquet: str):
    """Long-format points frame of the events file, as ingest_frame takes it."""
    from pyspark.sql import functions as F
    ev = spark.read.parquet(events_parquet)
    return ev.select(
        F.col("metric"),
        F.create_map(F.lit("user"), F.col("user").cast("string")).alias("tags"),
        F.col("ts"),
        F.lit("value").alias("field"), F.lit("float").alias("vtype"),
        F.col("value").alias("f_double"),
        F.lit(None).cast("long").alias("f_long"),
        F.lit(None).cast("string").alias("f_string"),
        F.lit(None).cast("boolean").alias("f_bool"),
    )


class Warehouse:
    """One warehouse per run, served over HTTP on an ephemeral localhost
    port.

    The events go in with one ``ingest_frame`` on a fresh engine: the cold
    bulk load, timed as ``load_s``. The engine is then closed and the
    warehouse opened -- engine open, with its max-seq recovery scan, plus
    server start -- to serve the warm-up. ``reopen`` repeats that open on
    a warm JVM; those opens are the run's repeated set-up steps, their
    median is ``setup_s``, and the last one serves the measured phase."""

    def __init__(self, spark, path: str, events_parquet: str) -> None:
        from nexusbase_spark.engine import NexusEngine
        self.path = path
        self.spark = spark
        engine = NexusEngine(spark, path)
        t0 = time.perf_counter()
        engine.ingest_frame(_load_frame(spark, events_parquet))
        self.load_s = time.perf_counter() - t0
        engine.close()
        self.open_s: list[float] = []
        self._open()

    def reopen(self) -> None:
        self.open_s = []
        for _ in range(OPENS):
            self.close()
            self._open()

    def _open(self) -> None:
        from nexusbase_spark import server
        from nexusbase_spark.engine import NexusEngine
        t0 = time.perf_counter()
        self.engine = NexusEngine(self.spark, self.path)
        self.http = server.serve(self.engine, port=0)
        self.open_s.append(time.perf_counter() - t0)
        self.port = self.http.server_address[1]

    @property
    def setup_s(self) -> float:
        return statistics.median(self.open_s)

    def close(self) -> None:
        self.http.shutdown()
        self.http.server_close()
        self.engine.close()

    def disk(self) -> tuple[int, int, int]:
        """(parquet files, L0 parquet files, bytes) under the warehouse."""
        files = l0 = size = 0
        l0_root = os.path.join(self.path, "l0")
        for dp, _dirs, names in os.walk(self.path):
            for n in names:
                size += os.path.getsize(os.path.join(dp, n))
                if n.endswith(".parquet"):
                    files += 1
                    l0 += dp.startswith(l0_root)
        return files, l0, size


# ---------------------------------------------------------------- clients

_op_ids = itertools.count(1)


def _post(port: int, text: str) -> tuple[str, int, dict | None, float]:
    """Send one statement; (op id, HTTP status, body, latency ms). Latency
    runs from send to parsed response."""
    op = str(next(_op_ids))
    payload = json.dumps({"query": text})
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HTTP_TIMEOUT_S)
    try:
        t0 = time.perf_counter()
        conn.request("POST", "/query", payload, {
            "Content-Type": "application/json", trace.OP_HEADER: op})
        resp = conn.getresponse()
        body = json.loads(resp.read())
        ms = (time.perf_counter() - t0) * 1e3
        return op, resp.status, body, ms
    finally:
        conn.close()


class Results:
    """Outcomes of measured operations, appended from client threads."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reads: list[tuple] = []      # (op id, latency ms, read, answer)
        self.writes: list[float] = []     # put_batch latency ms
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        with self.lock:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(what)


def _reader(port: int, queue: list, next_i, res: Results, acked=None) -> None:
    """Closed-loop client: takes the next statement, waits for its answer,
    repeats. Perf-series reads first wait for their batch to be acked."""
    while True:
        i = next_i()
        if i >= len(queue):
            return
        r = queue[i]
        if acked is not None and r.after_batch >= 0:
            acked.wait_for(r.after_batch + 1)
        try:
            op, status, body, ms = _post(port, r.text)
        except (OSError, http.client.HTTPException, ValueError) as exc:
            res.fail(f"{r.text}: {type(exc).__name__}: {exc}")
            continue
        if status != 200:
            res.fail(f"{r.text}: HTTP {status}: {body}")
            continue
        with res.lock:
            res.reads.append((op, ms, r, oracle.response_answer(body)))


def _counter():
    lock, it = threading.Lock(), itertools.count()

    def next_i():
        with lock:
            return next(it)
    return next_i


def _run_readers(port: int, reads: list, clients: int, res: Results,
                 acked=None) -> list[threading.Thread]:
    next_i = _counter()
    threads = [threading.Thread(target=_reader, args=(port, reads, next_i, res, acked),
                                name=f"reader-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    return threads


class Acked:
    """Count of acknowledged writer batches, waitable from readers."""

    def __init__(self) -> None:
        self.n = 0
        self.cond = threading.Condition()
        self.done = False

    def bump(self) -> None:
        with self.cond:
            self.n += 1
            self.cond.notify_all()

    def finish(self) -> None:
        with self.cond:
            self.done = True
            self.cond.notify_all()

    def wait_for(self, n: int) -> None:
        with self.cond:
            self.cond.wait_for(lambda: self.n >= n or self.done)


def _writer(engine, batches: list, res: Results, acked: Acked) -> float:
    """put_batch every batch in order; returns the writer's wall seconds."""
    t0 = time.perf_counter()
    try:
        for batch in batches:
            t = time.perf_counter()
            try:
                engine.put_batch(batch)
            except Exception as exc:  # noqa: BLE001 -- count it, keep writing
                res.fail(f"put_batch: {type(exc).__name__}: {exc}")
                continue
            with res.lock:
                res.writes.append((time.perf_counter() - t) * 1e3)
            acked.bump()
    finally:
        acked.finish()
    return time.perf_counter() - t0


def _warm_up(port: int, reads: list) -> None:
    """Untimed reads from as many clients as there are cores. Failures are
    logged, not counted: the warm-up is not part of the measurement."""
    res = Results()
    for t in _run_readers(port, reads, WARMUP_CLIENTS, res):
        t.join()
    if res.failed:
        _log(f"warm-up failures: {res.errors}")
    lat = sorted(ms for _op, ms, _r, _a in res.reads)
    _log(f"warm-up: {len(reads)} reads; read ms {[round(x) for x in lat]}")


def _warm_write(engine, plan: W.Plan) -> None:
    engine.put_batch(plan.warmup_batch)
    engine.flush_l0()


# -------------------------------------------------------------- the run

def _measure(plan: W.Plan, wh: Warehouse) -> dict:
    """The measured phase. cpu_s and steal cover the reads of series_read
    and the whole concurrent phase of ingest_mixed."""
    res, acked = Results(), Acked()
    clients = READ_CLIENTS[plan.workload]
    if plan.workload == "series_read":
        # the batches go in first, timed on their own, so the reads see a
        # warehouse that no longer changes and their CPU count holds no
        # write work
        write_s = _writer(wh.engine, plan.batches, res, acked)
        cpu0, steal0 = host.cpu_seconds(), host.steal_jiffies()
        t0 = time.perf_counter()
        for t in _run_readers(wh.port, plan.reads, clients, res):
            t.join()
        read_s = time.perf_counter() - t0
    else:
        cpu0, steal0 = host.cpu_seconds(), host.steal_jiffies()
        t0 = time.perf_counter()
        holder = {}
        w = threading.Thread(
            target=lambda: holder.update(s=_writer(wh.engine, plan.batches, res, acked)),
            name="writer")
        w.start()
        readers = _run_readers(wh.port, plan.reads, clients, res, acked)
        for t in readers + [w]:
            t.join()
        read_s = time.perf_counter() - t0
        write_s = holder["s"]
    return {"res": res, "read_s": read_s, "write_s": write_s,
            "cpu_s": host.cpu_seconds() - cpu0,
            "steal": host.steal_jiffies() - steal0, "load1": host.load1()}


def _check(plan: W.Plan, res: Results, expected: dict, wh: Warehouse) -> None:
    """Every read answer matches its expected answer, and every
    acknowledged write reads back."""
    for _op, _ms, r, got in res.reads:
        want = expected[r.text]
        if not oracle.same(got, want):
            raise BenchError(f"wrong answer for {r.text!r}: got {got}, want {want}")
    acked = len(res.writes)
    if acked != len(plan.batches):
        raise BenchError(f"{len(plan.batches) - acked} put_batch calls failed: {res.errors}")
    _op, status, body, _ms = _post(wh.port, oracle.readback_statement(acked))
    if status != 200:
        raise BenchError(f"read-back failed: HTTP {status}: {body}")
    got = {row["series_key"]: oracle.answer(row["count_*"], row["sum_value"])
           for row in body["results"]}
    want = oracle.readback_expected(plan.batches)
    missing = [k for k in want if k not in got or not oracle.same(got[k], want[k])]
    if missing or len(got) != len(want):
        raise BenchError(f"read-back mismatch on {len(missing)} series, e.g. "
                         f"{missing[:1]}: got {got.get(missing[0]) if missing else None}")


def _end_to_end(plan, m, wh) -> dict:
    res = m["res"]
    lat = [ms for _op, ms, _r, _a in res.reads]
    _files, _l0, size = wh.disk()
    points = W.EVENTS + W.BATCH_POINTS * (len(res.writes) + 1)
    return {
        "read_qps": (len(lat) / m["read_s"], "1/s"),
        "read_p50_ms": (statistics.median(lat), "ms"),
        "read_p75_ms": (_pct(lat, 75), "ms"),
        "write_pts_per_s": (W.BATCH_POINTS * len(res.writes) / m["write_s"], "1/s"),
        "write_p50_ms": (statistics.median(res.writes), "ms"),
        "cpu_s": (m["cpu_s"], "s"),
        "setup_s": (wh.setup_s, "s"),
        "bulk_load_pts_per_s": (W.EVENTS / wh.load_s, "1/s"),
        "bytes_per_point": (size / points, "B"),
        "peak_rss_mb": (host.peak_rss_mb(), "MB"),
    }


def _per_layer(plan, m, wh, tracer, spark, session_s) -> dict:
    res = m["res"]
    med = trace.median
    by_op = tracer.per_op()
    work = trace.spark_work(spark, [op for op, _ms, _r, _a in res.reads])

    def dur(spans, name):
        return sum(d for d, _s in spans.get(name, ()))

    def self_(spans, *names):
        return sum(s for n in names for _d, s in spans.get(n, ()))

    layers = {k: [] for k in (
        "parse", "plan", "points", "resolve", "exec", "encode", "guard",
        "http", "coverage", "jobs", "tasks", "rows", "spans")}
    for op, ms, _r, ans in res.reads:
        sp = by_op.get(op, {})
        named = {
            "parse": dur(sp, "nbql.parse"),
            "plan": self_(sp, "engine.dispatch", "engine.query", "nbql.plan_query"),
            "points": self_(sp, "engine.points"),
            "resolve": dur(sp, "tagindex.resolve"),
            "exec": dur(sp, "spark.collect"),
            "encode": self_(sp, "server.execute", "server.request"),
            "guard": dur(sp, "engine.read_guard_wait"),
        }
        for k, v in named.items():
            layers[k].append(v)
        layers["http"].append(ms - dur(sp, "server.request"))
        layers["coverage"].append(sum(named.values()) / ms)
        jobs, tasks = work.get(op, (0, 0))
        layers["jobs"].append(jobs)
        layers["tasks"].append(tasks)
        layers["rows"].append(ans[0])
        layers["spans"].append(sum(len(v) for v in sp.values()))
    keys = [v for op, n, v in tracer.counts if n == "tagindex.resolve_keys"]
    cache = wh.engine.metrics()["result_cache"]
    lookups = cache["hits"] + cache["misses"]
    files, l0, size = wh.disk()
    lat = [ms for _op, ms, _r, _a in res.reads]
    span_us = trace.span_cost_us()
    metrics = {
        "nbql.parse_ms": (med(layers["parse"]), "ms"),
        "engine.plan_ms": (med(layers["plan"]), "ms"),
        "engine.points_ms": (med(layers["points"]), "ms"),
        "tagindex.resolve_ms": (med(layers["resolve"]), "ms"),
        "tagindex.resolve_keys": (med(keys), "count"),
        "tagindex.append_ms": (med(tracer.by_name("tagindex.append")), "ms"),
        "spark.exec_ms": (med(layers["exec"]), "ms"),
        "spark.jobs_per_read": (med(layers["jobs"]), "count"),
        "spark.tasks_per_read": (med(layers["tasks"]), "count"),
        "rows_per_read": (med(layers["rows"]), "count"),
        "server.encode_ms": (med(layers["encode"]), "ms"),
        "http.overhead_ms": (med(layers["http"]), "ms"),
        "engine.read_guard_wait_ms": (med(layers["guard"]), "ms"),
        "engine.read_guard_wait_p90_ms": (_pct(layers["guard"], 90), "ms"),
        "engine.put_batch_ms": (med(tracer.by_name("engine.put_batch")), "ms"),
        "engine.flush_l0_ms": (med(tracer.by_name("engine.flush_l0")), "ms"),
        "engine.flush_l0_count": (len(tracer.by_name("engine.flush_l0")), "count"),
        "cache.hit_frac": (cache["hits"] / lookups if lookups else 0.0, "ratio"),
        "stmt_repeat_frac": (plan.stmt_repeat_frac(), "ratio"),
        "warehouse.files": (files, "count"),
        "warehouse.l0_files": (l0, "count"),
        "warehouse.bytes": (size, "B"),
        "setup.session_s": (session_s, "s"),
        "setup.load_s": (wh.load_s, "s"),
        "host.steal_jiffies": (m["steal"], "jiffies"),
        "host.load1": (m["load1"], "load"),
        "trace.read_p50_ms": (statistics.median(lat), "ms"),
        "trace.overhead_ms": (span_us * med(layers["spans"]) / 1e3, "ms"),
        "trace.layer_coverage_frac": (med(layers["coverage"]), "ratio"),
    }
    return metrics


def _work_dir() -> str:
    return os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")


def run(args) -> dict:
    try:
        import nexusbase_spark  # noqa: F401
    except ImportError as exc:
        raise BenchError(f"engine package not importable from {ROOT}: {exc}") from None

    plan = W.make_plan(args.workload, args.seed, args.seconds)
    work = _work_dir()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    events_parquet = os.path.join(work, "events.parquet")
    spark = None
    wh = None
    tracer = None
    try:
        # the JVM starts while the inputs and their answers are prepared
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            starting = pool.submit(_timed_spark, work)
            try:
                _write_events(plan, events_parquet)
                expected = oracle.event_answers(events_parquet, plan.reads)
                expected.update(oracle.perf_answers(plan.batches, plan.reads))
            finally:
                spark, session_s = starting.result()
        _log(f"session: {session_s:.2f}s")
        wh = Warehouse(spark, os.path.join(work, "wh"), events_parquet)
        _log(f"bulk load: {wh.load_s:.2f}s")
        # one untimed batch and an explicit flush, beside the read warm-up:
        # the write path is warm and the measured batches start from an
        # empty L0 tier
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            warm_write = pool.submit(_warm_write, wh.engine, plan)
            _warm_up(wh.port, plan.warmup)
            warm_write.result()
        wh.reopen()
        _log("reopens: " + ", ".join(f"{s:.2f}s" for s in wh.open_s))
        if args.trace:
            tracer = trace.Tracer()
            trace.install(tracer, spark)
        m = _measure(plan, wh)
        res = m["res"]
        _log(f"measured: {len(res.reads)} reads in {m['read_s']:.1f}s, "
             f"{len(res.writes)} batches in {m['write_s']:.1f}s "
             f"({', '.join(f'{ms:.0f}' for ms in res.writes)} ms), "
             f"steal {m['steal']} jiffies, load1 {m['load1']}")
        if tracer is not None:
            tracer.uninstall()
        if res.failed:
            _log(f"failures: {res.errors}")
        _check(plan, res, expected, wh)
        if args.trace:
            metrics = _per_layer(plan, m, wh, tracer, spark, session_s)
        else:
            metrics = _end_to_end(plan, m, wh)
        attempted = len(plan.reads) + len(plan.batches)
        return {"correct": True, "attempted": attempted, "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}
    finally:
        if tracer is not None:
            tracer.uninstall()
        if wh is not None:
            wh.close()
        if spark is not None:
            _log(f"rss by process (MB): {host.rss_by_process()}")
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):   # other runs may still use it
            os.rmdir(os.path.dirname(work))
        _log("stopped")


def _abort_hung_run() -> None:
    """Watchdog: kill the JVM and its children, then exit non-zero."""
    _log(f"FAILED: run exceeded {DEADLINE_S}s; stopping")
    children = [p for p in host.process_tree() if p != os.getpid()]
    host.wait_gone(children, timeout_s=2)
    shutil.rmtree(_work_dir(), ignore_errors=True)
    os._exit(3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    watchdog = threading.Timer(DEADLINE_S, _abort_hung_run)
    watchdog.daemon = True
    watchdog.start()
    try:
        out = run(args)
    except BenchError as exc:
        _log(f"FAILED: {exc}")
        return 1
    finally:
        watchdog.cancel()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
