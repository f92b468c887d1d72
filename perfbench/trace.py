"""Span tracing applied from outside the engine.

``install`` wraps the public functions of each engine module at their call
boundaries. A span is (id, parent id, op id, name, start ns, end ns); spans
stay in memory until the run ends. Spans of one HTTP request share the op
id the client sends in the ``X-Bench-Op`` header, and the request's Spark
jobs run under a job group named after it. Nothing here changes what the
engine computes.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import statistics
import threading
import time

OP_HEADER = "X-Bench-Op"


def job_group(op: str) -> str:
    return f"bench-op-{op}"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: list[tuple] = []       # (op id, name, value)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    @op.setter
    def op(self, value: str | None) -> None:
        self._local.op = value

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            t1 = time.perf_counter_ns()
            stack.pop()
            # list.append is atomic under the interpreter lock
            self.spans.append((sid, parent, self.op, name, t0, t1))

    def count(self, name: str, value: float) -> None:
        self.counts.append((self.op, name, value))

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``uninstall``."""
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.replace(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ------------------------------------------------------- analysis

    def per_op(self) -> dict[str, dict[str, list[float]]]:
        """op id -> span name -> [(duration ms, self ms), ...]. Self time is
        the span's duration minus its direct children's; children of one
        span run on its thread, nested, so their durations do not overlap."""
        child_ns: dict[int, int] = {}
        for _sid, parent, _op, _name, t0, t1 in self.spans:
            if parent:
                child_ns[parent] = child_ns.get(parent, 0) + (t1 - t0)
        out: dict[str, dict[str, list]] = {}
        for sid, _parent, op, name, t0, t1 in self.spans:
            dur = t1 - t0
            rec = out.setdefault(op, {}).setdefault(name, [])
            rec.append((dur / 1e6, (dur - child_ns.get(sid, 0)) / 1e6))
        return out

    def by_name(self, name: str) -> list[float]:
        """Durations in ms of every span with this name, any op."""
        return [(t1 - t0) / 1e6 for _s, _p, _o, n, t0, t1 in self.spans if n == name]


def span_cost_us(n: int = 20_000) -> float:
    """Measured cost of one span around a trivial call, in microseconds."""
    class _Box:
        @staticmethod
        def f():
            return None
    tr = Tracer()
    tr.wrap(_Box, "f", "noop")
    t0 = time.perf_counter_ns()
    for _ in range(n):
        _Box.f()
    traced = time.perf_counter_ns() - t0
    tr.uninstall()
    t0 = time.perf_counter_ns()
    for _ in range(n):
        _Box.f()
    plain = time.perf_counter_ns() - t0
    return max(traced - plain, 0) / n / 1e3


def install(tracer: Tracer, spark) -> None:
    """Wrap every layer boundary the per-layer metrics are read from."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from nexusbase_spark import engine, server
    from nexusbase_spark.nbql import parser, planner
    from nexusbase_spark.operators import tagindex

    E = engine.NexusEngine
    tracer.wrap(parser, "parse", "nbql.parse")
    tracer.wrap(planner, "plan_query", "nbql.plan_query")
    tracer.wrap(E, "_dispatch", "engine.dispatch")
    tracer.wrap(E, "query", "engine.query")
    tracer.wrap(E, "points", "engine.points")
    tracer.wrap(E, "put_batch", "engine.put_batch")
    tracer.wrap(E, "flush_l0", "engine.flush_l0")
    tracer.wrap(tagindex.SeriesCatalog, "append_points", "tagindex.append")
    tracer.wrap(server, "execute_to_json", "server.execute")
    tracer.wrap(ClassicDataFrame, "collect", "spark.collect")

    cat = tagindex.SeriesCatalog
    resolve = cat.resolve

    @functools.wraps(resolve)
    def traced_resolve(self, *args, **kwargs):
        with tracer.span("tagindex.resolve"):
            keys = resolve(self, *args, **kwargs)
        tracer.count("tagindex.resolve_keys", 0 if keys is None else len(keys))
        return keys
    tracer.replace(cat, "resolve", traced_resolve)

    read_guard = E.read_guard

    @functools.wraps(read_guard)
    @contextlib.contextmanager
    def traced_read_guard(self):
        cm = read_guard(self)
        with tracer.span("engine.read_guard_wait"):
            cm.__enter__()
        try:
            yield
        finally:
            cm.__exit__(None, None, None)
    tracer.replace(E, "read_guard", traced_read_guard)

    handler = server._Handler
    do_post = handler.do_POST
    sc = spark.sparkContext

    @functools.wraps(do_post)
    def traced_do_post(self):
        tracer.op = self.headers.get(OP_HEADER)
        if tracer.op:
            sc.setJobGroup(job_group(tracer.op), "perfbench read")
        try:
            with tracer.span("server.request"):
                return do_post(self)
        finally:
            tracer.op = None
    tracer.replace(handler, "do_POST", traced_do_post)


def spark_work(spark, ops: list[str]) -> dict[str, tuple[int, int]]:
    """op id -> (jobs, tasks) from the status tracker's job groups."""
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for op in ops:
        jobs = tracker.getJobIdsForGroup(job_group(op))
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        out[op] = (len(jobs), tasks)
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
