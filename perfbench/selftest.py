"""Self-test of the benchmark's input generator and tracer (no JVM needed).

    python3 perfbench/selftest.py

Checks that a seed fixes every input byte for byte, that another seed
changes them, that the workloads have the statement-repeat profile their
purpose needs, and that span self time subtracts child spans.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import oracle, trace, workload as W  # noqa: E402


def check_seeding() -> None:
    for wl in W.WORKLOADS:
        a = W.make_plan(wl, 7, 20)
        b = W.make_plan(wl, 7, 20)
        c = W.make_plan(wl, 8, 20)
        assert a.fingerprint() == b.fingerprint(), f"{wl}: same seed, different inputs"
        assert [r.text for r in a.reads] == [r.text for r in b.reads]
        assert a.fingerprint() != c.fingerprint(), f"{wl}: seed does not change inputs"
        assert [r.text for r in a.reads] != [r.text for r in c.reads]


def check_profiles() -> None:
    for seed in range(5):
        sr = W.make_plan("series_read", seed, 20)
        assert sr.stmt_repeat_frac() >= 0.05, \
            f"series_read repeats too little: {sr.stmt_repeat_frac():.3f}"
        assert all(r.after_batch < 0 for r in sr.reads), "series_read reads perf series"
        im = W.make_plan("ingest_mixed", seed, 20)
        perf = [r for r in im.reads if r.after_batch >= 0]
        assert len(perf) == len(im.reads) // 2, "ingest_mixed must alternate"
        assert all(r.after_batch < len(im.batches) for r in perf)
        # perf reads never repeat: each targets one series over one batch
        # chosen at random, and the few collisions are below 15%
        texts = [r.text for r in perf]
        assert 1 - len(set(texts)) / len(texts) < 0.15


def check_batches() -> None:
    plan = W.make_plan("ingest_mixed", 3, 20)
    seen = set()
    for b, batch in enumerate(plan.batches):
        assert len(batch) == W.BATCH_POINTS
        lo, hi = W.batch_range(b)
        for metric, tags, _fields, ts in batch:
            assert metric == W.PERF_METRIC and lo <= ts <= hi
            key = (tuple(sorted(tags.items())), ts)
            assert key not in seen, "duplicate perf point"
            seen.add(key)
    want = oracle.readback_expected(plan.batches)
    assert len(want) == W.PERF_SERIES
    assert sum(n for n, _s in want.values()) == W.BATCH_POINTS * len(plan.batches)


def check_events() -> None:
    ev = W.make_plan("series_read", 1, 20).events
    assert len(set(zip(ev["metric"].tolist(), ev["user"].tolist(),
                       ev["ts"].tolist()))) == W.EVENTS, "duplicate event point"
    assert (ev["ts"] % 1000 == 0).all(), "timestamps must be whole microseconds"


def check_self_time() -> None:
    class Box:
        @staticmethod
        def outer():
            Box.inner()

        @staticmethod
        def inner():
            sum(range(20_000))

    tr = trace.Tracer()
    tr.wrap(Box, "inner", "inner")
    tr.wrap(Box, "outer", "outer")
    tr.op = "1"
    Box.outer()
    tr.uninstall()
    spans = tr.per_op()["1"]
    (outer_dur, outer_self), = spans["outer"]
    (inner_dur, inner_self), = spans["inner"]
    assert inner_dur == inner_self
    assert abs(outer_self - (outer_dur - inner_dur)) < 1e-9


def main() -> int:
    for check in (check_seeding, check_profiles, check_batches, check_events,
                  check_self_time):
        check()
        print(f"ok  {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
