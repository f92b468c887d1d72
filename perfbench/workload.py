"""Seeded input generator for the engine benchmark.

Everything the engine receives in a run -- the bulk-loaded events, the NBQL
statements and the put_batch batches -- comes from here, as a pure function
of the workload name and the seed. Nothing in this module imports Spark or
the engine, so the self-test can check it without a JVM.
"""

from __future__ import annotations

import dataclasses

import numpy as np

SEC_NS = 1_000_000_000
DAY_NS = 86_400 * SEC_NS
T0_NS = 1_704_067_200 * SEC_NS          # 2024-01-01T00:00:00Z

# Bulk-loaded events: the sf0.1 ``events`` table's shape mapped to points
# (metric = event type, one tag ``user``, one float field ``value``):
# 5 types x 1500 users = 7.5k series, values 0..560, and sf0.1's density of
# 100k events per 30 days, uniform over time, so a 7-day window holds about
# 3 points of one series. The range is two weeks, not sf0.1's 30 days: the
# cold bulk load of 30 days alone took about 25 s of a run, and 48 runs
# must fit in 3420 s.
METRICS = ("click", "view", "purchase", "signup", "error")
USERS = 1_500
DAYS = 14
EVENTS = 100_000 * DAYS // 30
WINDOW_DAYS = 7                        # each tagged read spans one week
WINDOW_STARTS = (0, 7)                 # day offsets of the window starts
# Skew of series popularity: YCSB's default Zipfian constant (0.99), the
# usual stand-in for key popularity when no trace of real traffic exists.
ZIPF_S = 0.99
# Share of reads over the newest week. Gorilla (VLDB 2015) reports that at
# least 85% of queries to Facebook's time-series store asked for the most
# recent 26 hours; the rest go to the older week.
RECENT_FRAC = 0.85
# put_batch writer: the reference perf-client shape (1000-point batches,
# 100 series tagged host/region, 1 s cadence), after the loaded range.
PERF_METRIC = "perf.test.metric"
WARMUP_METRIC = "perf.warmup.metric"   # untimed write warm-up
PERF_SERIES = 100
BATCH_POINTS = 1000
PERF_T0_NS = T0_NS + (DAYS + 1) * DAY_NS
REGIONS = ("us-east", "us-west", "eu-central", "ap-south")

# Fixed operation counts per workload. ``--seconds`` scales the read
# count; write counts stay fixed so the L0 tier always goes through the
# same number of flush cycles.
READS_PER_SECOND = {"series_read": 2.2, "ingest_mixed": 1.6}
MIN_READS = 20
WRITE_BATCHES = {"series_read": 4, "ingest_mixed": 8}
WORKLOADS = tuple(READS_PER_SECOND)


@dataclasses.dataclass(frozen=True)
class Read:
    """One read statement plus the key its expected answer is filed under.

    ``after_batch`` >= 0 marks a read of perf series: it may only be sent
    once that many-plus-one writer batches are acknowledged, so its answer
    is fixed by the generator's own record."""
    text: str
    metric: str
    tags: tuple
    start: int
    end: int
    after_batch: int = -1


@dataclasses.dataclass(frozen=True)
class Plan:
    workload: str
    seed: int
    events: dict            # column name -> numpy array
    batches: list           # list of put_batch point lists, measured
    warmup_batch: list      # one put_batch point list, not measured
    warmup: list            # list[Read], not measured
    reads: list             # list[Read], measured

    def stmt_repeat_frac(self) -> float:
        texts = [r.text for r in self.reads]
        return 1.0 - len(set(texts)) / len(texts)

    def fingerprint(self) -> str:
        """Stable digest of every input the engine will receive."""
        import hashlib
        h = hashlib.sha256()
        for name in sorted(self.events):
            h.update(name.encode())
            h.update(np.ascontiguousarray(self.events[name]).tobytes())
        for batch in self.batches + [self.warmup_batch]:
            h.update(repr(batch).encode())
        for r in self.warmup + self.reads:
            h.update(repr(r).encode())
        return h.hexdigest()


def make_events(rng: np.random.Generator) -> dict:
    """EVENTS points over DAYS days. Timestamps are whole microseconds and
    unique per event (the event id fills the sub-second digits), so no two
    events share a (series, ts) key and MVCC never merges them."""
    event_id = np.arange(EVENTS, dtype=np.int64)
    secs = rng.integers(0, DAYS * 86_400, EVENTS, dtype=np.int64)
    ts = T0_NS + secs * SEC_NS + event_id * 1_000
    order = np.argsort(ts, kind="stable")
    return {
        "event_id": event_id,
        "ts": ts[order],
        "metric": np.asarray(METRICS)[rng.integers(0, len(METRICS), EVENTS)],
        "user": rng.integers(0, USERS, EVENTS).astype(np.int64),
        "value": np.round(rng.uniform(0.0, 560.0, EVENTS), 2),
    }


def perf_tags(i: int) -> dict:
    return {"host": f"host-{i:03d}", "region": REGIONS[i % len(REGIONS)]}


def make_batches(rng: np.random.Generator, n: int,
                 metric: str = PERF_METRIC) -> list:
    """``n`` put_batch payloads. Batch b holds 10 consecutive seconds of all
    PERF_SERIES series, so batches cover disjoint time ranges."""
    per_series = BATCH_POINTS // PERF_SERIES
    batches = []
    for b in range(n):
        values = np.round(rng.uniform(0.0, 100.0, BATCH_POINTS), 3)
        points = []
        for s in range(PERF_SERIES):
            for j in range(per_series):
                ts = PERF_T0_NS + (b * per_series + j) * SEC_NS
                points.append((metric, perf_tags(s),
                               {"value": float(values[s * per_series + j])}, ts))
        batches.append(points)
    return batches


def batch_range(b: int) -> tuple[int, int]:
    per_series = BATCH_POINTS // PERF_SERIES
    start = PERF_T0_NS + b * per_series * SEC_NS
    return start, start + per_series * SEC_NS - 1


def _tag_text(tags: tuple) -> str:
    return ", ".join(f'{k}="{v}"' for k, v in tags)


def _read(metric: str, tags: tuple, start: int, end: int,
          after_batch: int = -1) -> Read:
    text = f"QUERY {metric} FROM {start} TO {end} TAGGED ({_tag_text(tags)})"
    return Read(text, metric, tags, start, end, after_batch)


def _stratified(rng: np.random.Generator, n: int) -> np.ndarray:
    """n uniforms on [0, 1), one in each n-th of the interval, in random
    order. Each draw keeps its distribution, but how often each value comes
    up varies far less between seeds than with independent draws."""
    return rng.permutation((np.arange(n) + rng.random(n)) / n)


def _zipf_ranks(rng: np.random.Generator, n: int, universe: int) -> np.ndarray:
    w = 1.0 / np.arange(1, universe + 1) ** ZIPF_S
    return np.searchsorted(np.cumsum(w / w.sum()), _stratified(rng, n), side="right")


def _event_reads(rng: np.random.Generator, n: int) -> list:
    """Tagged event-series reads: series Zipf-skewed over every (metric,
    user) pair, window starts mostly the newest week, so a share of
    statements repeats verbatim."""
    universe = len(METRICS) * USERS
    popularity = rng.permutation(universe)
    series = popularity[_zipf_ranks(rng, n, universe)]
    older = np.asarray(WINDOW_STARTS[:-1])[rng.integers(0, len(WINDOW_STARTS) - 1, n)]
    starts = np.where(_stratified(rng, n) < RECENT_FRAC, WINDOW_STARTS[-1], older)
    out = []
    for s, d in zip(series.tolist(), starts.tolist()):
        metric, user = METRICS[s // USERS], s % USERS
        start = T0_NS + d * DAY_NS
        out.append(_read(metric, (("user", str(user)),), start,
                         start + WINDOW_DAYS * DAY_NS - 1))
    return out


def _perf_reads(rng: np.random.Generator, n: int, batches: int) -> list:
    """Tagged perf-series reads, the j-th spread over the batches the
    writer has had time to acknowledge by then (batch index <= j's share)."""
    out = []
    for j in range(n):
        newest = min(batches - 1, (j * batches) // n)
        b = int(rng.integers(0, newest + 1))
        s = int(rng.integers(0, PERF_SERIES))
        start, end = batch_range(b)
        tags = tuple(sorted(perf_tags(s).items()))
        out.append(_read(PERF_METRIC, tags, start, end, after_batch=b))
    return out


def make_plan(workload: str, seed: int, seconds: int) -> Plan:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    events = make_events(rng)
    n_batches = WRITE_BATCHES[workload]
    batches = make_batches(rng, n_batches)
    n_reads = max(MIN_READS, round(READS_PER_SECOND[workload] * seconds))
    warmup_batch = make_batches(rng, 1, WARMUP_METRIC)[0]
    warmup = _event_reads(rng, 8)
    if workload == "series_read":
        reads = _event_reads(rng, n_reads)
    else:
        # alternate loaded event series with just-written perf series
        ev = _event_reads(rng, n_reads - n_reads // 2)
        pf = _perf_reads(rng, n_reads // 2, n_batches)
        reads = [x for pair in zip(ev, pf) for x in pair] + ev[len(pf):]
    return Plan(workload, seed, events, batches, warmup_batch, warmup, reads)
