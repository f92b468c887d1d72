"""Expected answers for every statement of a run, computed outside the
timed phase: event-series reads by DuckDB over the events parquet the
warehouse was loaded from, perf-series reads from the generator's own
record of what the writer sent."""

from __future__ import annotations

import duckdb

from perfbench import workload as W

# (row count, value sum rounded to 2 decimals)
Answer = tuple


def answer(count: int, total: float) -> Answer:
    return int(count), round(float(total), 2)


def event_answers(events_parquet: str, reads: list) -> dict[str, Answer]:
    """One DuckDB join of the distinct event statements against the
    events file; statements that match no event answer (0, 0.0)."""
    keys = {(r.text, r.metric, int(r.tags[0][1]), r.start, r.end)
            for r in reads if r.after_batch < 0}
    out = {k[0]: answer(0, 0.0) for k in keys}
    if not keys:
        return out
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE q(text VARCHAR, metric VARCHAR, "
                    "usr BIGINT, lo BIGINT, hi BIGINT)")
        con.executemany("INSERT INTO q VALUES (?, ?, ?, ?, ?)", sorted(keys))
        rows = con.execute(
            "SELECT q.text, count(*), sum(e.value) FROM q JOIN "
            f"read_parquet('{events_parquet}') e ON e.metric = q.metric "
            "AND e.\"user\" = q.usr AND e.ts BETWEEN q.lo AND q.hi "
            "GROUP BY q.text").fetchall()
    finally:
        con.close()
    for text, n, total in rows:
        out[text] = answer(n, total)
    return out


def perf_answers(batches: list, reads: list) -> dict[str, Answer]:
    points: dict[tuple, list] = {}
    for batch in batches:
        for _metric, tags, fields, ts in batch:
            points.setdefault(tuple(sorted(tags.items())), []).append((ts, fields["value"]))
    out = {}
    for r in reads:
        if r.after_batch >= 0:
            hit = [v for ts, v in points.get(r.tags, ()) if r.start <= ts <= r.end]
            out[r.text] = answer(len(hit), sum(hit))
    return out


def response_answer(body: dict) -> Answer:
    """Answer of a raw-point QUERY response body."""
    rows = body["results"]
    return answer(len(rows), sum(float(r["fields"]["value"]) for r in rows))


def same(got: Answer, want: Answer) -> bool:
    return got[0] == want[0] and abs(got[1] - want[1]) < 1e-6


def readback_statement(n_batches: int) -> str:
    """One statement whose answer holds a count and a sum per perf series
    over every batch the writer sent (all of them fall in one 1h window)."""
    start, _ = W.batch_range(0)
    _, end = W.batch_range(n_batches - 1)
    return (f"QUERY {W.PERF_METRIC} FROM {start} TO {end} "
            "AGGREGATE BY 1h (count(*), sum(value))")


def readback_expected(batches: list) -> dict[str, Answer]:
    """Per-series (count, sum) of every acknowledged write, keyed by the
    engine's series key format ``metric|k=v,...`` (tag keys sorted)."""
    acc: dict[str, list] = {}
    for batch in batches:
        for metric, tags, fields, _ts in batch:
            key = metric + "|" + ",".join(f"{k}={v}" for k, v in sorted(tags.items()))
            a = acc.setdefault(key, [0, 0.0])
            a[0] += 1
            a[1] += fields["value"]
    return {k: answer(n, s) for k, (n, s) in acc.items()}
