"""Property test: MVCC + tombstone interleavings vs a Python dict model.

The reference resolves duplicates last-write-wins by seq
(iterator/iterator.go:61-62,270-289) and applies three tombstone kinds,
each with a seq cutoff so a LATER re-push resurrects the point
(engine2/adapter.go:909-1030,2773-2791). This drives random interleaved
put / delete-point / delete-series / delete-range sequences through
``operators.mvcc.visible`` (the dedup window + the three anti-joins, the
function engine.points() returns through) and checks every visible
(series, ts, winning seq) against an oracle computed from first
principles. Each put writes the engine's long layout: two field rows plus
the marker row, all at one seq, so a winning version must keep all three.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nexusbase_spark.operators import mvcc

SERIES = ["m|h=a", "m|h=b", "n|h=a"]
TS = list(range(5))
FIELDS = ["a", "b", ""]  # two field rows and the marker row per put

OP = st.one_of(
    st.tuples(st.just("put"), st.sampled_from(SERIES), st.sampled_from(TS)),
    st.tuples(st.just("del_point"), st.sampled_from(SERIES), st.sampled_from(TS)),
    st.tuples(st.just("del_series"), st.sampled_from(SERIES)),
    st.tuples(st.just("del_range"), st.sampled_from(SERIES),
              st.sampled_from(TS), st.sampled_from(TS)),
)


def model_visible(ops):
    """First-principles oracle: a point version (sk, ts, seq) is visible
    iff it is the highest seq at its (sk, ts) AND no tombstone with
    cutoff >= seq covers it."""
    puts, tomb_point, tomb_series, tomb_range = [], [], [], []
    for seq, op in enumerate(ops):
        if op[0] == "put":
            puts.append((op[1], op[2], seq))
        elif op[0] == "del_point":
            tomb_point.append((op[1], op[2], seq))
        elif op[0] == "del_series":
            tomb_series.append((op[1], seq))
        else:
            lo, hi = sorted((op[2], op[3]))
            tomb_range.append((op[1], lo, hi, seq))
    winners = {}
    for sk, ts, seq in puts:
        if (sk, ts) not in winners or seq > winners[(sk, ts)]:
            winners[(sk, ts)] = seq
    visible = set()
    for (sk, ts), seq in winners.items():
        dead = (
            any(dsk == sk and dts == ts and seq <= dseq
                for dsk, dts, dseq in tomb_point)
            or any(dsk == sk and seq <= dseq for dsk, dseq in tomb_series)
            or any(dsk == sk and lo <= ts <= hi and seq <= dseq
                   for dsk, lo, hi, dseq in tomb_range)
        )
        if not dead:
            visible.add((sk, ts, seq))
    return visible, puts, tomb_point, tomb_series, tomb_range


def spark_visible(spark, puts, tomb_point, tomb_series, tomb_range):
    """Visible (series, ts, seq, field) rows of ``mvcc.visible`` over the
    puts in long layout, once per plan ``NexusEngine.points`` can pick:
    the distributed one (a hash exchange for the dedup window) and the
    one-partition one (the input coalesced to one partition first)."""
    pts = spark.createDataFrame(
        [(sk, ts, seq, f, float(seq)) for sk, ts, seq in puts for f in FIELDS],
        "series_key string, ts long, seq long, field string, value double")
    kinds = {"point": (tomb_point, "series_key string, ts long, seq long"),
             "series": (tomb_series, "series_key string, seq long"),
             "range": (tomb_range, "series_key string, min_ts long, "
                                   "max_ts long, seq long")}
    tombs = {k: spark.createDataFrame(rows, schema)
             for k, (rows, schema) in kinds.items() if rows}
    return [{(r["series_key"], r["ts"], r["seq"], r["field"])
             for r in mvcc.visible(frame, tombs).collect()}
            for frame in (pts, pts.coalesce(1))]


def long_rows(versions):
    """(series, ts, seq) versions -> their long-layout row keys."""
    return {(sk, ts, seq, f) for sk, ts, seq in versions for f in FIELDS}


@pytest.mark.slow
@given(ops=st.lists(OP, min_size=1, max_size=24))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.nightly
def test_mvcc_tombstone_interleavings(spark, ops):
    if not any(op[0] == "put" for op in ops):
        ops = ops + [("put", SERIES[0], 0)]
    visible, puts, tp, tsr, trg = model_visible(ops)
    for got in spark_visible(spark, puts, tp, tsr, trg):
        assert got == long_rows(visible), f"ops={ops}"


def test_mvcc_resurrect_after_each_delete_kind(spark):
    """The seq-cutoff contract in one deterministic script: delete then
    re-push resurrects, for all three tombstone kinds."""
    ops = [
        ("put", "m|h=a", 1),        # seq 0
        ("del_point", "m|h=a", 1),  # seq 1 kills it
        ("put", "m|h=a", 1),        # seq 2 resurrects
        ("put", "m|h=b", 2),        # seq 3
        ("del_series", "m|h=b"),    # seq 4 kills the series
        ("put", "m|h=b", 2),        # seq 5 resurrects
        ("put", "n|h=a", 3),        # seq 6
        ("del_range", "n|h=a", 0, 4),  # seq 7 kills the range
        ("put", "n|h=a", 3),        # seq 8 resurrects
    ]
    visible, puts, tp, tsr, trg = model_visible(ops)
    assert visible == {("m|h=a", 1, 2), ("m|h=b", 2, 5), ("n|h=a", 3, 8)}
    for got in spark_visible(spark, puts, tp, tsr, trg):
        assert got == long_rows(visible)


def test_dedup_latest_keeps_every_row_of_the_winning_version(spark):
    """On the long layout a point version is its field rows plus its
    marker, all at one seq: last write wins for the whole version, so the
    newest version keeps all three rows and the older one keeps none."""
    rows = [("m|h=a", 1, seq, f, float(seq)) for seq in (3, 7) for f in FIELDS]
    df = spark.createDataFrame(
        rows, "series_key string, ts long, seq long, field string, value double")
    got = sorted((r["seq"], r["field"]) for r in mvcc.dedup_latest(df).collect())
    assert got == [(7, ""), (7, "a"), (7, "b")]
