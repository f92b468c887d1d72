"""Property-based tests (hypothesis) — the rebuild's analog of the
reference's wire-protocol fuzzing (api/nbql/nbqlfuzz_test.go:16-44):
parser total-function behavior on arbitrary input, AST->text->AST
roundtrips, duration parsing, cursor pagination completeness.
"""

from __future__ import annotations

import math
import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nexusbase_spark.nbql import ast as A
from nexusbase_spark.nbql.parser import NBQLError, parse, parse_duration, substitute_params

IDENT = st.text(alphabet=string.ascii_lowercase + ".", min_size=1, max_size=12).filter(
    lambda s: s[0] not in "." and ".." not in s and not s.endswith("."))
TAGK = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)
TAGV = st.text(alphabet=string.ascii_lowercase + string.digits + "-_ ", min_size=1, max_size=10)


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes(garbage):
    """Total function: any input either parses or raises NBQLError —
    never an unhandled exception (the fuzz-test contract)."""
    try:
        parse(garbage)
    except NBQLError:
        pass


@given(
    metric=IDENT,
    tags=st.dictionaries(TAGK, TAGV, max_size=3),
    start=st.integers(min_value=0, max_value=2**62),
    dur=st.integers(min_value=1, max_value=2**40),
    limit=st.integers(min_value=1, max_value=10**6),
    desc=st.booleans(),
    funcs=st.lists(st.sampled_from(["count", "sum", "avg", "min", "max",
                                    "first", "last", "frac", "stddev", "p95"]),
                   min_size=1, max_size=4),
)
@settings(max_examples=150, deadline=None)
def test_query_roundtrip(metric, tags, start, dur, limit, desc, funcs):
    """Rendered QUERY statements parse back to the same AST fields."""
    tag_sql = ", ".join(f'{k}="{v}"' for k, v in tags.items())
    aggs = ", ".join(f"{f}(lat)" for f in funcs)
    text = (f"QUERY {metric} FROM {start} TO {start + dur} "
            + (f"TAGGED ({tag_sql}) " if tags else "")
            + f"AGGREGATE BY 1m ({aggs}) "
            + ("DESC " if desc else "")
            + f"LIMIT {limit};")
    q = parse(text)
    assert isinstance(q, A.QueryStatement)
    assert q.metric == metric
    assert q.tags == tags
    assert (q.start, q.end) == (start, start + dur)
    assert q.downsample_interval == 60_000_000_000
    assert [a.func for a in q.aggregations] == funcs
    assert q.limit == limit and q.sort_desc == desc


@given(h=st.integers(0, 99), m=st.integers(0, 59), s=st.integers(0, 59),
       ms=st.integers(0, 999))
@settings(max_examples=100, deadline=None)
def test_duration_compositional(h, m, s, ms):
    text = f"{h}h{m}m{s}s{ms}ms"
    assert parse_duration(text) == ((h * 3600 + m * 60 + s) * 1_000_000_000
                                    + ms * 1_000_000)


@given(params=st.lists(
    st.one_of(st.integers(-10**9, 10**9), st.floats(allow_nan=False, allow_infinity=False),
              st.booleans(), st.text(max_size=15)),
    min_size=1, max_size=4))
@settings(max_examples=100, deadline=None)
def test_param_substitution_count(params):
    q = "QUERY m " + " ".join("?" for _ in params)
    out = substitute_params(q, params)
    # every placeholder consumed; string params render quoted (they may
    # themselves contain '?', which must remain inside the quotes)
    for v in params:
        if isinstance(v, str):
            assert '"' in out
    with pytest.raises(NBQLError):
        substitute_params(q, list(params) + [1])
    with pytest.raises(NBQLError):
        substitute_params(q, list(params)[:-1])


@pytest.mark.slow
@given(limit=st.sampled_from([1, 7, 37, 40]))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.nightly
def test_pagination_no_dup_no_loss(spark, limit):
    """Keyset pagination partitions the full result: no duplicates, no
    losses, any page size (fixture 6's contract, FIXTURES.md)."""
    from nexusbase_spark.datamodel import series_key_expr
    from nexusbase_spark.operators.order import (
        decode_cursor, encode_cursor, keyset_after, order_points)
    # cross-series ts ties everywhere: the order tie-break does the work
    rows = [("m", {"h": str(h)}, ts, h * 100 + ts, float(ts))
            for h in range(3) for ts in range(37)]
    df = spark.createDataFrame(
        rows, "metric string, tags map<string,string>, ts long, seq long, value double")
    df = df.withColumn("series_key", series_key_expr(F.col("metric"), F.col("tags")))
    seen, cursor, pages = [], None, 0
    while True:
        after = keyset_after(df, decode_cursor(cursor)) if cursor else df
        got = order_points(after).limit(limit).collect()
        seen.extend((r["ts"], r["series_key"], r["seq"]) for r in got)
        pages += 1
        cursor = (encode_cursor(got[-1]["ts"], got[-1]["series_key"],
                                got[-1]["seq"]) if len(got) == limit else None)
        if cursor is None or pages > 200:
            break
    assert len(seen) == len(rows)
    assert len(set(seen)) == len(rows)


@given(fracs=st.lists(st.floats(0.0005, 1.0), min_size=1, max_size=8),
       key=st.integers(0, 10**12), salt=st.text(string.ascii_lowercase, max_size=8))
@settings(max_examples=300, deadline=None)
def test_split_thresholds_partition_bucket_space(fracs, key, salt):
    """For ANY normalized fraction dict: thresholds are nondecreasing,
    end exactly at N_BUCKETS (total coverage — every bucket gets exactly
    one split), and the pure-Python bucket mirror maps every key to
    exactly one named split. Driver-side mirror of pipeline/split.py."""
    import hashlib

    from nexusbase_spark.pipeline.split import N_BUCKETS, split_thresholds

    total = sum(fracs)
    fractions = {f"s{i}": f / total for i, f in enumerate(fracs)}
    # float normalization error is within resolution by construction
    thr = split_thresholds(fractions)
    bounds = [hi for _, hi in thr]
    assert bounds == sorted(bounds)
    assert bounds[-1] == N_BUCKETS
    # bucket mirror (same md5 arithmetic as split_bucket / the SQL oracle)
    h = int(hashlib.md5(f"{salt}:{key}".encode()).hexdigest()[:15], 16)
    bucket = h % N_BUCKETS
    owners = [name for (name, hi), lo in
              zip(thr, [0] + bounds[:-1]) if lo <= bucket < hi]
    assert len(owners) == 1


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_split_thresholds_reject_bad_sums(data):
    from nexusbase_spark.pipeline.split import N_BUCKETS, split_thresholds

    fracs = data.draw(st.lists(st.floats(0.001, 1.0), min_size=1, max_size=6))
    total = sum(fracs)
    off = data.draw(st.floats(2.0 / N_BUCKETS, 0.5))
    sign = data.draw(st.sampled_from([1.0, -1.0]))
    scale = (1.0 + sign * off) / total
    with pytest.raises(ValueError):
        split_thresholds({f"s{i}": f * scale for i, f in enumerate(fracs)})


@pytest.mark.slow
@given(data=st.data())
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_overflow_bound_property(spark, data):
    """For ANY doc-size distribution and budget, sequence packing holds its
    contract (hypothesis generalization of the example-based test):
    each doc appears exactly once; the distributed window computation
    equals a sequential per-shard reference (cum-before-tokens //
    budget); offsets sit in [0, budget); and a pack overruns the budget
    by less than its own longest doc (the straddling cut). Pack ids are
    NOT dense when a doc is longer than the budget — it consumes
    several budget units and the following doc skips ahead (hypothesis
    found this; the example test's sizes never exceeded its budget)."""
    from nexusbase_spark.pipeline.pack import pack_assignments

    sizes = data.draw(st.lists(st.integers(1, 97), min_size=1, max_size=120))
    budget = data.draw(st.sampled_from([16, 64, 128]))
    df = spark.createDataFrame(list(enumerate(sizes)), "doc_id long, n_tok long")
    out = pack_assignments(df, "doc_id", "n_tok", budget=budget, shards=3).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(len(sizes)))
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows_ in by_shard.values():
        rows_.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows_:  # sequential reference for the window cum-sum cut
            assert r["pack_id"] == cum // budget
            assert r["pack_offset"] == cum % budget
            cum += r["n_tok"]
        packs: dict[int, list] = {}
        for r in rows_:
            packs.setdefault(r["pack_id"], []).append(r)
        for prs in packs.values():
            total = sum(r["n_tok"] for r in prs)
            assert total < budget + max(r["n_tok"] for r in prs)
            assert all(0 <= r["pack_offset"] < budget for r in prs)


@pytest.mark.slow
@given(data=st.lists(
    st.tuples(st.integers(min_value=0, max_value=50),
              st.one_of(st.none(),
                        st.floats(min_value=-100, max_value=100,
                                  allow_nan=False, allow_infinity=False))),
    min_size=1, max_size=12, unique_by=lambda t: t[0]))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fill_linear_properties(spark, data):
    """For any timeline: observations pass through untouched; edges with
    no anchor on one side stay NULL; every interpolated value lies
    between its two anchors (monotone bound — linear interpolation never
    overshoots)."""
    from nexusbase_spark.operators import fill_linear

    df = spark.createDataFrame([("k", ts, v) for ts, v in data],
                               "user string, ts long, v double")
    got = {r["ts"]: r["v"] for r in fill_linear(df, ["user"], "v").collect()}
    obs = sorted((ts, v) for ts, v in data if v is not None)
    obs_ts = [ts for ts, _ in obs]
    for ts, v in data:
        if v is not None:
            assert got[ts] == v
        elif not obs_ts or ts < obs_ts[0] or ts > obs_ts[-1]:
            assert got[ts] is None
        else:
            import bisect
            i = bisect.bisect_left(obs_ts, ts)
            lo, hi = obs[i - 1], obs[i]
            expected = lo[1] + (hi[1] - lo[1]) * (ts - lo[0]) / (hi[0] - lo[0])
            assert got[ts] == pytest.approx(expected, abs=1e-9)
            assert min(lo[1], hi[1]) - 1e-9 <= got[ts] <= max(lo[1], hi[1]) + 1e-9


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefghij"), min_size=1, max_size=10),
        min_size=2, max_size=12),
    tnum=st.sampled_from([5000, 6000, 8000]),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_filter_pairs_lossless_property(spark, docs, tnum):
    """PROPERTY: on arbitrary small corpora and thresholds, the prefix-
    filtered join returns EXACTLY the brute-force Jaccard pairs at the
    same rational threshold — the losslessness theorem, fuzzed (token
    universe of 10 so ties, duplicates, subsets and disjoint sets all
    occur)."""
    import itertools
    import math

    from nexusbase_spark.pipeline.dedup import prefix_filter_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): (r["inter"], r["uni"])
           for r in prefix_filter_pairs(df, threshold=tnum / 10000)
           .collect()}

    sets = {i: set(toks) for i, toks in enumerate(docs)}
    want = {}
    for x, y in itertools.combinations(sorted(sets), 2):
        i = len(sets[x] & sets[y])
        u = len(sets[x] | sets[y])
        if i * 10000 >= u * tnum:
            want[(x, y)] = (i, u)
    assert got == want
    for (x, y), (i, u) in got.items():
        q = math.floor(i / u * 1e4 + 0.5) / 1e4
        assert q <= 1.0


# ------------------------------------------------- grammar-directed fuzz
# The raw-text fuzzer above can't reach deep grammar states (hypothesis
# never types "AGGREGATE BY 1m SLIDE 0s (count(*))" by luck) — it missed
# a real ZeroDivisionError on a zero SLIDE duration. These strategies
# compose statements FROM the grammar, so every clause combination and
# every near-miss mutation gets exercised.

_DUR_UNITS = [("ms", 1_000_000), ("s", 1_000_000_000),
              ("m", 60_000_000_000), ("h", 3_600_000_000_000)]


@st.composite
def _duration(draw):
    n = draw(st.integers(1, 999))
    unit, ns = draw(st.sampled_from(_DUR_UNITS))
    return f"{n}{unit}", n * ns


@st.composite
def _query_stmt(draw):
    """A full QUERY from the grammar with every optional clause drawn
    independently, returning (text, expected-field dict)."""
    metric = draw(IDENT)
    parts = [f"QUERY {metric}"]
    exp: dict = {"metric": metric}
    rng = draw(st.sampled_from(["abs", "rel", "none"]))
    if rng == "abs":
        a = draw(st.integers(0, 2**61))
        b = a + draw(st.integers(0, 2**40))
        parts.append(f"FROM {a} TO {b}")
        exp.update(start=a, end=b)
    elif rng == "rel":
        text, ns = draw(_duration())
        parts.append(f"FROM RELATIVE({text})")
        exp["relative"] = ns
    tags = draw(st.dictionaries(TAGK, TAGV, max_size=2))
    matchers = draw(st.lists(
        st.tuples(TAGK, st.sampled_from(["!=", "=~", "!~"]), TAGV),
        max_size=2))
    if tags or matchers:
        kv = [f'{k}="{v}"' for k, v in tags.items()]
        kv += [f'{k}{op}"{v}"' for k, op, v in matchers]
        parts.append(f"TAGGED ({', '.join(kv)})")
        exp["tags"] = tags
        exp["tag_matchers"] = matchers
    agg = draw(st.booleans())
    interval_ns = None
    if agg:
        funcs = draw(st.lists(
            st.sampled_from(["count", "sum", "avg", "min", "max", "first",
                             "last", "frac", "stddev", "p50", "p99.9"]),
            min_size=1, max_size=3))
        by = draw(st.booleans())
        spec = ", ".join(f"{f}(lat)" for f in funcs)
        clause = "AGGREGATE "
        if by:
            # SLIDE must divide the window: build size = slide * k
            a = draw(st.integers(1, 60))
            k = draw(st.integers(1, 4))
            unit, ns = draw(st.sampled_from(_DUR_UNITS))
            interval_ns = a * k * ns
            clause += f"BY {a * k}{unit} "
            if draw(st.booleans()) and k >= 1:
                clause += f"SLIDE {a}{unit} "
                exp["downsample_slide"] = a * ns
            exp["downsample_interval"] = interval_ns
        parts.append(clause + f"({spec})")
        exp["agg_funcs"] = funcs
        if by and draw(st.booleans()):
            parts.append("EMIT EMPTY WINDOWS")
            exp["emit_empty_windows"] = True
            fill = draw(st.sampled_from(
                [None, "PREVIOUS", "LINEAR", "0.5", "7"]))
            if fill is not None:
                parts.append(f"FILL {fill}")
                if fill == "PREVIOUS":
                    exp["fill_previous"] = True
                elif fill == "LINEAR":
                    exp["fill_linear"] = True
                else:
                    exp["fill_value"] = float(fill)
    sort = draw(st.sampled_from([None, "ASC", "DESC", "SORT ASC", "SORT DESC"]))
    if sort:
        parts.append(sort)
        exp["sort_desc"] = sort.endswith("DESC")
    if draw(st.booleans()):
        lim = draw(st.integers(0, 10**9))
        parts.append(f"LIMIT {lim}")
        exp["limit"] = lim
    if draw(st.booleans()):
        cur = draw(st.text(string.ascii_letters + string.digits + "+/=",
                           max_size=12))
        parts.append(f'AFTER "{cur}"')
        exp["after_cursor"] = cur
    return " ".join(parts) + draw(st.sampled_from(["", ";"])), exp


@given(stmt=_query_stmt())
@settings(max_examples=300, deadline=None)
def test_query_grammar_directed_roundtrip(stmt):
    text, exp = stmt
    q = parse(text)
    assert isinstance(q, A.QueryStatement)
    assert q.metric == exp["metric"]
    assert q.start == exp.get("start") and q.end == exp.get("end")
    assert q.relative == exp.get("relative")
    assert q.tags == exp.get("tags", {})
    assert q.tag_matchers == exp.get("tag_matchers", [])
    assert [a.func for a in q.aggregations] == exp.get("agg_funcs", [])
    assert q.downsample_interval == exp.get("downsample_interval")
    assert q.downsample_slide == exp.get("downsample_slide")
    assert q.emit_empty_windows == exp.get("emit_empty_windows", False)
    assert q.fill_previous == exp.get("fill_previous", False)
    assert q.fill_linear == exp.get("fill_linear", False)
    assert q.fill_value == exp.get("fill_value")
    assert q.sort_desc == exp.get("sort_desc", False)
    assert q.limit == exp.get("limit")
    assert q.after_cursor == exp.get("after_cursor")


@st.composite
def _push_stmt(draw):
    metric = draw(IDENT)
    batch = draw(st.booleans())
    tags = draw(st.dictionaries(TAGK, TAGV, max_size=2))
    n = draw(st.integers(1, 3))
    fields: dict = {}
    fparts = []
    for i in range(n):
        k = f"f{i}"
        kind = draw(st.sampled_from(["int", "float", "bool", "str"]))
        if kind == "int":
            v = draw(st.integers(-2**40, 2**40))
            fparts.append(f"{k}={v}")
        elif kind == "float":
            whole = draw(st.integers(-999, 999))
            v = float(f"{whole}.5")  # NOT whole + 0.5: "-1.5" is -(1.5)
            fparts.append(f"{k}={whole}.5")
        elif kind == "bool":
            v = draw(st.booleans())
            fparts.append(f"{k}={'TRUE' if v else 'FALSE'}")
        else:
            v = draw(TAGV)
            fparts.append(f'{k}="{v}"')
        fields[k] = v
    parts = [("PUSHS" if batch else "PUSH") + f" {metric}"]
    if tags:
        parts.append("TAGGED (" + ", ".join(
            f'{k}="{v}"' for k, v in tags.items()) + ")")
    parts.append("SET (" + ", ".join(fparts) + ")")
    ts = draw(st.one_of(st.none(), st.integers(0, 2**61)))
    if ts is not None:
        parts.append(f"AT {ts}")
    return " ".join(parts) + ";", metric, tags, fields, ts, batch


@given(stmt=_push_stmt())
@settings(max_examples=200, deadline=None)
def test_push_grammar_directed_roundtrip(stmt):
    text, metric, tags, fields, ts, batch = stmt
    p = parse(text)
    assert isinstance(p, A.PushStatement)
    assert (p.metric, p.tags, p.fields, p.timestamp, p.batch) == (
        metric, tags, fields, ts, batch)


@given(stmt=_query_stmt(), data=st.data())
@settings(max_examples=300, deadline=None)
def test_mutated_statement_never_crashes(stmt, data):
    """Deep-grammar robustness: take a VALID statement and drop,
    duplicate, or swap one token — the parser must still either parse it
    or raise NBQLError, never anything else. This is the fuzzer that
    reaches states like 'SLIDE 0s' (raw-text fuzz cannot)."""
    toks = stmt[0].replace(";", "").split()
    op = data.draw(st.sampled_from(["drop", "dup", "swap", "zero_dur"]))
    i = data.draw(st.integers(0, max(0, len(toks) - 1)))
    if op == "drop":
        toks = toks[:i] + toks[i + 1:]
    elif op == "dup":
        toks = toks[:i] + [toks[i]] + toks[i:]
    elif op == "swap" and len(toks) >= 2:
        j = data.draw(st.integers(0, len(toks) - 1))
        toks[i], toks[j] = toks[j], toks[i]
    elif op == "zero_dur":
        toks = [("0s" if t and t[0].isdigit() and t[-1].isalpha() else t)
                for t in toks]
    try:
        parse(" ".join(toks))
    except NBQLError:
        pass


def test_zero_slide_and_zero_interval_are_nbql_errors():
    """Regression: '0s' is lexically valid and parses to 0ns; SLIDE 0s
    used to raise ZeroDivisionError from the divisibility check, and
    AGGREGATE BY 0s produced a degenerate window spec."""
    with pytest.raises(NBQLError):
        parse("QUERY m AGGREGATE BY 1m SLIDE 0s (count(*))")
    with pytest.raises(NBQLError):
        parse("QUERY m AGGREGATE BY 0s (count(*))")
    with pytest.raises(NBQLError):
        parse("QUERY m AGGREGATE BY 1m SLIDE 0ms (avg(lat))")


def test_sort_requires_direction_and_limit_nonnegative():
    """Regression: SORT <garbage> silently meant ASC; LIMIT -5 flowed
    through to the planner (Spark rejects negative limits with a
    non-NBQL error)."""
    with pytest.raises(NBQLError):
        parse("QUERY m SORT banana")
    with pytest.raises(NBQLError):
        parse("QUERY m LIMIT -5")
    assert parse("QUERY m SORT ASC").sort_desc is False
    assert parse("QUERY m SORT DESC").sort_desc is True
    assert parse("QUERY m LIMIT 0").limit == 0


@given(v=st.text(max_size=20))
@settings(max_examples=300, deadline=None)
def test_param_string_value_roundtrips_through_quoting(v):
    """Any string parameter survives substitute_params' escaping and the
    parser's unquoting byte-for-byte (quotes, backslashes, unicode)."""
    q = parse(substitute_params("QUERY m TAGGED (k=?)", (v,)))
    assert q.tags["k"] == v


# ---------------------------------------------------------------------------
# Differential property tests for the core §2.5b windowing operators: the
# Spark downsample (tumbling and hopping) vs a brute-force pure-Python model
# of the documented semantics (epoch alignment, per-series grouping,
# NaN-keep with NaN-blind min/max, emit-empty zero/NaN fills, hopping
# membership (t - size, t]). The fixed-parameter oracle gates pin three
# (interval, range) points; these sweep the parameter space randomly.

_VALS = st.one_of(
    st.none(),
    st.sampled_from([float("nan"), float("inf"), float("-inf")]),
    st.integers(-50, 50).map(float),
)


def _model_aggs(vals):
    """(count, sum, avg, min, max) of one window's values under the
    DOWNSAMPLER's documented fidelity: count() counts non-null (NaN/Inf
    included); sum/avg keep NaN (poisoned) and are 0.0/NaN on empty;
    min/max are NaN-blind but Inf-comparable, NaN on no candidate."""
    nn = [v for v in vals if v is not None]
    cnt = float(len(nn))
    s = sum(nn) if nn else 0.0
    a = s / len(nn) if nn else float("nan")
    cmp_ = [v for v in nn if not math.isnan(v)]
    mn = min(cmp_) if cmp_ else float("nan")
    mx = max(cmp_) if cmp_ else float("nan")
    return cnt, s, a, mn, mx


def _feq(x, y):
    return (math.isnan(x) and math.isnan(y)) or x == y


def _points_df(spark, pts):
    from nexusbase_spark.datamodel import series_key_expr
    rows = [("m", {"h": str(h)}, int(ts), i, v)
            for i, (h, ts, v) in enumerate(pts)]
    return spark.createDataFrame(
        rows,
        "metric string, tags map<string,string>, ts long, seq long, "
        "value double").withColumn(
            "series_key", series_key_expr(F.col("metric"), F.col("tags")))


@pytest.mark.slow
@given(data=st.data())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.nightly
def test_downsample_matches_bruteforce_model(spark, data):
    """For ANY point set / interval / query range: the tumbling
    downsample equals the brute-force model — row universe (per-series
    non-empty windows; with emit_empty the full series x grid product
    from the RANGE-UNFILTERED universe), epoch alignment, window_end,
    and count/sum/avg/min/max under the NaN-keep fidelity rules."""
    from nexusbase_spark.functions.fidelity import AggSpec
    from nexusbase_spark.operators import downsample
    from nexusbase_spark.operators.downsample import align

    pts = data.draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 149), _VALS),
        min_size=1, max_size=40))
    interval = data.draw(st.sampled_from([7, 10, 64]))
    emit_empty = data.draw(st.booleans())
    df = _points_df(spark, pts)
    specs = [AggSpec("count", "value"), AggSpec("sum", "value"),
             AggSpec("avg", "value"), AggSpec("min", "value"),
             AggSpec("max", "value")]

    if emit_empty:
        q_start = data.draw(st.integers(0, 100))
        q_end = data.draw(st.integers(q_start + 1, 160))
        sel = [p for p in pts if q_start <= p[1] <= q_end]  # §2.3 inclusive
        fdf = df.filter((F.col("ts") >= q_start) & (F.col("ts") <= q_end))
        out = downsample(fdf, interval, specs, emit_empty=True,
                         q_start=q_start, q_end=q_end, series_universe=df)
        first = align(q_start, interval)
        last = q_end - 1 - ((q_end - 1 - first) % interval)
        grid = range(first, last + 1, interval)
        universe = {h for h, _, _ in pts}  # range-INDEPENDENT resolution
        expect_keys = {(h, w) for h in universe for w in grid}
        # points at an aligned q_end fall in window q_end, outside the
        # grid (windows enumerate while start < q_end) — dropped by the
        # grid join, like the reference's window loop never opens it
        sel = [p for p in sel if align(p[1], interval) <= last]
    else:
        sel = pts
        out = downsample(df, interval, specs)
        expect_keys = {(h, align(ts, interval)) for h, ts, _ in pts}

    by_key: dict = {k: [] for k in expect_keys}
    for h, ts, v in sel:
        by_key[(h, align(ts, interval))].append(v)

    got = out.collect()
    got_keys = {(int(r["tags"]["h"]), r["window_start"]) for r in got}
    assert got_keys == expect_keys
    assert len(got) == len(expect_keys)
    for r in got:
        k = (int(r["tags"]["h"]), r["window_start"])
        cnt, s, a, mn, mx = _model_aggs(by_key[k])
        assert r["window_end"] == r["window_start"] + interval
        assert float(r["count_value"]) == cnt, (k, r)
        assert _feq(r["sum_value"], s), (k, r)
        assert _feq(r["avg_value"], a), (k, r)
        assert _feq(r["min_value"], mn), (k, r)
        assert _feq(r["max_value"], mx), (k, r)


@pytest.mark.slow
@given(data=st.data())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_downsample_hopping_matches_bruteforce_model(spark, data):
    """For ANY point set / (size, slide): each point lands in exactly the
    slide-aligned starts in (t - size, t], windows carry window_end =
    start + size, and the per-window aggregates follow the same model as
    the tumbling operator. With slide == size the output equals the
    tumbling downsample row-for-row."""
    from nexusbase_spark.functions.fidelity import AggSpec
    from nexusbase_spark.operators import downsample

    pts = data.draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 149), _VALS),
        min_size=1, max_size=30))
    slide = data.draw(st.sampled_from([5, 7]))
    k = data.draw(st.sampled_from([1, 2, 3]))
    size = slide * k
    df = _points_df(spark, pts)
    specs = [AggSpec("count", "value"), AggSpec("sum", "value"),
             AggSpec("min", "value"), AggSpec("max", "value")]
    out = downsample(df, size, specs, slide=slide).collect()

    by_key: dict = {}
    for h, ts, v in pts:
        lo = ts - size - ((ts - size) % slide) + slide  # floored mod: >= 0 here? ts-size may be negative
        hi = ts - (ts % slide)
        w = lo
        while w <= hi:
            by_key.setdefault((h, w), []).append(v)
            w += slide

    got_keys = {(int(r["tags"]["h"]), r["window_start"]) for r in out}
    assert got_keys == set(by_key)
    for r in out:
        key = (int(r["tags"]["h"]), r["window_start"])
        cnt, s, _a, mn, mx = _model_aggs(by_key[key])
        assert r["window_end"] == r["window_start"] + size
        assert float(r["count_value"]) == cnt, (key, r)
        assert _feq(r["sum_value"], s), (key, r)
        assert _feq(r["min_value"], mn), (key, r)
        assert _feq(r["max_value"], mx), (key, r)

    if k == 1:  # degenerate hop == tumbling
        tout = downsample(df, size, specs).collect()
        t_keys = {(int(r["tags"]["h"]), r["window_start"]) for r in tout}
        assert t_keys == got_keys


@pytest.mark.slow
@given(data=st.data())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.nightly
def test_final_aggregate_matches_bruteforce_model(spark, data):
    """For ANY point set (ts collisions, seq ties across/within series,
    None/NaN/±Inf values): final aggregation equals the brute-force model
    of aggregator.go — NaN/±Inf inputs SKIPPED (unlike the downsampler),
    count() counting all non-null, and first/last/frac resolved in global
    stream order (ts asc, series_key asc, seq DESC): among exact ties
    'first' takes the HIGHEST seq and 'last' the LOWEST, the heap's
    iteration order."""
    from nexusbase_spark.functions.fidelity import AggSpec
    from nexusbase_spark.operators import final_aggregate

    pts = data.draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 9), _VALS),
        min_size=1, max_size=25))
    # adversarial seqs: drawn (not enumerate()) so duplicates across
    # series and collisions with ts happen
    seqs = data.draw(st.lists(st.integers(0, 6), min_size=len(pts),
                              max_size=len(pts)))
    from nexusbase_spark.datamodel import series_key_expr
    rows = [("m", {"h": str(h)}, int(ts), int(sq), v)
            for (h, ts, v), sq in zip(pts, seqs)]
    df = spark.createDataFrame(
        rows,
        "metric string, tags map<string,string>, ts long, seq long, "
        "value double").withColumn(
            "series_key", series_key_expr(F.col("metric"), F.col("tags")))
    specs = [AggSpec("count", "*"), AggSpec("count", "value"),
             AggSpec("sum", "value"), AggSpec("avg", "value"),
             AggSpec("min", "value"), AggSpec("max", "value"),
             AggSpec("first", "value"), AggSpec("last", "value"),
             AggSpec("frac", "value")]
    r = final_aggregate(df, specs).collect()[0]

    fin = [(f"m|h={h}", ts, sq, v)
           for (h, ts, v), sq in zip(pts, seqs)
           if v is not None and math.isfinite(v)]
    nn = sum(1 for (_h, _t, v) in pts if v is not None)
    assert r["count_*"] == len(pts)
    assert r["count_value"] == nn
    vals = [v for (_k, _t, _s, v) in fin]
    assert _feq(r["sum_value"], sum(vals) if vals else 0.0)
    assert _feq(r["avg_value"], sum(vals) / len(vals) if vals
                else float("nan"))
    assert _feq(r["min_value"], min(vals) if vals else float("nan"))
    assert _feq(r["max_value"], max(vals) if vals else float("nan"))
    if fin:
        first = min(fin, key=lambda e: (e[1], e[0], -e[2]))[3]
        last = max(fin, key=lambda e: (e[1], e[0], -e[2]))[3]
    else:
        first = last = float("nan")
    assert _feq(r["first_value"], first)
    assert _feq(r["last_value"], last)
    if len(vals) < 2:
        frac = float("nan")
    elif first == 0.0:
        frac = 0.0 if last == 0.0 else math.copysign(float("inf"), last)
    else:
        frac = (last - first) / first
    assert _feq(r["frac_value"], frac)


# --------------------------------------------- execution-level grammar fuzz
# The grammar-directed fuzz above stops at the PARSER; this drives drawn
# statements through engine.execute against real data. Contract: a
# grammar-valid QUERY either returns rows or raises NBQLError — never an
# AnalysisException / Py4J error / arithmetic crash from the planner — and
# an enforced LIMIT is honored. (The round-6 SLIDE-0 ZeroDivisionError
# lived exactly in this gap: parsed fine, crashed at plan time.)


@pytest.fixture(scope="module")
def fuzz_engine(spark, tmp_path_factory):
    from nexusbase_spark.engine import NexusEngine

    eng = NexusEngine(spark, str(tmp_path_factory.mktemp("fuzz_wh")))
    base = 1_700_000_040 * 1_000_000_000  # not minute-aligned
    rows = []
    for i in range(40):
        svc = "a" if i % 3 else "b"
        rows.append(("fz.m", {"service": svc},
                     {"lat": float((i * 7) % 23)},
                     base + i * 13_000_000_000))
    eng.put_batch(rows)
    return eng


@st.composite
def _exec_query_stmt(draw):
    """A grammar-valid QUERY against the fuzz_engine's data domain."""
    base = 1_700_000_040 * 1_000_000_000
    parts = ["QUERY fz.m"]
    rng = draw(st.sampled_from(["abs", "rel", "none"]))
    has_range = rng != "none"
    if rng == "abs":
        a = base + draw(st.integers(-2, 600)) * 1_000_000_000
        b = a + draw(st.integers(1, 700)) * 1_000_000_000
        parts.append(f"FROM {a} TO {b}")
    elif rng == "rel":
        parts.append(f"FROM RELATIVE({draw(st.integers(1, 600))}s)")
    tag = draw(st.sampled_from([None, ("service", "=", "a"),
                                ("service", "=", "zzz"),
                                ("service", "!=", "b"),
                                ("service", "=~", "a|b"),
                                ("service", "!~", "a"),
                                # invalid patterns must reject as
                                # NBQLError, not abort the Spark job
                                ("service", "=~", "a(b"),
                                ("service", "!~", "*x")]))
    if tag:
        k, op, v = tag
        kv = f'{k}="{v}"' if op == "=" else f'{k}{op}"{v}"'
        parts.append(f"TAGGED ({kv})")
    lim = None
    if draw(st.booleans()):
        funcs = draw(st.lists(
            st.sampled_from(["count", "sum", "avg", "min", "max", "first",
                             "last", "frac", "stddev", "p50", "p99.9"]),
            min_size=1, max_size=3))
        spec = ", ".join(f"{f}(lat)" for f in funcs)
        clause = "AGGREGATE "
        by = draw(st.booleans())
        if by:
            a = draw(st.integers(1, 90))
            k = draw(st.integers(1, 3))
            unit = draw(st.sampled_from(["s", "m"]))
            clause += f"BY {a * k}{unit} "
            if draw(st.booleans()):
                clause += f"SLIDE {a}{unit} "
        parts.append(clause + f"({spec})")
        if by and has_range and draw(st.booleans()):
            parts.append("EMIT EMPTY WINDOWS")
            fill = draw(st.sampled_from([None, "PREVIOUS", "LINEAR", "7"]))
            if fill:
                parts.append(f"FILL {fill}")
    if draw(st.booleans()):
        parts.append(draw(st.sampled_from(["ASC", "DESC"])))
    if draw(st.booleans()):
        lim = draw(st.integers(1, 50))
        parts.append(f"LIMIT {lim}")
    if draw(st.booleans()):
        # garbage or valid cursors: malformed ones must reject as
        # NBQLError, never leak binascii/JSON/Unicode errors (found here)
        from nexusbase_spark.operators.order import encode_cursor
        cur = draw(st.one_of(
            st.text(string.ascii_letters + string.digits + "+/=",
                    max_size=12),
            st.just(encode_cursor(1_700_000_040_000_000_000,
                                  "fz.m|service=a", 3))))
        parts.append(f'AFTER "{cur}"')
    return " ".join(parts) + ";", lim


@pytest.mark.slow
@given(stmt=_exec_query_stmt())
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.nightly
def test_grammar_valid_queries_execute_totally(fuzz_engine, stmt):
    text, lim = stmt
    try:
        df = fuzz_engine.execute(text)
        rows = df.collect()
    except NBQLError:
        return  # documented semantic rejection is allowed; crashes aren't
    if lim is not None:
        assert len(rows) <= lim, text
