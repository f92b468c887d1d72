"""NBQL recursive-descent parser.

Grammar reconstructed from the reference's usage sites (see ast.py):

    PUSH <metric> [TAGGED (k=v, ...)] SET (f=lit, ...) [AT <ts>] ;
    PUSHS ... (same shape, batch flag)
    QUERY <metric>
        [FROM <ts> TO <ts> | FROM RELATIVE(<dur>)]
        [TAGGED (k=v, ...)]
        [AGGREGATE [BY <interval>] (func(field) [AS alias], ...)]
        [EMIT EMPTY WINDOWS] [SORT ASC|DESC] [LIMIT n] [AFTER '<cursor>'] ;
    REMOVE SERIES "<m>" [TAGGED (...)] ;
    REMOVE FROM "<m>" [TAGGED (...)] AT <ts> ;
    REMOVE FROM "<m>" [TAGGED (...)] FROM <a> TO <b> ;
    SHOW METRICS ; SHOW TAG KEYS FROM <m> ;
    SHOW TAG VALUES [FROM <m>] WITH KEY = <k> ;
    FLUSH [MEMTABLE|DISK|ALL] ; SNAPSHOT ;
    RESTORE FROM '<path>' [WITH OVERWRITE] ;
    VERIFY ROLLUP <name> [SAMPLE <n>] ;   (extension: recompute audit)
    EXPLAIN <QUERY ...|SHOW ...> ;   (extension: physical-plan rows)

Keywords marked "inferred" in SURVEY.md §2.12 (sort order, EMIT EMPTY
WINDOWS, AFTER) use the AST field names as spelling. Durations use Go
``time.ParseDuration`` syntax (``1m``, ``1h30m``, ``500ms`` —
engine2/adapter.go:1237,1367). Timestamp literals pass through as int64
nanoseconds. ``?`` placeholders substitute client-side with quoting, like
clients/nbql/python/nbql/client.py:60-79.
"""

from __future__ import annotations

import re

from nexusbase_spark.nbql.ast import (
    AggSpec,
    CreateRollupStatement,
    ExplainStatement,
    FlushStatement,
    PushStatement,
    QueryRollupStatement,
    QueryStatement,
    RefreshRollupStatement,
    RemoveStatement,
    RestoreStatement,
    ShowStatement,
    SnapshotStatement,
    Statement,
    VerifyRollupStatement,
)

_TOKEN_RE = re.compile(
    r"""
    \s*(
        "(?:[^"\\]|\\.)*"            # double-quoted string
      | '(?:[^'\\]|\\.)*'            # single-quoted string
      | -?\d+\.\d+(?:[eE][+-]?\d+)?  # float
      | -?\d+[a-zA-Z][\w]*           # duration like 1m, 1h30m (starts numeric)
      | -?\d+                        # int
      | [\w.À-￿:*]+        # ident / keyword / metric name / wildcard
      | !=|=~|!~                     # tag matcher operators (extension)
      | [(),=;?]                     # punctuation
    )""",
    re.VERBOSE,
)

_DUR_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d)")
_DUR_NS = {"ns": 1, "us": 1_000, "µs": 1_000, "ms": 1_000_000,
           "s": 1_000_000_000, "m": 60_000_000_000, "h": 3_600_000_000_000,
           "d": 86_400_000_000_000}


class NBQLError(ValueError):
    pass


def parse_duration(s: str) -> int:
    """Go time.ParseDuration subset -> nanoseconds ('1m', '1h30m', '500ms')."""
    pos = 0
    total = 0.0
    for m in _DUR_RE.finditer(s):
        if m.start() != pos:
            raise NBQLError(f"invalid duration: {s!r}")
        total += float(m.group(1)) * _DUR_NS[m.group(2)]
        pos = m.end()
    if pos != len(s) or pos == 0:
        raise NBQLError(f"invalid duration: {s!r}")
    return int(total)


def substitute_params(query: str, params: tuple | list) -> str:
    """Client-side ? substitution with quoting
    (clients/nbql/python/nbql/client.py:60-79)."""
    parts = query.split("?")
    if len(parts) - 1 != len(params):
        raise NBQLError(f"expected {len(parts) - 1} params, got {len(params)}")
    out = [parts[0]]
    for val, rest in zip(params, parts[1:]):
        if isinstance(val, bool):
            out.append("TRUE" if val else "FALSE")
        elif isinstance(val, (int, float)):
            out.append(str(val))
        else:
            out.append('"' + str(val).replace("\\", "\\\\").replace('"', '\\"') + '"')
        out.append(rest)
    return "".join(out)


class _Tokens:
    def __init__(self, text: str):
        self.toks: list[str] = []
        pos = 0
        stripped = text.strip()
        for m in _TOKEN_RE.finditer(stripped):
            if stripped[pos:m.start()].strip():
                raise NBQLError(f"unexpected input at {stripped[pos:m.start()]!r}")
            self.toks.append(m.group(1))
            pos = m.end()
        if stripped[pos:].strip():
            raise NBQLError(f"unexpected trailing input: {stripped[pos:]!r}")
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise NBQLError("unexpected end of statement")
        self.i += 1
        return t

    def accept(self, *kw: str) -> bool:
        t = self.peek()
        if t is not None and t.upper() in kw:
            self.i += 1
            return True
        return False

    def expect(self, kw: str) -> None:
        t = self.next()
        if t.upper() != kw:
            raise NBQLError(f"expected {kw}, got {t!r}")

    def done(self) -> bool:
        return self.peek() is None


def _unquote(tok: str) -> str:
    if len(tok) >= 2 and tok[0] in "\"'" and tok[-1] == tok[0]:
        body = tok[1:-1]
        return body.replace('\\"', '"').replace("\\'", "'").replace("\\\\", "\\")
    return tok


def _is_quoted(tok: str) -> bool:
    return len(tok) >= 2 and tok[0] in "\"'" and tok[-1] == tok[0]


_INT_RE = re.compile(r"^-?\d+$")
# dot form (1.5, 1.5e3) or exponent-only form (2e5): both are numbers a
# Go-style scanner reaches via ParseFloat after ParseInt fails
_FLOAT_RE = re.compile(r"^-?\d+(?:\.\d+(?:[eE][+-]?\d+)?|[eE][+-]?\d+)$")


def _literal(tok: str):
    """Typed literal per core/fields.go:15-21: float/int/string/bool.
    Integer literals outside int64 raise (strconv.ParseInt errors out of
    range the same way; previously the unbounded Python int crashed the
    put path with a raw PySpark VALUE_OUT_OF_BOUNDS — found by PUSH edge
    probing). Exponent floats may overflow to ±Inf, which the value
    model stores."""
    if _is_quoted(tok):
        return _unquote(tok)
    up = tok.upper()
    if up == "TRUE":
        return True
    if up == "FALSE":
        return False
    if _INT_RE.match(tok):
        v = int(tok)
        if not -(2 ** 63) <= v < 2 ** 63:
            raise NBQLError(f"integer literal out of int64 range: {tok}")
        return v
    if _FLOAT_RE.match(tok):
        return float(tok)
    return tok  # bare word -> string


def _kv_list(t: _Tokens, typed: bool) -> dict:
    """(k=v, k=v, ...) — tag values are strings, field values are typed."""
    t.expect("(")
    out: dict = {}
    while True:
        k = _unquote(t.next())
        t.expect("=")
        v = t.next()
        out[k] = _literal(v) if typed else str(_literal(v))
        if t.accept(")"):
            return out
        t.expect(",")


def _tag_matcher_list(t: _Tokens) -> tuple[dict, list]:
    """(k=v, k!=v, k=~"re", k!~"re", ...) for QUERY's TAGGED clause —
    extension over the reference grammar (conjunctive equality ONLY,
    SURVEY.md §2.3): InfluxQL-style matchers. Equality pairs keep riding
    the tag-index fast path; matchers become scan-side predicates."""
    t.expect("(")
    tags: dict = {}
    matchers: list = []
    while True:
        k = _unquote(t.next())
        op = t.next()
        if op == "=":
            tags[k] = str(_literal(t.next()))
        elif op in ("!=", "=~", "!~"):
            matchers.append((k, op, str(_literal(t.next()))))
        else:
            raise NBQLError(f"expected tag operator, got {op!r}")
        if t.accept(")"):
            return tags, matchers
        t.expect(",")


def _int_tok(t: _Tokens) -> int:
    tok = t.next()
    if not _INT_RE.match(tok):
        raise NBQLError(f"expected integer, got {tok!r}")
    return int(tok)


def parse(text: str) -> Statement:
    # strip one trailing semicolon
    text = text.strip()
    if text.endswith(";"):
        text = text[:-1]
    t = _Tokens(text)
    head = t.next().upper()
    if head == "EXPLAIN":
        inner = parse(text[len("EXPLAIN"):].lstrip())
        if not isinstance(inner, (QueryStatement, QueryRollupStatement,
                                  ShowStatement)):
            raise NBQLError("EXPLAIN requires a QUERY/SHOW statement")
        return ExplainStatement(inner)
    if head in ("PUSH", "PUSHS"):
        return _parse_push(t, batch=head == "PUSHS")
    if head == "QUERY":
        if t.accept("ROLLUP"):
            return _parse_query_rollup(t)
        return _parse_query(t)
    if head == "CREATE":
        # grammar extension: CREATE ROLLUP <name> ON <metric>
        # AGGREGATE BY <interval> (func(field), ...)
        t.expect("ROLLUP")
        name = _unquote(t.next())
        t.expect("ON")
        metric = _unquote(t.next())
        t.expect("AGGREGATE")
        t.expect("BY")
        interval = parse_duration(t.next())
        aggs = _parse_agg_list(t)
        if not aggs:
            raise NBQLError("CREATE ROLLUP requires an aggregate list")
        return CreateRollupStatement(name, metric, interval, aggs)
    if head == "REFRESH":
        t.expect("ROLLUP")
        return RefreshRollupStatement(_unquote(t.next()))
    if head == "VERIFY":
        t.expect("ROLLUP")
        name = _unquote(t.next())
        sample = None
        if t.accept("SAMPLE"):
            sample = _int_tok(t)
        return VerifyRollupStatement(name, sample)
    if head == "REMOVE":
        return _parse_remove(t)
    if head == "SHOW":
        return _parse_show(t)
    if head == "FLUSH":
        target = t.next().lower() if not t.done() else "all"
        if target not in ("memtable", "disk", "all"):
            raise NBQLError(f"invalid FLUSH target {target!r}")
        return FlushStatement(target)
    if head == "SNAPSHOT":
        return SnapshotStatement()
    if head == "RESTORE":
        t.expect("FROM")
        path = _unquote(t.next())
        overwrite = False
        if t.accept("WITH"):
            t.expect("OVERWRITE")
            overwrite = True
        return RestoreStatement(path, overwrite)
    raise NBQLError(f"unknown statement: {head}")


def _parse_query_rollup(t: _Tokens) -> QueryRollupStatement:
    q = QueryRollupStatement(_unquote(t.next()))
    while not t.done():
        if t.accept("FROM"):
            q.start = _int_tok(t)
            t.expect("TO")
            q.end = _int_tok(t)
        else:
            raise NBQLError(f"unexpected token {t.peek()!r} in QUERY ROLLUP")
    return q


def _parse_push(t: _Tokens, batch: bool) -> PushStatement:
    metric = _unquote(t.next())
    tags: dict[str, str] = {}
    fields: dict[str, object] = {}
    ts = None
    while not t.done():
        if t.accept("TAGGED"):
            tags = _kv_list(t, typed=False)
        elif t.accept("SET"):
            fields = _kv_list(t, typed=True)
        elif t.accept("AT"):
            ts = _int_tok(t)
        else:
            raise NBQLError(f"unexpected token {t.peek()!r} in PUSH")
    if not fields:
        raise NBQLError("PUSH requires SET (...)")
    return PushStatement(metric, tags, fields, ts, batch)


_AGG_FUNC_RE = re.compile(r"^(count|sum|avg|min|max|first|last|frac|stddev|p\d+(?:\.\d+)?)$", re.I)


def _parse_agg_list(t: _Tokens) -> list[AggSpec]:
    t.expect("(")
    specs: list[AggSpec] = []
    while True:
        func = t.next().lower()
        if not _AGG_FUNC_RE.match(func):
            raise NBQLError(f"unknown aggregate function {func!r}")
        t.expect("(")
        fld = "*" if t.accept("*") else _unquote(t.next())
        if fld == "*" and func != "count":
            raise NBQLError("only count(*) is allowed")
        t.expect(")")
        alias = None
        if t.accept("AS"):
            alias = _unquote(t.next())
        specs.append(AggSpec(func, fld, alias))
        if t.accept(")"):
            return specs
        t.expect(",")


def _parse_query(t: _Tokens) -> QueryStatement:
    q = QueryStatement(metric=_unquote(t.next()))
    while not t.done():
        if t.accept("FROM"):
            tok = t.next()
            if tok.upper() == "RELATIVE":
                t.expect("(")
                q.relative = parse_duration(t.next())
                t.expect(")")
            else:
                if not _INT_RE.match(tok):
                    raise NBQLError(f"expected timestamp, got {tok!r}")
                q.start = int(tok)
                t.expect("TO")
                q.end = _int_tok(t)
        elif t.accept("TAGGED"):
            q.tags, q.tag_matchers = _tag_matcher_list(t)
        elif t.accept("AGGREGATE"):
            if t.accept("BY"):
                q.downsample_interval = parse_duration(t.next())
                # extension over the reference grammar: hopping windows
                # (AGGREGATE BY <size> SLIDE <slide>); slide must divide size
                if t.accept("SLIDE"):
                    q.downsample_slide = parse_duration(t.next())
            q.aggregations = _parse_agg_list(t)
        elif t.accept("EMIT"):
            t.expect("EMPTY")
            t.expect("WINDOWS")
            q.emit_empty_windows = True
        elif t.accept("FILL"):
            # extension over the reference grammar (InfluxQL-style):
            # PREVIOUS carries the prior window's value into empty
            # windows; LINEAR interpolates between the surrounding ones
            if t.accept("PREVIOUS"):
                q.fill_previous = True
            elif t.accept("LINEAR"):
                q.fill_linear = True
            else:
                tok = t.peek()
                if tok is not None and (_INT_RE.match(tok) or _FLOAT_RE.match(tok)):
                    q.fill_value = float(t.next())
                else:
                    raise NBQLError("FILL expects PREVIOUS, LINEAR, or a number")
        elif t.accept("SORT"):
            d = t.next().upper()
            if d not in ("ASC", "DESC"):
                raise NBQLError(f"SORT expects ASC or DESC, got {d!r}")
            q.sort_desc = d == "DESC"
        elif t.accept("ASC"):
            q.sort_desc = False
        elif t.accept("DESC"):
            q.sort_desc = True
        elif t.accept("LIMIT"):
            q.limit = _int_tok(t)
        elif t.accept("AFTER"):
            q.after_cursor = _unquote(t.next())
        else:
            raise NBQLError(f"unexpected token {t.peek()!r} in QUERY")
    if q.emit_empty_windows and q.downsample_interval is None:
        raise NBQLError("EMIT EMPTY WINDOWS requires AGGREGATE BY")
    # durations like '0s' are lexically valid and parse to 0 — reject them
    # here so a zero window/slide is an NBQLError, not a downstream
    # ZeroDivisionError (the modulo below) or a degenerate window spec
    if q.downsample_interval is not None and q.downsample_interval <= 0:
        raise NBQLError("AGGREGATE BY requires a positive interval")
    if q.downsample_slide is not None:
        if q.downsample_slide <= 0:
            raise NBQLError("SLIDE requires a positive duration")
        if q.downsample_interval % q.downsample_slide:
            raise NBQLError("SLIDE must divide the window size")
    if q.limit is not None and q.limit < 0:
        raise NBQLError("LIMIT must be non-negative")
    fills = sum([q.fill_previous, q.fill_linear, q.fill_value is not None])
    if fills and not q.emit_empty_windows:
        raise NBQLError("FILL requires EMIT EMPTY WINDOWS")
    if fills > 1:
        raise NBQLError("only one FILL mode may be given")
    return q


def _parse_remove(t: _Tokens) -> RemoveStatement:
    if t.accept("SERIES"):
        metric = _unquote(t.next())
        tags = _kv_list(t, typed=False) if t.accept("TAGGED") else {}
        return RemoveStatement(metric, tags, kind="series")
    t.expect("FROM")
    metric = _unquote(t.next())
    tags = _kv_list(t, typed=False) if t.accept("TAGGED") else {}
    if t.accept("AT"):
        return RemoveStatement(metric, tags, kind="point", at=_int_tok(t))
    t.expect("FROM")
    start = _int_tok(t)
    t.expect("TO")
    end = _int_tok(t)
    return RemoveStatement(metric, tags, kind="range", start=start, end=end)


def _parse_show(t: _Tokens) -> ShowStatement:
    what = t.next().upper()
    if what == "METRICS":
        return ShowStatement("metrics")
    if what == "ROLLUPS":
        # extension, paired with CREATE/REFRESH/QUERY ROLLUP
        return ShowStatement("rollups")
    if what == "SNAPSHOTS":
        # extension: the snapshot-util inventory over the wire
        return ShowStatement("snapshots")
    if what == "STATS":
        # extension: per-metric warehouse statistics
        metric = None
        if t.accept("FROM"):
            metric = _unquote(t.next())
        return ShowStatement("stats", metric=metric)
    if what == "FIELD":
        # extension (InfluxQL SHOW FIELD KEYS): field names + vtypes
        t.expect("KEYS")
        metric = None
        if t.accept("FROM"):
            metric = _unquote(t.next())
        return ShowStatement("field_keys", metric=metric)
    if what == "TAG":
        sub = t.next().upper()
        if sub == "KEYS":
            t.expect("FROM")
            return ShowStatement("tag_keys", metric=_unquote(t.next()))
        if sub == "VALUES":
            metric = None
            if t.accept("FROM"):
                metric = _unquote(t.next())
            t.expect("WITH")
            t.expect("KEY")
            t.expect("=")
            return ShowStatement("tag_values", metric=metric, key=_unquote(t.next()))
    raise NBQLError(f"unknown SHOW form: {what}")
