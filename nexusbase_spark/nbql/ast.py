"""NBQL AST.

The reference's parser lives in a missing submodule (SURVEY.md caveat:
``go.mod:34`` replaces ``github.com/INLOpen/nexuscore`` with an empty
directory), so the statement shapes here are reconstructed from every usage
site: the executor's AST consumption (``api/nbql/executor.go:29-50``),
query strings in tests and client examples (``cmd/testparser/main.go:4``,
``clients/nbql/golang/example/main.go:88``,
``clients/nbql/python/tests/test_client.py:88``,
``api/nbql/executor_e2e_test.go:136-282``, ``server/nbql_flush_test.go``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from nexusbase_spark.functions.fidelity import AggSpec


@dataclass
class PushStatement:
    metric: str
    tags: dict[str, str] = field(default_factory=dict)
    fields: dict[str, object] = field(default_factory=dict)  # typed literals
    timestamp: int | None = None     # ns; None -> now (executor.go:85-88)
    batch: bool = False              # PUSHS


@dataclass
class QueryStatement:
    metric: str
    start: int | None = None         # ns, inclusive
    end: int | None = None           # ns, inclusive
    relative: int | None = None      # ns duration (FROM RELATIVE(dur))
    tags: dict[str, str] = field(default_factory=dict)
    # non-equality tag matchers (extension): (key, op, value) with op in
    # {"!=", "=~", "!~"} — InfluxQL-style; reference grammar has = only
    tag_matchers: list[tuple[str, str, str]] = field(default_factory=list)
    aggregations: list[AggSpec] = field(default_factory=list)
    downsample_interval: int | None = None   # ns (AGGREGATE BY <interval>)
    downsample_slide: int | None = None      # ns (… BY <size> SLIDE <slide>) — hopping windows
    emit_empty_windows: bool = False
    fill_previous: bool = False      # FILL PREVIOUS — LOCF over empty-window NaNs
    fill_linear: bool = False        # FILL LINEAR — interpolate empty-window NaNs
    fill_value: float | None = None  # FILL <const> — constant into empty-window NaNs
    limit: int | None = None
    sort_desc: bool = False
    after_cursor: str | None = None  # base64 keyset cursor


@dataclass
class RemoveStatement:
    metric: str
    tags: dict[str, str] = field(default_factory=dict)
    kind: str = "series"             # series | point | range
    at: int | None = None            # point delete ts
    start: int | None = None         # range delete
    end: int | None = None


@dataclass
class ShowStatement:
    what: str                        # metrics | tag_keys | tag_values
    metric: str | None = None
    key: str | None = None


@dataclass
class FlushStatement:
    target: str = "all"              # memtable | disk | all


@dataclass
class SnapshotStatement:
    pass


@dataclass
class RestoreStatement:
    path: str
    overwrite: bool = False


@dataclass
class CreateRollupStatement:
    """CREATE ROLLUP <name> ON <metric> AGGREGATE BY <interval> (aggs)
    — grammar extension: materialized continuous aggregate (the
    reference recomputes every AGGREGATE BY at query time)."""
    name: str
    metric: str
    interval: int                    # ns
    aggregations: list[AggSpec] = field(default_factory=list)


@dataclass
class RefreshRollupStatement:
    name: str


@dataclass
class QueryRollupStatement:
    """QUERY ROLLUP <name> [FROM <ts> TO <ts>] — read the materialized
    windows (inclusive window_start range)."""
    name: str
    start: int | None = None
    end: int | None = None


@dataclass
class VerifyRollupStatement:
    """VERIFY ROLLUP <name> [SAMPLE <n>] — sampled recompute audit
    (grammar extension; engine.verify_rollup)."""
    name: str
    sample_days: int | None = None


@dataclass
class ExplainStatement:
    """EXPLAIN <QUERY ...> (grammar extension — the reference has no plan
    introspection; an engine whose physical strategy is Catalyst's NEEDS
    one). Wraps any DataFrame-producing statement."""
    inner: "Statement"


Statement = (
    PushStatement | QueryStatement | RemoveStatement | ShowStatement
    | FlushStatement | SnapshotStatement | RestoreStatement
    | CreateRollupStatement | RefreshRollupStatement | QueryRollupStatement
    | ExplainStatement | VerifyRollupStatement
)
