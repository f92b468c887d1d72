"""Query-result cache: LRU + canonical NBQL cache keys.

Reference: ``cache/cache.go`` (generic LRU with eviction/hit/miss callbacks
and hit/miss counters) and ``api/nbql/cache_key.go:17-95`` (canonical key
from a QueryStatement: metric | REL:dur-or-ABS:start-end | sorted tags |
DS:interval[,EMPTY]:agg specs | sort order). That key leaves out clauses
this grammar adds (tag matchers, SLIDE, FILL), so here the key is the
whole statement instead. The reference builds both pieces but never wires
them into its executor (SURVEY.md §4 — the cache is referenced only by its
own test); this rebuild wires them and adds the part
the reference left undefined: **invalidation**. Every mutation (put, bulk
ingest, delete, compact, restore) bumps the engine's write generation; a
cached entry is valid only while its generation matches, so a cache hit is
always exactly what re-running the query would return.

Per ``cache_key.go:88-91``, LIMIT and AFTER (cursor) are *excluded* from
the key: the full result is cached once and pagination is applied to the
cached rows, so every page of a scan is one execution, not one per page.

This makes relative-time queries (``FROM RELATIVE(dur)``) cacheable too —
the reference singles them out (``cache_key.go:27-30``) — because the
engine anchors RELATIVE to the data's max timestamp, which only moves when
a write bumps the generation. (Quirk inherited with the design: a point
with a *future* timestamp becomes visible to an ABS:..-now query only after
the next write; the reference's unwired cache has the same property.)
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass, replace

from nexusbase_spark.nbql.ast import QueryStatement


class LRUCache:
    """Fixed-size LRU (cache/cache.go): capacity <= 0 disables; optional
    eviction callback; hit/miss counters (the expvar metrics analog).
    Thread-safe: the threaded TCP/HTTP servers run _query_cached on
    connection threads (cache/cache.go holds a sync.Mutex for the same
    reason), so get/put/clear serialize on an internal lock — otherwise
    hit/miss counters race and two concurrent put() evictions can
    double-fire the eviction callback (ADVICE r6). Evicted entries are
    collected under the lock but the callback fires AFTER it is released
    (ADVICE r7): each eviction still fires exactly once (popitem removes
    the entry before any other thread can evict it again), and a
    callback that re-enters the cache — a user _emit hook that reads or
    warms it — no longer deadlocks on the non-reentrant Lock."""

    def __init__(self, capacity: int,
                 on_evicted: Callable[[str, object], None] | None = None):
        import threading
        self.capacity = capacity
        self._items: OrderedDict[str, object] = OrderedDict()
        self._on_evicted = on_evicted
        self._mu = threading.Lock()
        self.hits = 0
        self.misses = 0

    def __len__(self) -> int:
        with self._mu:
            return len(self._items)

    def get(self, key: str):
        """-> (value, ok). A disabled cache misses silently without
        counting (cache/cache.go Get's disabled-cache branch)."""
        if self.capacity <= 0:
            return None, False
        with self._mu:
            if key in self._items:
                self._items.move_to_end(key)
                self.hits += 1
                return self._items[key], True
            self.misses += 1
            return None, False

    def put(self, key: str, value: object) -> None:
        if self.capacity <= 0:
            return
        evicted: list[tuple[str, object]] = []
        with self._mu:
            if key in self._items:
                self._items.move_to_end(key)
            self._items[key] = value
            while len(self._items) > self.capacity:
                evicted.append(self._items.popitem(last=False))
        if self._on_evicted is not None:
            for old_key, old_val in evicted:
                self._on_evicted(old_key, old_val)

    def clear(self) -> None:
        with self._mu:
            self._items.clear()

    def reclassify_hit_as_miss(self) -> None:
        """A generation-stale entry counts as a miss in the metrics
        (engine._query_cached) — adjust both counters under the same
        lock the get() that counted the hit used."""
        with self._mu:
            self.hits -= 1
            self.misses += 1


def query_cache_key(q: QueryStatement) -> str:
    """Canonical key for a QueryStatement: the whole statement, with
    LIMIT/AFTER cleared (pagination works on the cached rows) and tags
    sorted (tag order does not change the answer). Every other clause
    takes part, so two statements that can answer differently never
    share a key."""
    return repr(replace(
        q, limit=None, after_cursor=None, tags=dict(sorted(q.tags.items()))))


@dataclass
class CachedResult:
    """One cached full (unpaginated) result: rows in final sort order,
    the result schema, and the write generation it was computed at."""
    generation: int
    rows: list
    schema: object


def paginate_rows(rows: list, q: QueryStatement) -> list:
    """Apply AFTER + LIMIT to cached, already-ordered rows — the
    'pagination is applied to the cached result' half of cache_key.go's
    contract. Cursors only exist for raw point streams (the cursor is a
    point key); aggregate results just take the LIMIT slice. The cursor
    test is ``keyset_after``'s predicate, evaluated on each row's key."""
    out = rows
    if q.after_cursor and not q.aggregations:
        from nexusbase_spark.operators.order import _after_pred, decode_cursor
        cur = decode_cursor(q.after_cursor)
        out = [r for r in out
               if _after_pred(r["ts"], r["series_key"], r["seq"], cur, q.sort_desc)]
    if q.limit:
        out = out[:q.limit]
    return out
