"""Global ordering, LIMIT, and keyset-cursor pagination.

Reference: the k-way merge heap orders the stream by
(timestamp, series_key, seq DESC), ASC or DESC (``iterator/iterator.go:34-75``).
LIMIT is carried but NOT enforced by engine2 (SURVEY.md §2.7) — the NBQL
executor only uses it to decide whether to return a cursor
(``api/nbql/executor.go:347-351``); this rebuild enforces it. The cursor is a
base64-encoded last-key; the engine wraps the stream in a SkippingIterator
that drops everything up to and including that key
(``iterator/skipping_iterator.go:12-52``).

Spark mapping: orderBy + limit compiles to TakeOrderedAndProject — a
distributed top-K, each partition keeps only K rows, no global sort. The
cursor becomes a keyset predicate (strictly-after filter) that pushes down
to the scan; pagination cost is O(page), not O(offset).
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Cursor = tuple[int, str, int]  # (ts, series_key, seq)


def order_points(df: DataFrame, descending: bool = False) -> DataFrame:
    """(ts, series_key, seq desc); DESC reverses ts and series_key but a
    higher seq still sorts first among full-key ties (MVCC preference)."""
    if descending:
        return df.orderBy(F.col("ts").desc(), F.col("series_key").desc(), F.col("seq").desc())
    return df.orderBy(F.col("ts").asc(), F.col("series_key").asc(), F.col("seq").desc())


def order_windows(df: DataFrame, descending: bool = False) -> DataFrame:
    """Downsample/rollup rows in (window_start, series_key) order, both
    reversed for DESC."""
    if descending:
        return df.orderBy(F.col("window_start").desc(), F.col("series_key").desc())
    return df.orderBy(F.col("window_start"), F.col("series_key"))


def _after_pred(ts, sk, seq, c: Cursor, descending: bool):
    """Strictly after cursor ``c`` in (ts, series_key, seq desc) stream
    order, for a key (``ts``, ``sk``, ``seq``). seq compares
    DESC-within-key in both directions (MVCC preference). The key may be
    Columns (a pushable filter) or one row's Python values (a bool):
    both support the ``|``/``&`` below."""
    cts, csk, cseq = c
    if descending:
        return (
            (ts < cts)
            | ((ts == cts) & (sk < csk))
            | ((ts == cts) & (sk == csk) & (seq < cseq))
        )
    return (
        (ts > cts)
        | ((ts == cts) & (sk > csk))
        | ((ts == cts) & (sk == csk) & (seq < cseq))
    )


def keyset_after(df: DataFrame, cursor: Cursor, descending: bool = False) -> DataFrame:
    """Strictly-after filter (skip-up-to-and-including-cursor semantics,
    iterator/skipping_iterator.go:28-48)."""
    return df.filter(_after_pred(F.col("ts"), F.col("series_key"), F.col("seq"),
                                 cursor, descending))


def encode_cursor(ts: int, series_key: str, seq: int) -> str:
    """base64 last-key, like api/nbql/executor.go:347-351."""
    return base64.b64encode(json.dumps([ts, series_key, seq]).encode()).decode()


def decode_cursor(cursor: str) -> Cursor:
    """Client-supplied string -> (ts, series_key, seq). ANY malformed
    cursor (bad base64, bad UTF-8, bad JSON, wrong shape/types) raises
    NBQLError — the servers' clean protocol-rejection class — instead of
    leaking binascii/JSONDecode/UnicodeDecode errors to the transport
    (found by fuzzing AFTER with garbage; the reference returns a decode
    error to the client the same way, api/nbql/executor.go cursor
    handling)."""
    from nexusbase_spark.nbql.parser import NBQLError

    try:
        ts, sk, seq = json.loads(base64.b64decode(cursor, validate=True))
        return int(ts), str(sk), int(seq)
    except NBQLError:  # pragma: no cover - int()/str() don't raise it
        raise
    except Exception as e:
        raise NBQLError(f"invalid cursor: {e}") from e
