"""Series catalog: the tag-index analog.

Reference: the roaring-bitmap tag index (``indexer/tag_index_manager2.go``)
maps (tag_key, tag_value) -> bitmap of series ids; a conjunctive tag query
AND-intersects bitmaps and scans only the surviving series. The Spark
translation keeps the same two-phase shape:

1. **Resolve** — a tiny ``(metric, series_key, tag_key, tag_value)`` catalog
   table (series cardinality, not point cardinality) is consulted
   driver-side via pyarrow, no Spark job. Conjunctive tag equality becomes
   "series_key appears under ALL requested (k, v) pairs".
2. **Scan** — the resolved keys become ``series_key IN (...)`` on the points
   scan: a plain string-equality predicate Catalyst pushes into the parquet
   reader (row-group min/max skip), unlike ``tags[k] = v`` map access which
   never reaches the scan.

The catalog is an OVER-approximation of live series (tombstoned series
linger until ``compact()``): stale keys select zero rows, so results are
unchanged — but the catalog must be COMPLETE (every ingested series
present), else the IN-list would wrongly exclude series. Every ingest path
appends; ``rebuild()`` restores completeness after restore/legacy opens.

At 100TB / 1000 executors: the catalog is millions of rows against
trillions of points — the same ratio the reference exploits. Resolution
stays a driver-side metadata read; when a tag pair matches more series than
``max_keys`` the IN-list would bloat the plan, so we fall back to the
scan-side map filter (the reference's active-series fallback scan).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ARROW_SCHEMA = pa.schema([
    ("metric", pa.string()),
    ("series_key", pa.string()),
    ("tag_key", pa.string()),
    ("tag_value", pa.string()),
])

# Above this many resolved keys the IN-list stops being a win (plan bloat,
# giant row-group filter); fall back to the map-access scan.
MAX_IN_KEYS = 5000


class SeriesCatalog:
    def __init__(self, path: str):
        self.path = path

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            n.endswith(".parquet") for n in os.listdir(self.path))

    # ------------------------------------------------------------ writes

    def _write_file(self, table: pa.Table) -> None:
        """Publish one catalog file atomically. A concurrent ``resolve``
        must never list a half-written file, so the table is written
        under a hidden, non-``.parquet`` name (skipped by pyarrow and
        Spark discovery and by ``exists``) and renamed into place."""
        os.makedirs(self.path, exist_ok=True)
        uid = uuid.uuid4().hex
        tmp = os.path.join(self.path, f".cat-{uid}.tmp")
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(self.path, f"cat-{uid}.parquet"))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def append_points(self, points: list[tuple[str, dict[str, str], str]]) -> None:
        """Driver-side append for the put/put_batch path:
        ``(metric, tags, series_key)`` per point. Pure pyarrow — no Spark
        job, so single-point PUSH latency stays flat."""
        seen: set[tuple] = set()
        for metric, tags, sk in points:
            if not tags:
                seen.add((metric, sk, None, None))
            for k, v in (tags or {}).items():
                seen.add((metric, sk, k, v))
        if not seen:
            return
        cols = list(zip(*sorted(seen, key=lambda r: (r[0], r[1], r[2] or ""))))
        self._write_file(pa.table(
            {f.name: list(c) for f, c in zip(ARROW_SCHEMA, cols)},
            schema=ARROW_SCHEMA))

    def append_df(self, df: DataFrame) -> None:
        """Distributed append for the bulk/stream ingest path: distinct
        series from a points frame carrying (metric, tags, series_key).
        The distinct shuffles series cardinality, not point cardinality."""
        cat = (
            df.select("metric", "series_key",
                      F.explode_outer("tags").alias("tag_key", "tag_value"))
            .distinct()
        )
        cat.write.mode("append").parquet(self.path)

    def rebuild(self, points_df: DataFrame | None) -> None:
        """Overwrite the catalog from a full points frame (legacy warehouse
        open, post-restore, compaction). Also prunes tombstoned series when
        given the resolved view."""
        import shutil
        shutil.rmtree(self.path, ignore_errors=True)
        if points_df is None:
            return
        cat = (
            points_df.select("metric", "series_key",
                             F.explode_outer("tags").alias("tag_key", "tag_value"))
            .distinct()
        )
        cat.write.mode("overwrite").parquet(self.path)

    # ------------------------------------------------------------- reads

    def resolve(self, metric: str | None, tags: dict[str, str],
                max_keys: int = MAX_IN_KEYS) -> list[str] | None:
        """Series keys matching metric + ALL (k, v) pairs, or None when the
        catalog can't answer (absent, or result exceeds ``max_keys``).
        Driver-side pyarrow dataset read with a pushed filter — the bitmap
        AND-intersection of indexer/tag_index_manager2.go:247-315."""
        if not tags or not self.exists():
            return None
        import pyarrow.dataset as ds
        import pyarrow.compute as pc
        expr = None
        for k, v in tags.items():
            pair = (pc.field("tag_key") == k) & (pc.field("tag_value") == v)
            expr = pair if expr is None else (expr | pair)
        if metric is not None:
            expr = (pc.field("metric") == metric) & expr
        table = ds.dataset(self.path, format="parquet").to_table(
            columns=["series_key", "tag_key"], filter=expr)
        df = table.to_pandas().drop_duplicates()
        counts = df.groupby("series_key", sort=False)["tag_key"].size()
        keys = sorted(counts[counts == len(tags)].index.tolist())
        if len(keys) > max_keys:
            return None
        return keys
