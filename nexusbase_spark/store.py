"""Materialized parquet stores: the lifecycle shared by the incremental
indexes (``pipeline/{dedup_index,ppjoin_index,invindex,vecindex}``) and
the mergeable-delta stores (``search.CorpusStats``,
``sketches.CMSStore``, ``drift.DriftMonitor``).

A store is a directory holding ``meta.json`` (the build parameters every
later call reads back) and named parquet layers. Each subclass keeps its
own algorithm; this base only owns the plumbing around it. The contract
itself is described under "Materialized stores" in ARCHITECTURE.md.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ParquetStore:
    # layer name -> (partition column, sort column). A sorted, partitioned
    # layer is repartitioned by its partition column first, so each
    # partition directory gets one sorted file. Unlisted layers are plain.
    _layout: dict[str, tuple[str | None, str | None]] = {}

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------ meta/layers

    def _meta(self) -> dict:
        with open(os.path.join(self.path, "meta.json")) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "meta.json"), "w") as f:
            json.dump(meta, f)

    def _layer(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, name))

    def _write_layer(self, df: DataFrame, name: str,
                     mode: str = "append") -> None:
        part, sort = self._layout.get(name, (None, None))
        if sort:
            if part:
                df = df.repartition(part)
            df = df.sortWithinPartitions(sort)
        w = df.write.mode(mode)
        if part:
            w = w.partitionBy(part)
        w.parquet(os.path.join(self.path, name))

    # -------------------------------------------------------------- streaming

    @staticmethod
    def _sink(fold):
        """foreachBatch callable: ``fold(batch, batch_id)`` for every
        non-empty micro-batch. Empty batches (idle triggers) are skipped,
        so they never write an empty delta file or run a probe."""
        def run(batch: DataFrame, batch_id: int) -> None:
            if batch.head(1):
                fold(batch, batch_id)
        return run

    # ------------------------------------------------- doc-keyed audit/heal
    # Id frames below have ONE column, named ``doc_id``.

    @staticmethod
    def _ids(df: DataFrame, col: str = "doc_id") -> DataFrame:
        return df.select(F.col(col).alias("doc_id")).distinct()

    @staticmethod
    def _stale_missing(store_ids: DataFrame, base_ids: DataFrame,
                       indexable: DataFrame | None = None) -> tuple[int, int]:
        """(stale, missing): indexed ids whose base doc is gone, and
        ``indexable`` base ids (default: all of ``base_ids``) the store
        never absorbed."""
        stale = store_ids.join(base_ids, "doc_id", "left_anti").count()
        want = base_ids if indexable is None else indexable
        missing = want.join(store_ids, "doc_id", "left_anti").count()
        return stale, missing

    @staticmethod
    def _pinned_sample(store_ids: DataFrame, base_ids: DataFrame,
                       sample: int | None, salt: str) -> tuple[DataFrame, int]:
        """(shared ids, count): ids both in the store and the base; with
        ``sample``, the first ``sample`` by salted md5 rank, so a larger
        sample audits a superset. Checkpointed to pin the sample."""
        shared = store_ids.join(base_ids, "doc_id")
        if sample is not None:
            rank = F.md5(F.concat(F.lit(salt), F.lit(":"),
                                  F.col("doc_id").cast("string")))
            shared = shared.orderBy(rank, "doc_id").limit(sample)
        shared = shared.localCheckpoint(eager=True)
        return shared, shared.count()

    def _drop_ids(self, ids: DataFrame, *layers: str) -> int:
        """Rewrite ``layers`` without the rows whose id is in ``ids`` (a
        one-column frame named as the layers' id column): a narrow
        filtered rewrite, nothing recomputed. Returns the ids dropped.
        Every kept layer is materialized before the first overwrite, since
        each reads from the directory it replaces."""
        ids = ids.localCheckpoint(eager=True)
        n = ids.count()
        if n:
            key = ids.columns[0]
            kept = {name: self._layer(name).join(ids, key, "left_anti")
                    .localCheckpoint(eager=True) for name in layers}
            for name, df in kept.items():
                self._write_layer(df, name, "overwrite")
        return n
