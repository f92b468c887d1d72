"""Materialized MinHash/LSH near-duplicate index — the INCREMENTAL dedup
path for a continuously-ingesting training corpus.

The batch kernels in ``dedup.py`` recompute shingles + signatures for the
whole corpus per run; at 100 TB that is the wrong shape for daily ingest.
This index materializes the per-document band buckets once, and dedupes
each incoming batch by PROBING the stored buckets:

- probe cost is O(batch) signature work + a band-key join that touches
  only colliding buckets — the historical corpus is never re-shingled;
- the store is parquet partitioned by ``band_idx`` (bands separate
  subdirectories, so each band's bucket join scans 1/bands of the store;
  on a real cluster the layout adds bucketBy(band_key) so the store side
  of the probe join needs no shuffle at all);
- exact verification uses the stored 31-bit shingle-hash SETS
  (``array_intersect`` on two arrays — narrow, candidate-only), the same
  md5 universal-hash family as dedup.py, so the DuckDB oracle can
  regenerate every value.

The reference has no near-dup machinery at all (its keys are opaque
series); this is part of the training-data-pipeline surface (build brief)
— the dedup complement of ``vecindex.VectorIndex``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexusbase_spark.pipeline.dedup import (
    DEFAULT_MAX_BUCKET, _SINK_DEFAULT, _banded_docs,
)
from nexusbase_spark.pipeline.expectations import table_diff
from nexusbase_spark.store import ParquetStore


class DedupIndex(ParquetStore):
    _layout = {"bands": ("band_idx", None)}

    # ---------------------------------------------------------------- build

    @classmethod
    def build(cls, spark: SparkSession, path: str, docs: DataFrame,
              id_col: str = "doc_id", text_col: str = "text",
              n: int = 3, num_hashes: int = 8, bands: int = 4) -> "DedupIndex":
        """Shingle + sign + band the corpus once and materialize:
        ``bands/`` (doc_id, sz, band_key) partitioned by band_idx and
        ``docs/`` (doc_id, hset) for exact verification."""
        ix = cls(spark, path)
        d, banded = _banded_docs(docs, id_col, text_col, n, num_hashes,
                                 bands, persist=True)
        ix._write_docs(d, banded, id_col, "overwrite")
        d.unpersist()
        ix._write_meta({"n": n, "num_hashes": num_hashes, "bands": bands,
                        "id_col": id_col, "text_col": text_col})
        return ix

    def _write_docs(self, d: DataFrame, banded: DataFrame, id_col: str,
                    mode: str = "append") -> None:
        """Land a banded batch in both layers."""
        self._write_layer(banded.withColumnRenamed(id_col, "doc_id"),
                          "bands", mode)
        self._write_layer(d.select(F.col(id_col).alias("doc_id"),
                                   F.array_distinct("hset").alias("hset")),
                          "docs", mode)

    def _store_docs(self) -> DataFrame:
        return self._layer("docs")

    def doc_count(self) -> int:
        return self._store_docs().count()

    # ---------------------------------------------------------------- probe

    def probe(self, new_docs: DataFrame, threshold: float = 0.3,
              max_bucket: int | None = None) -> DataFrame:
        """Near-duplicates of ``new_docs`` already IN the index ->
        (new_id, old_id, jaccard >= threshold). Read-only; the store is
        untouched. Jaccard is computed over the distinct 31-bit shingle
        hashes (identical family to dedup.py — oracle-reproducible).

        ``max_bucket`` drops HOT store buckets before the join, like the
        batch kernel's cap — but counted only over buckets the probe
        actually hits (a semi-join first), so the cap never scans the
        whole store."""
        meta = self._meta()
        nd, nbanded = _banded_docs(
            new_docs, meta["id_col"], meta["text_col"], meta["n"],
            meta["num_hashes"], meta["bands"], persist=True)
        return self._probe_from(meta, nd, nbanded, threshold, max_bucket)

    def _probe_from(self, meta: dict, nd: DataFrame, nbanded: DataFrame,
                    threshold: float, max_bucket: int | None) -> DataFrame:
        nbanded = nbanded.withColumnRenamed(meta["id_col"], "new_id")
        store = self._layer("bands")
        hit = store.join(
            nbanded.select("band_idx", "band_key").distinct(),
            ["band_idx", "band_key"])
        if max_bucket is not None:
            ok = (hit.groupBy("band_idx", "band_key")
                  .agg(F.count(F.lit(1)).alias("__bn"))
                  .filter(F.col("__bn") <= max_bucket)
                  .drop("__bn"))
            hit = hit.join(ok, ["band_idx", "band_key"])
        cand = (nbanded.join(hit, ["band_idx", "band_key"])
                .filter(F.col("new_id") != F.col("doc_id"))
                .select("new_id", F.col("doc_id").alias("old_id"))
                .distinct())
        new_sets = nd.select(F.col(meta["id_col"]).alias("new_id"),
                             F.array_distinct("hset").alias("__ha"))
        old_sets = self._store_docs().select(
            F.col("doc_id").alias("old_id"), F.col("hset").alias("__hb"))
        inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
        union = F.size("__ha") + F.size("__hb") - inter
        out = (cand.join(new_sets, "new_id").join(old_sets, "old_id")
               .withColumn("jaccard", inter / union)
               .filter(F.col("jaccard") >= threshold)
               .select("new_id", "old_id", "jaccard"))
        return out

    # --------------------------------------------------------------- append

    def append(self, new_docs: DataFrame, threshold: float = 0.3,
               max_bucket: int | None = None,
               admit_dups: bool = True) -> DataFrame:
        """Probe, then fold the batch into the store. Returns the matches
        (new vs indexed). ``admit_dups=False`` indexes only the new docs
        with NO match >= threshold — the streaming-dedup policy where a
        duplicate is dropped, not stored.

        The match frame is MATERIALIZED (eager localCheckpoint) before
        the store append: the probe plan reads the store, so a lazy
        result consumed after the append would re-scan the store
        including the rows this call just added and report self-matches.
        Signatures are computed once and shared between probe and
        append."""
        meta = self._meta()
        nd, nbanded = _banded_docs(
            new_docs, meta["id_col"], meta["text_col"], meta["n"],
            meta["num_hashes"], meta["bands"], persist=True)
        matches = self._probe_from(meta, nd, nbanded, threshold, max_bucket)
        matches = matches.localCheckpoint(eager=True)
        kept, kept_banded = nd, nbanded
        if not admit_dups:
            dup_ids = matches.select(
                F.col("new_id").alias(meta["id_col"])).distinct()
            kept_banded = nbanded.join(dup_ids, meta["id_col"], "left_anti")
            kept = nd.join(dup_ids, meta["id_col"], "left_anti")
        self._write_docs(kept, kept_banded, meta["id_col"])
        # release the persisted signatures themselves, not the filtered
        # view: every streamed micro-batch (admit_dups=False) comes here
        nd.unpersist()
        return matches

    # ---------------------------------------------------------------- audit

    def verify(self, docs: DataFrame, sample: int | None = None) -> dict:
        """Consistency audit against the base corpus — the same sampled
        treatment as ``engine.verify_rollup``: a retention sweep or
        ``compact()`` that rewrites the corpus must not leave the index
        silently stale. Checks three failure modes:

        - ``stale``: doc_ids in the index whose base document is GONE
          (deleted/retained-out) — probe hits against them are wrong;
        - ``missing``: base doc_ids the index never absorbed;
        - ``mismatched``: for a pinned ``sample`` of shared ids
          (``ParquetStore._pinned_sample``), re-shingle the base text and
          diff both the stored shingle-hash SET and the stored band keys.

        Only the sampled docs are re-shingled — a full recompute per
        check is what the index exists to avoid. Returns
        {"docs_store", "docs_base", "stale", "missing", "checked",
        "mismatched", "ok"}.
        """
        meta = self._meta()
        idc = meta["id_col"]
        base_ids = self._ids(docs, idc)
        store_docs = self._store_docs()
        store_ids = self._ids(store_docs)
        stale, missing = self._stale_missing(store_ids, base_ids)
        shared, checked = self._pinned_sample(
            store_ids.join(base_ids, "doc_id"), sample)
        mismatched = 0
        if checked:
            picked = docs.join(shared.withColumnRenamed("doc_id", idc), idc)
            d, banded = _banded_docs(picked, idc, meta["text_col"],
                                     meta["n"], meta["num_hashes"],
                                     meta["bands"], persist=True)
            sets = table_diff(
                store_docs.join(shared, "doc_id")
                .select("doc_id", F.array_sort("hset").alias("h")),
                d.select(F.col(idc).alias("doc_id"),
                         F.array_sort(F.array_distinct("hset")).alias("h")),
                "doc_id")
            keys = ["doc_id", "band_idx", "band_key"]
            bands = table_diff(
                self._layer("bands").join(shared, "doc_id").select(*keys),
                banded.withColumnRenamed(idc, "doc_id").select(*keys),
                keys[:2])
            # docs failing EITHER check, counted once
            mismatched = (sets.select("doc_id").union(bands.select("doc_id"))
                          .distinct().count())
            d.unpersist()
        return {"docs_store": store_ids.count(),
                "docs_base": base_ids.count(),
                "stale": stale, "missing": missing,
                "checked": checked, "mismatched": mismatched,
                "ok": stale == 0 and missing == 0 and mismatched == 0}

    def resync(self, docs: DataFrame) -> dict:
        """Re-sync after a corpus rewrite WITHOUT re-shingling history:
        stale entries (base doc gone) are dropped by rewriting the two
        store tables filtered to surviving ids — a narrow columnar
        rewrite, no text touched — and missing base docs are shingled
        and appended (only THEY pay signature cost). Returns the
        before/after counts. Mutates the store; concurrent probes must
        be quiesced (same contract as append)."""
        meta = self._meta()
        idc = meta["id_col"]
        base_ids = self._ids(docs, idc)
        n_stale = self._drop_ids(
            self._ids(self._store_docs()).join(base_ids, "doc_id",
                                               "left_anti"),
            "docs", "bands")
        missing = (base_ids.join(self._store_docs().select("doc_id"),
                                 "doc_id", "left_anti")
                   .withColumnRenamed("doc_id", idc))
        n_missing = missing.count()
        if n_missing:
            d, banded = _banded_docs(docs.join(missing, idc), idc,
                                     meta["text_col"], meta["n"],
                                     meta["num_hashes"], meta["bands"],
                                     persist=True)
            self._write_docs(d, banded, idc)
            d.unpersist()
        return {"dropped_stale": n_stale, "indexed_missing": n_missing}

    # ------------------------------------------------------------ streaming

    def for_each_batch(self, threshold: float = 0.3,
                       max_bucket: int | None | object = _SINK_DEFAULT,
                       on_matches=None):
        """Structured-Streaming sink: each document micro-batch is deduped
        against the whole indexed HISTORY (not just the watermark horizon
        — the complement of subscribe.live_dedup's exact/windowed state),
        duplicates are dropped, novel docs are folded into the store so
        later batches dedupe against them too.

        ``max_bucket`` defaults to dedup.DEFAULT_MAX_BUCKET (VERDICT r6
        #5): hot HISTORY buckets past the cap are skipped during the
        probe, so one boilerplate band key accumulated over months can't
        make every future batch quadratic. LSH is already
        recall-trading, so the cap is a silent recall bound here (the
        EXACT ExactDupIndex twin WARNs and records, because there the
        cap breaks a losslessness contract). ``max_bucket=None`` opts
        back into unbounded probing.

        Exactly the ingest-time near-dup shape of a crawling pipeline.
        foreachBatch runs batches sequentially per query, which
        serializes the probe-then-append — the ordering append() itself
        requires.
        ``on_matches(matches_df, batch_id)`` observes the dropped pairs
        (already materialized — safe to collect a bounded view)."""
        mb = DEFAULT_MAX_BUCKET if max_bucket is _SINK_DEFAULT else max_bucket

        def fold(batch: DataFrame, batch_id: int) -> None:
            matches = self.append(batch, threshold=threshold,
                                  max_bucket=mb, admit_dups=False)
            if on_matches is not None:
                on_matches(matches, batch_id)
        return self._sink(fold)
