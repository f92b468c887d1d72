"""Materialized EXACT near-duplicate index — the lossless companion of
``dedup_index.DedupIndex`` (which is MinHash/LSH, i.e. probabilistic
recall). This store answers "which already-ingested docs have token-set
Jaccard >= t with this batch" with NO recall loss, by materializing the
prefix-filter postings of ``dedup.prefix_filter_pairs`` once and probing
them per batch:

- the GLOBAL token order (ascending document frequency at build time,
  ties by token) is FROZEN in the store. Prefix filtering is lossless
  under ANY fixed total order — rarest-first is only the performance
  choice — so corpus drift after build can grow candidate counts but can
  never lose a pair. ``rebuild_order()`` (= a fresh ``build``) re-ranks
  when drift makes probes slow. Unseen probe tokens rank as df=0
  (rarest), consistently on both sides.
- stored prefixes are computed at the index's MIN threshold; probing at
  any t >= min_threshold is lossless because a higher-t prefix is a
  subset of the stored one.
- probe cost: O(batch) tokenize + a bucket-pruned posting join + exact
  array_intersect verification on candidates — the historical corpus is
  never re-tokenized. Measured (SCALE.md round-5): probe grows 1.69x at
  a 4x corpus while the corpus-wide recompute grows 2.9x, so the
  speedup WIDENS with history (1.9x -> 3.2x at 50k -> 200k docs); use
  the MinHash DedupIndex when flat probes matter more than lossless
  recall.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexusbase_spark.pipeline.dedup import DEFAULT_MAX_BUCKET, _SINK_DEFAULT
from nexusbase_spark.pipeline.expectations import table_diff
from nexusbase_spark.pipeline.text import tokens_col
from nexusbase_spark.store import ParquetStore

_N_BUCKETS = 32


def _bucket_of(tok_col):
    """Stable token bucket — the prefix store's PARTITION column, so a
    probe scans only the buckets its own prefix tokens hash to (file
    pruning, the InvertedIndex layout trick)."""
    return F.pmod(F.xxhash64(tok_col), F.lit(_N_BUCKETS)).cast("int")


def _tok_arrays(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.array_distinct(tokens_col(F.col(text_col)))
                        .alias("toks"))
            .filter(F.size("toks") > 0))


class ExactDupIndex(ParquetStore):
    _layout = {"prefix": ("bucket", "tok")}

    # ---------------------------------------------------------------- build

    @classmethod
    def build(cls, spark: SparkSession, path: str, docs: DataFrame,
              id_col: str = "doc_id", text_col: str = "text",
              min_threshold: float = 0.5) -> "ExactDupIndex":
        """Materialize ``dfreq/`` (the frozen token order), ``prefix/``
        (token -> doc postings at min_threshold) and ``docs/`` (token
        arrays for exact verification)."""
        num = int(round(min_threshold * 10_000))
        ix = cls(spark, path)
        ix._write_meta({"id_col": id_col, "text_col": text_col,
                        "min_num": num, "den": 10_000})
        t = _tok_arrays(docs, id_col, text_col).localCheckpoint(eager=True)
        tok = t.select("doc_id", F.explode("toks").alias("tok"))
        dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        dfreq = dfreq.localCheckpoint(eager=True)
        ix._write_layer(dfreq.sortWithinPartitions("tok").coalesce(4),
                        "dfreq", "overwrite")
        ix._write_docs(t, num, "overwrite", dfreq=dfreq)
        return ix

    def _write_docs(self, t: DataFrame, num: int, mode: str = "append",
                    dfreq: DataFrame | None = None) -> None:
        """Land token-array frame ``t``: docs rows + prefix postings."""
        self._write_layer(t.select("doc_id", "toks",
                                   F.size("toks").alias("sz")), "docs", mode)
        self._write_layer(self._prefix_of(t, num, dfreq=dfreq)
                          .withColumn("bucket", _bucket_of(F.col("tok"))),
                          "prefix", mode)

    def doc_count(self) -> int:
        return self._layer("docs").count()

    def _prefix_of(self, t: DataFrame, num: int,
                   dfreq: DataFrame | None = None) -> DataFrame:
        """(doc_id, tok) prefix postings of token-array frame ``t`` at
        rational threshold num/den under the FROZEN order: rank by
        (stored df, tok) with unseen tokens at df=0 — any consistent
        total order keeps the theorem; this one keeps postings small."""
        from pyspark.sql import Window

        den = self._meta()["den"]
        tok = t.select("doc_id", F.size("toks").alias("__sz"),
                       F.explode("toks").alias("tok"))
        ranked = (tok.join(dfreq if dfreq is not None
                           else self._layer("dfreq"),
                           "tok", "left")
                  .withColumn("__df", F.coalesce("df", F.lit(0))))
        w = Window.partitionBy("doc_id").orderBy("__df", "tok")
        pos = ranked.select("doc_id", "tok", "__sz",
                            F.row_number().over(w).alias("__pos"))
        return (pos.filter(
                    F.col("__pos")
                    <= F.col("__sz")
                    - F.floor((F.lit(num) * F.col("__sz")
                               + F.lit(den - 1)) / F.lit(den)) + 1)
                .select("tok", "doc_id"))

    # ---------------------------------------------------------------- probe

    def probe(self, new_docs: DataFrame,
              threshold: float | None = None,
              max_bucket: int | None = None) -> DataFrame:
        """EVERY stored doc with jaccard >= threshold against each new
        doc -> (new_id, old_id, inter, uni, jaccard). Lossless (prefix-
        filter theorem under the frozen order); read-only. ``threshold``
        defaults to the index's min and must be >= it. ``max_bucket``
        inherits the prefix_filter_pairs skew guard (VERDICT r5 #7):
        STORE postings buckets past the bound are dropped with a
        RuntimeWarning naming the tokens — one hot template token in
        history then can't make every future probe quadratic; pairs
        whose only shared prefix tokens are the dropped ones are lost
        (default None = exhaustively lossless)."""
        meta = self._meta()
        num = self._num_of(meta, threshold)
        t = _tok_arrays(new_docs, meta["id_col"], meta["text_col"])
        t = t.localCheckpoint(eager=True)
        return self._probe_from(t, num, max_bucket=max_bucket)

    @staticmethod
    def _num_of(meta: dict, threshold: float | None) -> int:
        """Threshold as the store's rational numerator (over ``den``);
        None means the index min. Below the min the stored prefixes are
        too short for the prefix-filter theorem, so that is refused."""
        den = meta["den"]
        num = (meta["min_num"] if threshold is None
               else int(round(threshold * den)))
        if num < meta["min_num"]:
            raise ValueError(
                f"threshold {num / den} below index min "
                f"{meta['min_num'] / den}: stored prefixes are too short "
                f"to be lossless — rebuild with a lower min_threshold")
        return num

    def _probe_from(self, t: DataFrame, num: int,
                    max_bucket: int | None = None) -> DataFrame:
        den = self._meta()["den"]
        new_pref = (self._prefix_of(t, num)
                    .withColumnRenamed("doc_id", "new_id")
                    .localCheckpoint(eager=True))
        # partition pruning: only the buckets the batch's own prefix
        # tokens hash to are read from the store — a bounded (<= 32)
        # driver list, so probe scan cost tracks the BATCH, not history
        buckets = [r["b"] for r in new_pref
                   .select(_bucket_of(F.col("tok")).alias("b"))
                   .distinct().collect()]
        store_pref = (self._layer("prefix")
                      .filter(F.col("bucket").isin(buckets))
                      .withColumnRenamed("doc_id", "old_id"))
        if max_bucket is not None:
            from nexusbase_spark.pipeline.dedup import \
                drop_hot_prefix_buckets
            store_pref = drop_hot_prefix_buckets(
                store_pref, max_bucket, "ExactDupIndex.probe")
        cand = (new_pref.join(store_pref, "tok")
                .select("new_id", "old_id").distinct())
        ta = t.select(F.col("doc_id").alias("new_id"),
                      F.col("toks").alias("__ta"))
        tb = self._layer("docs").select(F.col("doc_id").alias("old_id"),
                                        F.col("toks").alias("__tb"))
        ver = (cand.join(ta, "new_id").join(tb, "old_id")
               .select("new_id", "old_id",
                       F.size(F.array_intersect("__ta", "__tb"))
                       .cast("long").alias("inter"),
                       (F.size("__ta") + F.size("__tb")).alias("__s")))
        out = (ver.withColumn("uni",
                              (F.col("__s") - F.col("inter")).cast("long"))
               .filter(F.col("inter") * den >= F.col("uni") * F.lit(num))
               .withColumn("jaccard",
                           F.floor(F.col("inter") / F.col("uni") * 1e4
                                   + F.lit(0.5)) / 1e4))
        return out.select("new_id", "old_id", "inter", "uni", "jaccard")

    # --------------------------------------------------------------- append

    def append(self, new_docs: DataFrame,
               threshold: float | None = None,
               max_bucket: int | None = None) -> DataFrame:
        """Probe against the PRE-append store (returned eagerly — a lazy
        plan would re-read the appended rows and self-match), then land
        the batch: docs rows + prefix postings at the index min. The
        frozen dfreq layer is untouched (see module docstring).
        ``max_bucket`` guards the probe only — the landed postings are
        always complete, so a later exhaustive probe stays possible."""
        meta = self._meta()
        t = _tok_arrays(new_docs, meta["id_col"], meta["text_col"])
        t = t.localCheckpoint(eager=True)
        num = self._num_of(meta, threshold)
        matches = self._probe_from(t, num, max_bucket=max_bucket) \
            .localCheckpoint(eager=True)
        self._write_docs(t, meta["min_num"])
        return matches

    # ----------------------------------------------------------- audit/heal

    def verify(self, docs: DataFrame) -> dict:
        """Audit against the base corpus: stale (indexed doc gone),
        missing (base doc never indexed), mismatched (stored token array
        differs from a recompute — the in-place-rewrite case)."""
        meta = self._meta()
        base = _tok_arrays(docs, meta["id_col"], meta["text_col"])
        base = base.localCheckpoint(eager=True)
        store = self._layer("docs")
        stale, missing = self._stale_missing(self._ids(store),
                                             self._ids(base))
        mismatched = self._rewritten(store, base).count()
        return {"docs_store": store.count(), "docs_base": base.count(),
                "stale": stale, "missing": missing,
                "mismatched": mismatched,
                "ok": stale == 0 and missing == 0 and mismatched == 0}

    @staticmethod
    def _rewritten(store: DataFrame, base: DataFrame) -> DataFrame:
        """Ids whose stored token array differs from the base recompute."""
        toks = ("doc_id", F.array_sort("toks").alias("toks"))
        return (table_diff(store.select(*toks), base.select(*toks), "doc_id")
                .filter(F.col("change") == "changed").select("doc_id"))

    def resync(self, docs: DataFrame) -> dict:
        """Drop stale entries via narrow filtered rewrites (no
        re-tokenize of history) and append missing docs. In-place text
        rewrites (mismatched) are healed by dropping + re-appending the
        affected ids. The frozen token order is kept — see module
        docstring for when a full rebuild is the better call."""
        meta = self._meta()
        base = _tok_arrays(docs, meta["id_col"], meta["text_col"])
        base = base.localCheckpoint(eager=True)
        store = self._layer("docs")
        n_drop = self._drop_ids(
            self._ids(store).join(self._ids(base), "doc_id", "left_anti")
            .union(self._rewritten(store, base)).distinct(),
            "docs", "prefix")
        miss = (base.join(self._layer("docs").select("doc_id"), "doc_id",
                          "left_anti").localCheckpoint(eager=True))
        n_miss = miss.count()
        if n_miss:
            self._write_docs(miss, meta["min_num"])
        return {"dropped": n_drop, "indexed_missing": n_miss}

    # ------------------------------------------------------------ streaming

    def for_each_batch(self, matches_path: str | None = None,
                       threshold: float | None = None,
                       max_bucket: int | None | object = _SINK_DEFAULT):
        """Streaming ingest-dedup sink: append each micro-batch, writing
        its exact matches against the pre-batch corpus to
        ``matches_path`` (when given) — the lossless twin of
        DedupIndex's ingest-dedup sink. ``max_bucket`` inherits the
        probe-time skew guard (postings still land complete) and
        DEFAULTS to dedup.DEFAULT_MAX_BUCKET (VERDICT r6 #5): a
        long-running ingest stream must not let one boilerplate template
        accumulated in HISTORY make every future batch quadratic. Pass
        ``max_bucket=None`` for the exhaustively lossless opt-out. When
        the guard engages, its RuntimeWarning is re-emitted AND appended
        to ``<index>/guard_warnings.jsonl`` (batch_id + message) — the
        run report a stream operator reads, since foreachBatch warnings
        otherwise die on an executor-thread stderr."""
        import warnings as _warnings
        mb = DEFAULT_MAX_BUCKET if max_bucket is _SINK_DEFAULT else max_bucket

        def fold(batch: DataFrame, batch_id: int) -> None:
            with _warnings.catch_warnings(record=True) as caught:
                _warnings.simplefilter("always", RuntimeWarning)
                m = self.append(batch, threshold, max_bucket=mb)
                if matches_path is not None:
                    (m.withColumn("batch_id", F.lit(int(batch_id)))
                     .coalesce(1).write.mode("append").parquet(matches_path))
            guard = [w for w in caught if issubclass(w.category, RuntimeWarning)]
            if guard:
                report = os.path.join(self.path, "guard_warnings.jsonl")
                with open(report, "a", encoding="utf-8") as f:
                    for w in guard:
                        f.write(json.dumps({"batch_id": int(batch_id),
                                            "warning": str(w.message)}) + "\n")
            # record=True swallowed EVERYTHING; re-emit it all (ADVICE r7
            # — a Spark deprecation raised inside the block must not die
            # here), guard warnings included
            for w in caught:
                _warnings.warn_explicit(w.message, w.category,
                                        w.filename, w.lineno)
        return self._sink(fold)
