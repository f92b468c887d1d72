"""Materialized inverted index — the retrieval-serving complement of
``search.CorpusStats``: when ad-hoc term queries are MANY, re-scanning
the corpus per query (``bm25_topk``'s shape) loses to a postings store
that a term lookup prunes down to candidate documents only.

Layout on disk:

    <path>/postings/bucket=<b>/   (token, doc_id, tf, dl) partitioned by
                                  bucket = hash(token) % n_buckets, rows
                                  token-sorted inside each file -> a term
                                  lookup is directory pruning (bucket)
                                  + row-group pruning (token min/max)
    <path>/globals/               (n_docs, sum_dl) delta rows, summed by
                                  readers (same mergeable-delta pattern
                                  as CorpusStats)
    <path>/meta.json              n_buckets, column names

Postings carry the document length (Lucene-style norms denormalized into
the posting) so BM25 scoring needs NO join back to a doc table: score =
postings-of-terms joined with a k-term idf table, one groupBy(doc_id)
over candidate docs only. At 100 TB: q bucket directories read, df_t
postings per term, one narrow shuffle of candidates — corpus size only
enters through df_t.

Per-term document frequencies are EXACT from the pruned postings read
(count of postings), so idf needs no separate df store.

The reference has no text retrieval at all; this is training-pipeline
surface (build brief: similarity/search family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexusbase_spark.pipeline.text import tokens_col
from nexusbase_spark.store import ParquetStore


def _postings_of(docs: DataFrame, id_col: str, text_col: str,
                 n_buckets: int) -> tuple[DataFrame, DataFrame]:
    """(postings, globals_delta) for a document batch: one tokenize, one
    explode to (token, doc_id, tf, dl), plus the 1-row (n_docs, sum_dl)."""
    toks = tokens_col(F.col(text_col))
    d = docs.select(F.col(id_col).alias("doc_id"),
                    toks.alias("__t"),
                    F.size(toks).alias("dl"))
    d = d.localCheckpoint(eager=True)  # one tokenize, two consumers
    postings = (d.select("doc_id", "dl", F.explode("__t").alias("token"))
                .groupBy("token", "doc_id", "dl")
                .agg(F.count(F.lit(1)).alias("tf"))
                .withColumn("bucket",
                            F.pmod(F.hash("token"), F.lit(n_buckets))))
    # token-less docs contribute no postings and are excluded from N as
    # well (they can never match a term; keeping them out makes globals
    # exactly reconstructible from the postings during resync)
    glob = d.filter(F.col("dl") > 0).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"))
    return postings, glob


class InvertedIndex(ParquetStore):
    _layout = {"postings": ("bucket", "token")}

    # ---------------------------------------------------------------- build

    @classmethod
    def build(cls, spark: SparkSession, path: str, docs: DataFrame, *,
              id_col: str = "doc_id", text_col: str = "text",
              n_buckets: int = 64) -> "InvertedIndex":
        ix = cls(spark, path)
        ix._write_meta({"id_col": id_col, "text_col": text_col,
                        "n_buckets": n_buckets})
        ix._fold(docs, "overwrite")
        return ix

    def _globals(self) -> tuple[int, float]:
        # cached per instance: serving reads this once, appends/resyncs
        # invalidate (the globals delta table is tiny either way — the
        # cache only saves the per-query job-submission latency)
        if getattr(self, "_globals_cache", None) is None:
            g = (self._layer("globals")
                 .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
                 .collect()[0])
            n = int(g["n"] or 0)
            self._globals_cache = (n, (float(g["s"]) / n if n else 0.0))
        return self._globals_cache

    # --------------------------------------------------------------- append

    def append(self, docs: DataFrame) -> None:
        """Fold a new document batch in: append its postings under their
        buckets and one globals delta row. Never touches history."""
        self._fold(docs, "append")

    def _fold(self, docs: DataFrame, mode: str) -> None:
        meta = self._meta()
        postings, glob = _postings_of(docs, meta["id_col"],
                                      meta["text_col"], meta["n_buckets"])
        self._write_layer(postings, "postings", mode)
        self._write_layer(glob.coalesce(1), "globals", mode)
        self._globals_cache = None

    def for_each_batch(self):
        """Structured-Streaming sink: fold each document micro-batch into
        the postings store. Retrieval served from the index stays current
        under continuous ingest."""
        return self._sink(lambda batch, _: self.append(batch))

    # --------------------------------------------------------------- search

    def term_postings(self, terms: list[str]) -> DataFrame:
        """Pruned postings for ``terms``: bucket partition filter +
        token predicate (row-group min/max inside token-sorted files)."""
        meta = self._meta()
        buckets = self._buckets_of(terms, meta["n_buckets"])
        return (self._layer("postings")
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("token").isin(list(terms))))

    def _buckets_of(self, terms: list[str], n_buckets: int) -> list[int]:
        """Buckets for all terms in ONE local job (mirror of
        F.pmod(F.hash(token), n_buckets) — the Murmur3 the writer used;
        a 1-row-per-term local relation, no executor round trip)."""
        rows = (self.spark.createDataFrame([(t,) for t in terms],
                                           "token string")
                .select(F.pmod(F.hash("token"), F.lit(n_buckets)).alias("b"))
                .collect())
        return sorted({int(r["b"]) for r in rows})

    def search(self, query_terms: list[str], k: int = 10, *,
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
        """BM25 top-k over the index: only documents containing at least
        one query term are candidates (docs matching nothing never enter,
        unlike the scan path which scores them 0). Identical per-term
        arithmetic and rank-stable 1e-4 quantization as search.bm25_topk;
        ties break on doc_id.

        Plan shape: pruned postings read (q buckets), per-term df as a
        k-row aggregate broadcast back, one groupBy(doc_id) over the
        candidate postings, TakeOrderedAndProject."""
        if not query_terms:
            raise ValueError("query_terms must be non-empty")
        from pyspark.sql import Window

        n_docs, avgdl = self._globals()
        posts = self.term_postings(query_terms)
        # per-term df via a window over the candidate postings — ONE
        # pruned scan (an agg+broadcast-join would read it twice), and
        # the only rows ever shuffled are the candidates themselves
        j = posts.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("token")))
        idf = F.log((F.lit(float(n_docs)) - F.col("__df") + 0.5)
                    / (F.col("__df") + 0.5) + 1.0)
        tf = F.col("tf").cast("double")
        contrib = (idf * tf * (k1 + 1.0)
                   / (tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))))
        scored = (j.withColumn("__c", contrib)
                  .groupBy("doc_id").agg(F.sum("__c").alias("__s")))
        q = (F.floor(F.col("__s") * 1e4 + F.lit(0.5)) / 1e4).alias("score")
        return (scored.select("doc_id", q)
                .orderBy(F.col("score").desc(), F.col("doc_id"))
                .limit(k))

    # ---------------------------------------------------------------- audit

    def _tokened_ids(self, docs: DataFrame, meta: dict) -> DataFrame:
        """Base ids the index should hold: a token-less doc legitimately
        has no postings — it is counted in globals but can never be
        "missing" from the postings store."""
        return self._ids(docs.filter(
            F.size(tokens_col(F.col(meta["text_col"]))) > 0), meta["id_col"])

    def verify(self, docs: DataFrame, sample: int | None = None,
               salt: str = "verify-v1") -> dict:
        """Sampled consistency audit against the base corpus: stale =
        indexed doc gone from the base; missing = base doc never indexed;
        mismatched = for a deterministic salted-md5 sample of shared ids,
        the recomputed (token, tf, dl) postings differ from the stored
        ones. Globals are audited exactly (n_docs/sum_dl vs the base
        recount)."""
        meta = self._meta()
        idc = meta["id_col"]
        base_ids = self._ids(docs, idc)
        store_ids = self._ids(self._layer("postings"))
        has_toks = self._tokened_ids(docs, meta)
        stale, missing = self._stale_missing(store_ids, base_ids, has_toks)
        shared, checked = self._pinned_sample(store_ids, base_ids, sample,
                                              salt)
        mismatched = 0
        if checked:
            picked = docs.join(shared.withColumnRenamed("doc_id", idc), idc)
            rec, _ = _postings_of(picked, idc, meta["text_col"],
                                  meta["n_buckets"])
            keys = ["doc_id", "token"]
            r = rec.select(*keys, F.col("tf").alias("__rtf"),
                           F.col("dl").alias("__rdl"))
            s = (self._layer("postings").join(shared, "doc_id")
                 .select(*keys, F.col("tf").alias("__stf"),
                         F.col("dl").alias("__sdl")))
            mismatched = (s.join(r, keys, "full_outer")
                          .filter(F.col("__stf").isNull()
                                  | F.col("__rtf").isNull()
                                  | (F.col("__stf") != F.col("__rtf"))
                                  | (F.col("__sdl") != F.col("__rdl")))
                          .select("doc_id").distinct().count())
        n_docs, avgdl = self._globals()
        tok_n = has_toks.count()
        toks = tokens_col(F.col(meta["text_col"]))
        base_sum = docs.agg(
            F.coalesce(F.sum(F.size(toks)), F.lit(0)).alias("s")
        ).collect()[0]["s"]
        globals_ok = (n_docs == tok_n
                      and (n_docs == 0
                           or abs(avgdl - base_sum / tok_n) < 1e-9))
        return {"docs_store": store_ids.count(),
                "docs_base": base_ids.count(),
                "stale": stale, "missing": missing, "checked": checked,
                "mismatched": mismatched, "globals_ok": globals_ok,
                "ok": (stale == 0 and missing == 0 and mismatched == 0
                       and globals_ok)}

    def resync(self, docs: DataFrame) -> dict:
        """Re-sync after a corpus rewrite: stale postings dropped via a
        narrow filtered rewrite (no re-tokenize of history), missing docs
        tokenized and appended, globals rebuilt from the surviving
        postings' per-doc lengths + the fresh batch (exact, no corpus
        re-scan: dl lives in the postings)."""
        meta = self._meta()
        idc = meta["id_col"]
        n_stale = self._drop_ids(
            self._ids(self._layer("postings"))
            .join(self._ids(docs, idc), "doc_id", "left_anti"), "postings")
        if n_stale:
            # rebuild globals exactly from surviving per-doc lengths
            g = (self._layer("postings").groupBy("doc_id")
                 .agg(F.first("dl").alias("dl"))
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"))
                 .localCheckpoint(eager=True))
            self._write_layer(g.coalesce(1), "globals", "overwrite")
        has_toks = self._tokened_ids(docs, meta)
        missing = (has_toks.join(self._ids(self._layer("postings")),
                                 "doc_id", "left_anti")
                   .withColumnRenamed("doc_id", idc))
        n_missing = missing.count()
        if n_missing:
            self.append(docs.join(missing, idc))
        self._globals_cache = None
        return {"dropped_stale": n_stale, "indexed_missing": n_missing}
