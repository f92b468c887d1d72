"""Full-text relevance search: BM25 scoring and top-k retrieval.

The retrieval primitive a training-data pipeline needs next to dedup and
decontamination: "find the corpus documents most relevant to this probe
query" (eval-set leakage triage, targeted corpus audits, boosted sampling).

Spark-first shape — for a FIXED small set of query terms the whole scoring
pass is narrow column arithmetic:

- per-doc term frequencies come from ``F.filter`` over the token array
  (one pass per query term, JVM-side, no explode and therefore no shuffle
  proportional to token count);
- the corpus statistics BM25 needs (N, avgdl, per-term document
  frequencies) collapse into ONE global aggregate row — a single partial
  (map-side-combined) agg over the scan — broadcast back with a cross
  join;
- ranking is ``orderBy().limit(k)`` which Spark executes as
  TakeOrderedAndProject: per-partition top-k heaps merged on the driver,
  never a global sort.

At 100 TB that is: one scan with map-side stat combine, one 1-row
broadcast, one scan re-use for scoring, one distributed top-k. Nothing
quadratic, nothing driver-sided beyond k rows and one stats row.
(An inverted-index materialization only starts to win when queries are
many and ad-hoc; for pipeline-style batch probes the scan dominates
either way.)

Scores are floor-quantized to 1e-4 before ranking so the rank order is
reproducible across engines (see tests/test_oracle_parity notes on float
last-ulp drift); ties break on doc_id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.pipeline.expectations import table_diff
from nexusbase_spark.pipeline.text import tokens_col
from nexusbase_spark.store import ParquetStore


def _tf(toks, term: str):
    """Occurrences of ``term`` in the token array — a single filtered pass,
    no explode."""
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bm25_scores(df: DataFrame, query_terms: list[str], *,
                k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document BM25 relevance for ``query_terms``.

    Robertson idf = ln((N - df + 0.5)/(df + 0.5) + 1) (non-negative form);
    per-term contribution = idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)).
    The score sums term contributions in the given, fixed order so float
    addition associates identically on any engine re-implementing it.

    Output: (id_col, dl, tf_<i> per term, score) — score NOT yet
    quantized; ``bm25_topk`` handles rank-stable quantization.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # tokenize in its own projection: dl + one tf per term otherwise each
    # re-derive the whole-text split (r9)
    toks = F.col("__toks")
    scored = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"),
    ).select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[_tf(toks, t).alias(f"tf_{i}") for i, t in enumerate(query_terms)],
    )
    # ONE corpus-stats row: N, avgdl, df per term (map-side combinable).
    stats = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(query_terms))],
    )
    j = scored.crossJoin(F.broadcast(stats))

    def contrib(i: int):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5) + 1.0)
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        return idf * tf * (k1 + 1.0) / denom

    score = reduce(lambda acc, i: acc + contrib(i),
                   range(1, len(query_terms)), contrib(0))
    return j.select(
        id_col, "dl",
        *[f"tf_{i}" for i in range(len(query_terms))],
        score.alias("score"))


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10, *,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-k docs by BM25, rank-stable: score floor-quantized to 1e-4,
    ties broken by id. Docs matching no term score 0 and only appear when
    fewer than k docs match. Compiles to TakeOrderedAndProject."""
    scored = bm25_scores(df, query_terms, k1=k1, b=b,
                         text_col=text_col, id_col=id_col)
    q = (F.floor(F.col("score") * 1e4 + F.lit(0.5)) / 1e4).alias("score")
    return (scored.select(id_col, q)
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


def rrf_fuse(shortlists: list[DataFrame], k: int = 10, *,
             c: int = 60, id_col: str = "doc_id",
             score_col: str = "score",
             score_quant: float = 1e4) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N ranked
    shortlists: fused(d) = sum over lists of 1/(c + rank_list(d)), docs
    absent from a list contribute nothing for it. The standard hybrid
    lexical+dense retrieval combiner — rank-based, so BM25 and cosine
    scores need no calibration onto a shared scale.

    Each input is an already-retrieved shortlist (id_col, score_col) —
    the k-row output of ``bm25_topk`` / ``similarity.cosine_topk`` — so
    every DataFrame here is at most shortlist-sized; the unpartitioned
    rank window and the final top-k run over O(sum of shortlist lengths)
    rows, never the corpus. At 100 TB the heavy lifting stays in the
    retrievers (scan-shaped, distributed); fusion is a constant-size
    epilogue.

    Determinism: ranks are assigned on the FLOOR-QUANTIZED score
    (``score_quant``, matching the retrievers' own rank quantization)
    with ties broken by id, and the fused score is floor-quantized to
    1e-6 before the final ordering — identical ranks and output on any
    engine re-implementing the arithmetic.
    """
    from pyspark.sql import Window

    if not shortlists:
        raise ValueError("shortlists must be non-empty")
    ranked = []
    w = Window.orderBy(F.col("__qs").desc(), F.col(id_col))
    for sl in shortlists:
        qs = F.floor(F.col(score_col).cast("double") * score_quant
                     + F.lit(0.5)) / score_quant
        ranked.append(
            sl.select(F.col(id_col), qs.alias("__qs"))
              .withColumn("__r", F.row_number().over(w))
              .select(id_col,
                      (F.lit(1.0) / (F.lit(float(c)) + F.col("__r")))
                      .alias("__w")))
    u = reduce(lambda a, b: a.union(b), ranked)
    fused = (F.floor(F.sum("__w") * 1e6 + F.lit(0.5)) / 1e6).alias("rrf")
    return (u.groupBy(id_col).agg(fused)
            .orderBy(F.col("rrf").desc(), F.col(id_col))
            .limit(k))


def mmr_select(shortlist: DataFrame, k: int = 5, *,
               id_col: str = "vec_id", rel_col: str = "rel",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell/Goldstein
    1998, lambda = 0.5) of a retrieval shortlist: greedily pick the
    candidate maximizing relevance minus its similarity to anything
    already picked — the standard redundancy-removal epilogue before
    showing (or sampling) retrieved context.

    Scale shape: candidate-pair similarities are computed IN SPARK (a
    self-join of the shortlist — at most |shortlist|^2 tiny rows, e.g.
    20x20); only the quantized (id, rel) list and pair-sim list land on
    the driver for the k-step greedy loop, which is O(k*|shortlist|)
    over <= a few hundred numbers — the same shortlist-sized epilogue
    contract as ``rrf_fuse``. Nothing corpus-sized leaves the cluster.

    Determinism — integer lattice (see pipeline/graph.py's PageRank
    note): rel and pair-sims floor-quantize to 1e-4 and are then scaled
    to exact int64; with lambda = 1/2 the MMR objective
    0.5*rel - 0.5*maxsim orders identically to the INTEGER score
    rel_q - maxsim_q, so the greedy argmax (ties -> min id) involves no
    float comparison at all on either engine.

    Output: (id_col, sel_rank 1..k, mmr_score = the integer objective /
    1e4 as double; the first pick's score is its relevance).
    """
    q4i = lambda c: F.floor(c.cast("double") * 1e4 + F.lit(0.5))  # noqa: E731
    base = shortlist.select(F.col(id_col).alias("__id"),
                            q4i(F.col(rel_col)).cast("long").alias("__rel"),
                            F.col(vec_col).alias("__v")).localCheckpoint(True)
    a, b = base.alias("a"), base.alias("b")
    from nexusbase_spark.pipeline.similarity import cosine_sim_expr
    pair_rows = (a.join(b, F.col("a.__id") < F.col("b.__id"))
                 .select(F.col("a.__id").alias("ia"),
                         F.col("b.__id").alias("ib"),
                         q4i(cosine_sim_expr(F.col("a.__v"), F.col("b.__v")))
                         .cast("long").alias("s"))
                 .collect())
    sims: dict[tuple, int] = {}
    for r in pair_rows:
        sims[(r["ia"], r["ib"])] = sims[(r["ib"], r["ia"])] = int(r["s"])
    cands = {r["__id"]: int(r["__rel"]) for r in base.collect()}
    picked: list[tuple] = []
    chosen: list = []
    for step in range(1, min(k, len(cands)) + 1):
        best = None
        for cid, rel in cands.items():
            if chosen:
                score = rel - max(sims.get((cid, s), 0) for s in chosen)
            else:
                score = rel
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, score)
        picked.append((best[1], step, best[2] / 1e4))
        chosen.append(best[1])
        del cands[best[1]]
    spark = shortlist.sparkSession
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    # ADVICE r4: derive the id field's type from the input — id_col is a
    # free parameter, so string (or any) ids must round-trip unchanged.
    id_type = shortlist.schema[id_col].dataType
    out_schema = StructType([StructField(id_col, id_type, True),
                             StructField("sel_rank", LongType(), True),
                             StructField("mmr_score", DoubleType(), True)])
    return spark.createDataFrame(picked, out_schema)


class CorpusStats(ParquetStore):
    """Incrementally-maintained BM25 corpus statistics — the streaming
    composition of ``bm25_scores``'s one-row aggregate (VERDICT r3 next
    #8): under continuous ingest the N/avgdl/df statistics are kept
    current by folding each document micro-batch into a persistent
    store, so retrieval never pays a full-corpus recompute.

    Store layout (all mergeable, append-only between compactions):

        <path>/globals/   delta rows (n_docs, sum_dl) — one per batch;
                          readers SUM them (count-sketch-free exact merge)
        <path>/df/        delta rows (token, df) — per-batch distinct-doc
                          counts per token; readers sum per token

    Scale shape: an update appends O(batch vocabulary) narrow rows and
    never rewrites history; a lookup reads the globals (tiny) plus the
    df table FILTERED to the query terms — a pushed-down predicate on a
    token-sorted parquet, touching a few row groups, not the vocabulary.
    ``compact()`` folds the deltas into one aggregated layer (token-sorted
    for row-group pruning) when the delta count grows. This is the same
    delta + compact + pushdown-lookup pattern as the engine's rollups.
    """

    _layout = {"df": (None, "token")}

    # ---------------------------------------------------------------- build

    @classmethod
    def build(cls, spark, path: str, docs: DataFrame, *,
              text_col: str = "text", id_col: str = "doc_id") -> "CorpusStats":
        st = cls(spark, path)
        st._write_meta({"text_col": text_col, "id_col": id_col})
        # seed with empty globals so a lookup before any update is defined
        st._write_layer(
            spark.createDataFrame([(0, 0)], "n_docs long, sum_dl long")
            .coalesce(1), "globals", "overwrite")
        st._write_layer(
            spark.createDataFrame([], "token string, df long").coalesce(1),
            "df", "overwrite")
        if docs is not None and docs.head(1):
            st.update(docs)
        return st

    def _deltas(self, docs: DataFrame,
                sign: int = 1) -> tuple[DataFrame, DataFrame]:
        """One tokenize of ``docs`` -> its (n_docs, sum_dl) row and its
        per-token distinct-doc (token, df) rows, scaled by ``sign``."""
        toks = tokens_col(F.col(self._meta()["text_col"]))
        d = docs.select(F.array_distinct(toks).alias("__t"),
                        F.size(toks).alias("__dl"))
        d = d.localCheckpoint(eager=True)  # one tokenize, two consumers
        glob = d.agg((sign * F.count(F.lit(1))).alias("n_docs"),
                     (sign * F.coalesce(F.sum("__dl"), F.lit(0)))
                     .alias("sum_dl"))
        df_t = (d.select(F.explode("__t").alias("token"))
                .groupBy("token").agg((sign * F.count(F.lit(1))).alias("df")))
        return glob, df_t

    def _append_deltas(self, docs: DataFrame, sign: int) -> None:
        glob, df_t = self._deltas(docs, sign)
        self._write_layer(glob.coalesce(1), "globals")
        self._write_layer(df_t, "df")

    # --------------------------------------------------------------- update

    def update(self, batch: DataFrame) -> None:
        """Fold one document batch into the store: one narrow pass for
        (n_docs, sum_dl), one distinct-token explode for df deltas.
        Append-only — never reads or rewrites existing stats."""
        self._append_deltas(batch, 1)

    def retire(self, removed: DataFrame) -> None:
        """Retention-event fold: subtract a batch of aged-out documents
        by appending NEGATIVE deltas — one (−n_docs, −sum_dl) globals row
        and one −df row per distinct token of the removed batch. Readers
        already SUM deltas, so the store stays exact without touching
        history: O(removed batch), never O(corpus) — the same
        mergeable-delta contract as ``update``. Retention always knows
        which docs it drops, so the removed frame is free at the call
        site; when it is NOT available, fall back to ``resync``."""
        self._append_deltas(removed, -1)

    # ----------------------------------------------------------- audit/heal

    def verify(self, docs: DataFrame) -> dict:
        """Exact audit against the base corpus: recompute (n_docs,
        sum_dl) and the per-token df table from the base and compare
        with the summed store. ``df_mismatched`` counts tokens whose
        summed df differs (``table_diff``, so both phantom and lost
        tokens count). One tokenize pass + one anti-joined rollup — O(corpus
        vocabulary), the audit's inherent cost."""
        want_g, want_df = self._deltas(docs)
        want = want_g.collect()[0]
        g = (self._layer("globals")
             .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n"),
                  F.coalesce(F.sum("sum_dl"), F.lit(0)).alias("s"))
             .collect()[0])
        have_df = (self._layer("df")
                   .groupBy("token").agg(F.sum("df").alias("df"))
                   .filter(F.col("df") != 0))  # fully-retired tokens
        df_mismatched = table_diff(have_df, want_df, "token").count()
        n_want, s_want = int(want["n_docs"]), int(want["sum_dl"])
        return {"n_docs_store": int(g["n"]), "n_docs_base": n_want,
                "sum_dl_store": int(g["s"]), "sum_dl_base": s_want,
                "df_mismatched": df_mismatched,
                "ok": (int(g["n"]) == n_want and int(g["s"]) == s_want
                       and df_mismatched == 0)}

    def resync(self, docs: DataFrame) -> dict:
        """Heal after an untracked corpus rewrite: rebuild both layers
        from the base corpus (stats are corpus-wide sums, so unlike the
        postings stores there is no per-doc narrow rewrite — O(corpus),
        the heal-path cost; TRACKED retention should use ``retire``,
        which is O(batch)). Returns the rebuilt globals."""
        g, df_t = self._deltas(docs)
        g = g.localCheckpoint(eager=True)
        self._write_layer(g.coalesce(1), "globals", "overwrite")
        self._write_layer(df_t, "df", "overwrite")
        row = g.collect()[0]
        return {"n_docs": int(row["n_docs"]), "sum_dl": int(row["sum_dl"])}

    def compact(self) -> None:
        """Fold the delta layers into one: globals to a single row, df to
        one token-aggregated, token-sorted layer (row-group pruning for
        term lookups). Tokens whose df nets to zero (fully retired via
        negative deltas) are dropped from the compacted layer."""
        g = (self._layer("globals")
             .agg(F.sum("n_docs").alias("n_docs"),
                  F.sum("sum_dl").alias("sum_dl"))
             .localCheckpoint(eager=True))
        df_t = (self._layer("df")
                .groupBy("token").agg(F.sum("df").alias("df"))
                .filter(F.col("df") != 0)
                .localCheckpoint(eager=True))
        self._write_layer(g.coalesce(1), "globals", "overwrite")
        self._write_layer(df_t, "df", "overwrite")

    # --------------------------------------------------------------- lookup

    def lookup(self, query_terms: list[str]) -> tuple[int, float, list[int]]:
        """(n_docs, avgdl, df per term). Globals sum a handful of delta
        rows; term dfs come from a pushed-down IN-filter over the df
        table — k terms, a few row groups, never the vocabulary."""
        g = (self._layer("globals")
             .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
             .collect()[0])
        n_docs = int(g["n"] or 0)
        avgdl = (float(g["s"]) / n_docs) if n_docs else 0.0
        rows = (self._layer("df")
                .filter(F.col("token").isin(list(query_terms)))
                .groupBy("token").agg(F.sum("df").alias("df"))
                .collect())
        by_tok = {r["token"]: int(r["df"]) for r in rows}
        return n_docs, avgdl, [by_tok.get(t, 0) for t in query_terms]

    # ------------------------------------------------------------ streaming

    def for_each_batch(self):
        """Structured-Streaming sink: fold each micro-batch of documents
        into the stats store."""
        return self._sink(lambda batch, _: self.update(batch))


def bm25_topk_served(df: DataFrame, stats: CorpusStats,
                     query_terms: list[str], k: int = 10, *,
                     k1: float = 1.2, b: float = 0.75,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-k BM25 retrieval SERVED from a ``CorpusStats`` store: the
    N/avgdl/df aggregate is a driver-side constant lookup (no corpus
    pass for statistics) and the only scan of ``df`` is the scoring
    pass itself. With stats maintained by the ingest stream this is the
    continuously-correct retrieval path. Identical scoring arithmetic
    and rank-stable quantization as ``bm25_topk``."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    n_docs, avgdl, dfs = stats.lookup(query_terms)
    # tokenize in its own projection: dl + one tf per term otherwise each
    # re-derive the whole-text split (r9)
    toks = F.col("__toks")
    scored = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"),
    ).select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[_tf(toks, t).alias(f"tf_{i}") for i, t in enumerate(query_terms)],
    )

    def contrib(i: int):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log((F.lit(float(n_docs)) - dfs[i] + 0.5)
                    / (dfs[i] + 0.5) + 1.0)
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
        return idf * tf * (k1 + 1.0) / denom

    score = reduce(lambda acc, i: acc + contrib(i),
                   range(1, len(query_terms)), contrib(0))
    q = (F.floor(score * 1e4 + F.lit(0.5)) / 1e4).alias("score")
    return (scored.select(id_col, q)
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))
