"""Mergeable cardinality sketches (DataSketches HLL, Spark built-ins).

The reference answers "how many distinct series/users in [t1, t2]" by
re-scanning the index (engine2's cardinality surfaces count at query
time); at 100 TB a COUNT(DISTINCT) over raw events is a full shuffle of
the key space every time someone moves a dashboard's time slider.

The warehouse answer is a SKETCH ROLLUP: one tiny HLL sketch per
(metric, day) materialized once at ingest, then ANY time range's distinct
count is a register-wise union of the covered days' sketches —
``hll_union_agg`` + ``hll_sketch_estimate``, milliseconds over kilobytes,
never touching raw data. The sketches are binary-mergeable across
partitions, executors, days, and even separately-written parquet files,
which is exactly the property COUNT(DISTINCT) lacks (distinct counts do
NOT add; sketches union losslessly).

Register-wise max is commutative/associative/idempotent, so estimates are
deterministic under any partitioning, and re-ingesting a day's sketch is
harmless. Standard error ~= 1.04 / sqrt(2^lg_k): lg_k=14 -> ~0.8%, 12 KiB
per sketch. All JVM-side (org.apache.datasketches via Spark built-ins) —
no Python in the loop.

Approximation is the documented trade: the DuckDB oracle cannot
reproduce DataSketches registers, so the gate query
(events_hll_daily_users) is hash-checked as a BOUNDED-ERROR CLAIM —
it emits |est/exact - 1| <= bound as a boolean beside the exact count,
and the oracle asserts the boolean (VERDICT r7 #2). Exact companions
(events_series_cardinality) and the bit-exact md5-register twins
(events_hll_md5_daily/weekly_users) carry the estimator math in the
hash gate directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.store import ParquetStore


def daily_user_sketches(events: DataFrame, day_col: Column, *,
                        key: str = "user_id", metric: str = "event_type",
                        lg_k: int = 14) -> DataFrame:
    """One HLL sketch of distinct ``key`` per (metric, day) — the
    materialized rollup row. Map-side partial sketches combine before the
    single (metric, day) shuffle, so the exchange moves sketches, not
    keys."""
    return (events
            .select(F.col(metric).alias("metric"), day_col.alias("day"),
                    F.col(key).alias("k"))
            .groupBy("metric", "day")
            .agg(F.hll_sketch_agg("k", F.lit(lg_k)).alias("sketch")))


def estimate_daily(sketches: DataFrame) -> DataFrame:
    """(metric, day, users_est) from the rollup — no raw-data touch."""
    return sketches.select(
        "metric", "day",
        F.hll_sketch_estimate("sketch").alias("users_est"))


def estimate_range(sketches: DataFrame, day_from: int, day_to: int) -> DataFrame:
    """Distinct-count estimate per metric over [day_from, day_to]
    (inclusive): union the covered days' sketches, then estimate. The
    range filter prunes on the rollup's day column; the union shuffles
    one sketch per (metric, day) — constant-size work however wide the
    range or large the raw corpus."""
    return (sketches
            .filter((F.col("day") >= day_from) & (F.col("day") <= day_to))
            .groupBy("metric")
            .agg(F.hll_sketch_estimate(
                F.hll_union_agg("sketch", F.lit(True))).alias("users_est")))


# --------------------------------------------------------------------------
# Count-min sketch (Cormode/Muthukrishnan 2005) — the mergeable FREQUENCY
# sketch beside HLL (cardinality) and t-digest (quantiles): approximate
# per-item counts in fixed d x w space, always >= truth, over-estimate
# bounded by eps*N with eps = e/w at confidence 1 - e^-d. Same md5-affine
# universal-hash family as MinHash (pipeline/dedup.minhash_params), so
# sketches built anywhere — any partitioning, any engine mirroring the
# arithmetic — are bit-identical tables and merge by plain cell-wise SUM.

CMS_P = 2_147_483_647


def _cms_cell(col: Column, j: int, width: int) -> Column:
    a, b = 104_729 * j + 12_823, 98_653 * j + 54_059
    h = (F.conv(F.substring(F.md5(col), 1, 15), 16, 10)
         .cast("long") % CMS_P)
    return (h * a + b) % CMS_P % width


def cms_build(df: DataFrame, col: str, depth: int = 4,
              width: int = 256) -> DataFrame:
    """Sketch a column of items into a (j, cell, cnt) table — the CMS in
    relational form (d*w rows at most, independent of item cardinality).
    One explode to depth rows per item + one map-side-combined rollup;
    the exchange carries at most d*w cells."""
    rows = F.array(*[
        F.struct(F.lit(j).alias("j"),
                 _cms_cell(F.col(col), j, width).alias("cell"))
        for j in range(depth)])
    return (df.select(F.explode(rows).alias("e"))
            .select("e.j", "e.cell")
            .groupBy("j", "cell").agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum — the lossless merge COUNT lacks: sketches of
    disjoint shards built independently union to exactly the sketch of
    the union (deterministic table equality, tested)."""
    from functools import reduce
    u = reduce(lambda a, b: a.union(b), sketches)
    return u.groupBy("j", "cell").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, items: list[str], depth: int = 4,
                 width: int = 256) -> DataFrame:
    """Point-query estimates: min over rows j of the item's cell count
    (absent cell = 0). The probe plan joins a k-item literal frame
    against the d*w-bounded sketch — milliseconds, never the corpus."""
    spark = sketch.sparkSession
    probe = spark.createDataFrame([(it,) for it in items], "item string")
    cells = probe.select("item", F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 _cms_cell(F.col("item"), j, width).alias("cell"))
        for j in range(depth)])).alias("e")).select("item", "e.j", "e.cell")
    joined = (cells.join(sketch, ["j", "cell"], "left")
              .select("item", F.coalesce("cnt", F.lit(0)).alias("c")))
    return (joined.groupBy("item")
            .agg(F.min("c").cast("long").alias("estimate")))


# the CMSStore layer cms_candidate_gate appends its threshold-crossers to
_CANDIDATES = "candidates"


class CMSStore(ParquetStore):
    """Persistent count-min sketch under continuous ingest: each
    micro-batch appends its own d x w cell table (O(d*w) rows, never a
    history rewrite), readers SUM cells, ``compact()`` folds the delta
    layers. Gives a stream approximate per-item counts in fixed space —
    the pre-filter in front of exact heavy-hitter verification when the
    key space is unbounded."""

    @classmethod
    def build(cls, spark, path: str, *, col: str = "tok",
              depth: int = 4, width: int = 256) -> "CMSStore":
        st = cls(spark, path)
        st._write_meta({"col": col, "depth": depth, "width": width})
        st._write_layer(spark.createDataFrame([], "j int, cell long, cnt long")
                        .coalesce(1), "cells", "overwrite")
        return st

    def update(self, batch: DataFrame) -> None:
        m = self._meta()
        self._write_layer(cms_build(batch, m["col"], m["depth"], m["width"])
                          .coalesce(1), "cells")

    def _cells(self) -> DataFrame:
        return (self._layer("cells")
                .groupBy("j", "cell").agg(F.sum("cnt").alias("cnt")))

    def estimate(self, items: list[str]) -> dict[str, int]:
        m = self._meta()
        rows = cms_estimate(self._cells(), items,
                            m["depth"], m["width"]).collect()
        return {r["item"]: int(r["estimate"]) for r in rows}

    def compact(self) -> None:
        import os
        folded = self._cells().localCheckpoint(eager=True)
        self._write_layer(folded.coalesce(1), "cells", "overwrite")
        # The candidate-gate table (one small appended file per batch that
        # crossed the threshold) folds too: distinct items, one file. Its
        # batch_id provenance is compaction-scoped by design — the gate's
        # contract is the distinct candidate SET, which dedup preserves.
        if os.path.isdir(os.path.join(self.path, _CANDIDATES)):
            cand = (self._layer(_CANDIDATES)
                    .groupBy("item")
                    .agg(F.max("estimate").alias("estimate"),
                         F.max("batch_id").alias("batch_id"))
                    .localCheckpoint(eager=True))
            self._write_layer(cand.coalesce(1), _CANDIDATES, "overwrite")

    def for_each_batch(self):
        return self._sink(lambda batch, _: self.update(batch))


def cms_estimate_df(sketch: DataFrame, probe: DataFrame, col: str,
                    depth: int = 4, width: int = 256) -> DataFrame:
    """Distributed point-query estimates: like ``cms_estimate`` but the
    probe set is a DataFrame column, never a driver-side list — the form
    a streaming gate needs when a micro-batch's distinct-token set is
    itself too large to collect. Output: (item, estimate). The join is
    probe x d rows against the d*w-bounded sketch (broadcast-sized by
    construction), so cost tracks the probe, not the corpus."""
    cells = (probe.select(F.col(col).alias("item")).distinct()
             .select("item", F.explode(F.array(*[
                 F.struct(F.lit(j).alias("j"),
                          _cms_cell(F.col("item"), j, width).alias("cell"))
                 for j in range(depth)])).alias("e"))
             .select("item", "e.j", "e.cell"))
    joined = (cells.join(sketch, ["j", "cell"], "left")
              .select("item", F.coalesce("cnt", F.lit(0)).alias("c")))
    return (joined.groupBy("item")
            .agg(F.min("c").cast("long").alias("estimate")))


def cms_candidate_gate(store: "CMSStore", threshold: int):
    """CMS-backed streaming heavy-hitter pre-filter (foreachBatch): fold
    each micro-batch into the persistent sketch, then estimate the
    RUNNING count of just this batch's distinct tokens against the
    updated sketch and append the ones at/above ``threshold`` to a
    candidates table.

    LOSSLESS for recall by the CMS one-sided error: an estimate is
    always >= the true running count, and every token's final
    occurrence is in SOME batch — at that batch its running count is
    its stream total, so any token with true total >= threshold is
    guaranteed to be emitted (possibly alongside collision false
    positives). Exact verification over the candidate set only
    (``verify_gate_candidates``) removes the false positives; state is
    O(d*w) regardless of vocabulary, which is the whole point — an
    exact running count per token would hold the unbounded key space.
    """
    def fold(batch: DataFrame, batch_id: int) -> None:
        m = store._meta()
        store.update(batch)
        est = cms_estimate_df(store._cells(), batch, m["col"],
                              m["depth"], m["width"])
        store._write_layer(est.filter(F.col("estimate") >= threshold)
                           .withColumn("batch_id", F.lit(int(batch_id)))
                           .coalesce(1), _CANDIDATES)
    return store._sink(fold)


def gate_candidates(store: "CMSStore") -> DataFrame:
    """Distinct candidate tokens the gate has emitted so far. Before any
    batch crosses the threshold the candidates path does not exist —
    that is the legitimate "no heavy hitters yet" state, so it reads as
    an empty (item) frame, not a missing-path error."""
    import os
    if not os.path.isdir(os.path.join(store.path, _CANDIDATES)):
        return store.spark.createDataFrame([], "item string")
    return store._layer(_CANDIDATES).select(F.col("item")).distinct()


def verify_gate_candidates(corpus: DataFrame, store: "CMSStore",
                           col: str, threshold: int) -> DataFrame:
    """Exact verification pass over the gate's candidate set only:
    count ``col`` occurrences restricted to candidates (broadcast semi
    join — the candidate table is heavy-hitter-sized by construction)
    and keep true counts >= threshold. candidates ∩ exact = the true
    heavy set; CMS collisions die here. Output: (item, cnt)."""
    cand = gate_candidates(store)
    # lint: k-row (gate candidates are threshold-crossers, not the vocab)
    return (corpus.join(F.broadcast(cand),
                        corpus[col] == cand["item"], "left_semi")
            .groupBy(F.col(col).alias("item"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= threshold))


# --------------------------------------------------------------------- bloom
# Deterministic Bloom filter on the shared md5+affine hash family — the
# broadcastable membership pre-filter in front of exact joins (the 100TB
# decontamination shape: the eval set's raw shingles may be GBs, the
# filter is m/63 int64 words). 63 bits per word, NOT 64: DuckDB's checked
# BIGINT shift refuses 1<<63, and capping the shift at 62 keeps every
# mask positive and bit-identical in both engines.

BLOOM_BITS_PER_WORD = 63


def _bloom_positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """k bit positions of one element: the minhash affine family over
    the 31-bit md5 base hash — same coefficients as the DuckDB mirror,
    pure integer arithmetic (products < 2^51, overflow-free)."""
    from nexusbase_spark.pipeline.dedup import (MINHASH_P, base_hash31,
                                                minhash_params)
    h = base_hash31(col)
    return [((h * F.lit(a) + F.lit(b)) % MINHASH_P % F.lit(m_bits))
            for a, b in minhash_params(k)]


def bloom_build(df: DataFrame, col: str, m_bits: int = 4096,
                k: int = 4) -> DataFrame:
    """Fold a column into a Bloom filter: (word_idx, bits) int64 words.
    One explode (k rows per element) + one map-side-combined bit_or
    groupBy over at most ceil(m_bits/63) groups; filters of the SAME
    (m_bits, k) merge losslessly by unioning and re-bit_or-ing (bitwise
    OR is the Bloom merge), so shards build independently.
    """
    pos = F.explode(F.array(*_bloom_positions(F.col(col), m_bits, k)))
    w = BLOOM_BITS_PER_WORD
    e = df.select(pos.alias("pos"))
    # F.shiftleft takes a literal bit count; a column shift needs expr()
    return (e.select(
                F.expr(f"CAST((pos - pos % {w}) / {w} AS BIGINT)")
                .alias("word_idx"),
                F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                       f"CAST(pos % {w} AS INT))").alias("__m"))
            .groupBy("word_idx").agg(F.bit_or("__m").alias("bits")))


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Word-wise bitwise OR — the lossless Bloom merge: filters of the
    SAME (m_bits, k) built on disjoint shards OR together to exactly
    the filter of the union (a bit is set iff some shard set it), so
    shards build independently and the merge shuffles <= ceil(m_bits/63)
    rows per shard, never elements. Gate query:
    docs_bloom_shard_merge."""
    from functools import reduce
    u = reduce(lambda a, b: a.union(b), filters)
    return u.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_might_contain(bloom: DataFrame, probe: DataFrame, col: str,
                        m_bits: int = 4096, k: int = 4) -> DataFrame:
    """Membership verdict per probe row: ``might`` is true iff ALL k
    bit positions are set — one-sided (a true member can never read
    false; a false positive reads true at the filter's fp rate). The
    filter broadcasts (<= ceil(m_bits/63) rows by construction); the
    probe pays k broadcast-hash lookups and an all-of-k rollup, never a
    shuffle of the indexed set. Output: probe columns + ``might``."""
    w = BLOOM_BITS_PER_WORD
    probe = probe.withColumn(
        "__pos", F.explode(F.array(*_bloom_positions(F.col(col),
                                                     m_bits, k))))
    probe = (probe
             .withColumn("__widx",
                         F.expr(f"CAST((__pos - __pos % {w}) / {w} "
                                f"AS BIGINT)"))
             .withColumn("__m",
                         F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                                f"CAST(__pos % {w} AS INT))")))
    # lint: k-row (the bloom word table is <= ceil(m_bits/63) rows)
    j = probe.join(F.broadcast(bloom),
                   probe["__widx"] == bloom["word_idx"], "left")
    hit = (F.col("bits").isNotNull()
           & (F.col("bits").bitwiseAND(F.col("__m")) != 0)).cast("int")
    keys = [c for c in probe.columns
            if c not in ("__pos", "__widx", "__m")]
    return (j.groupBy(*keys)
            .agg((F.sum(hit) == F.lit(k)).alias("might")))
