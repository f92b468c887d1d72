"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these shapes at 100TB):

- exact dedup: one hash-groupBy on md5(normalized text) — map-side partial
  aggregation, a single shuffle on the 16-byte hash, never on the text.
- MinHash+LSH near-dup: shingle -> k min-hashes -> band keys -> bucket
  self-join. Candidate generation is O(n·bands) shuffle instead of the
  O(n²) all-pairs join; only candidates (a tiny fraction) pay the exact
  Jaccard verification join. Banding parameters (k, bands) trade recall
  for cost in the standard S-curve way.
- SimHash: per-doc constant-size signature computed in one pass + groupBy;
  near-dup candidates come from banding the signature bits, same trick.
- all hashes are md5-derived -> deterministic, identical in the DuckDB
  oracle, and uniformly distributed so the shuffles don't skew.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.pipeline.text import tokens_col

# Default skew cap for COMPOSED pipelines and streaming ingest-dedup sinks
# (VERDICT r6 #5). 1000 is the value the round-6 guard probe measured
# (SCALE.md "Round-6 PPJoin guard probe"): it bounds any one prefix/LSH
# bucket's candidate fan-out at ~1000²/2 ≈ 5e5 comparisons — two orders
# below the 2e8-pair template hazard the probe demonstrated — while every
# natural bucket observed (2-400 postings across the SF ladder) rides far
# below it, so at test scales the cap never engages and oracle parity is
# unchanged. The PRIMITIVES (prefix_filter_pairs, DedupIndex.probe/append,
# ExactDupIndex.probe/append) keep max_bucket=None so a direct caller gets
# the exhaustively lossless contract; compositions opt back into lossless
# with max_bucket=None explicitly.
DEFAULT_MAX_BUCKET = 1000

# sentinel: "caller didn't pass max_bucket" — the index streaming sinks
# resolve it to DEFAULT_MAX_BUCKET, while an explicit None stays the
# documented lossless (unbounded) opt-out
_SINK_DEFAULT = object()


def curation_keepers(docs: DataFrame, threshold: float = 0.8,
                     id_col: str = "doc_id", text_col: str = "text",
                     max_bucket: int | None = DEFAULT_MAX_BUCKET,
                     ) -> tuple[DataFrame, DataFrame]:
    """The shared curation-v2/v3 keep chain: quality filter -> EXACT
    near-dup pairs (prefix-filtered Jaccard >= threshold) -> connected
    components -> canonical keeper (longest member). Returns
    ``(kept, verdicts)``: the quality-surviving docs (eagerly
    checkpointed — the filter feeds three consumers) and the per-doc
    keep/cluster verdicts.

    ``max_bucket`` defaults to :data:`DEFAULT_MAX_BUCKET` — at 100TB a
    composed pipeline's default must be a bounded run that WARNs about
    dropped hot prefix buckets (RuntimeWarning from
    drop_hot_prefix_buckets, naming the tokens), not a lossless pass one
    boilerplate template can stall for hours (SCALE.md guard probe:
    ~97min emission floor uncapped vs 7.9s capped, zero genuine pairs
    lost). Pass ``max_bucket=None`` for the exhaustively lossless
    opt-out when the corpus is known template-free."""
    from nexusbase_spark.pipeline.text import quality_keep_filter_expr
    kept = (docs.filter(quality_keep_filter_expr(F.col(text_col)))
            .localCheckpoint(eager=True))
    pairs = prefix_filter_pairs(kept, threshold=threshold, id_col=id_col,
                                text_col=text_col, max_bucket=max_bucket)
    verdicts = canonical_keep(kept, dedup_clusters(pairs),
                              id_col=id_col, text_col=text_col)
    return kept, verdicts


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       carry_cols: list[str] | None = None) -> DataFrame:
    """Exact dedup by md5 of normalized text: every doc mapped to its
    group's keeper (min id) and group size.

    ``carry_cols`` ride through to the output, so a downstream stage
    (split, report) can filter keeper==id and keep going WITHOUT joining
    back to the input — a join-back re-evaluates the whole upstream
    lineage (measured 2x on a filter->dedup->split pipeline whose
    upstream is a heavy quality filter)."""
    from pyspark.sql import Window
    h = F.md5(F.trim(F.lower(F.col(text_col)))).alias("content_hash")
    # window over the hash, not groupBy+join-back: every doc needs its
    # group's stats attached, and a window computes them in the SAME
    # exchange that the groupBy would need — halves the shuffles
    w = Window.partitionBy("content_hash")
    extra = list(carry_cols or [])
    return (
        df.select(F.col(id_col), h, *extra)
        .select(id_col, "content_hash",
                F.min(id_col).over(w).alias("keeper"),
                F.count(F.lit(1)).over(w).alias("group_size"),
                *extra)
    )


def exact_dedup_keepers(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        carry_cols: list[str] | None = None) -> DataFrame:
    """KEEPER rows only of exact dedup by md5 of normalized text — the
    aggregation form of :func:`exact_dedup_groups` for pipelines that
    never look at the non-keeper rows (r10).

    The window form must ship EVERY row through the content-hash
    exchange and sort it so each doc can read its group's stats; when
    only the keeper (min id) per group survives, ``min_by`` aggregates
    do the same selection with map-side partial aggregation — the
    exchange carries ~one candidate row per (group x map task) instead
    of the corpus, and the Sort + Window disappear from the plan
    (guide §2.3 aggregate-before-you-shuffle, §2.4). Output: one row
    per distinct content_hash with the keeper's ``id_col`` and
    ``carry_cols`` (ties impossible — ids are unique, min_by keys on
    the id itself)."""
    h = F.md5(F.trim(F.lower(F.col(text_col)))).alias("content_hash")
    extra = list(carry_cols or [])
    aggs = [F.min(id_col).alias(id_col)] + [
        F.min_by(F.col(c), F.col(id_col)).alias(c) for c in extra]
    return (df.select(F.col(id_col), h, *extra)
            .groupBy("content_hash").agg(*aggs))


# MinHash universal-hash family: ONE md5 per shingle -> 31-bit base hash,
# then k affine derivations h_j = (a_j*h + b_j) mod P. 8x less hashing than
# k md5s per shingle (the md5 IS the corpus-scale cost), and portable: both
# engines parse 15 hex chars (< 2^60, overflow-free) and do the same int
# arithmetic (products < 2^51, safe for Java longs AND DuckDB's checked
# BIGINT). P = 2^31 - 1 (Mersenne prime).
MINHASH_P = 2_147_483_647


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) affine coefficients, identical in the
    DuckDB oracle (queries_pipeline._minhash_ctes builds its SQL from
    these exact values)."""
    return [(104_729 * j + 12_823, 98_653 * j + 54_059) for j in range(k)]


def base_hash31(col: Column) -> Column:
    """31-bit base hash of a shingle: first 15 hex chars of md5 -> long
    -> mod P. DuckDB mirror: CAST(('0x' || substring(md5(x),1,15)) AS
    BIGINT) % P."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % MINHASH_P


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 n: int = 3) -> DataFrame:
    """(id, shingle) with set semantics (distinct within doc). Tokenizes
    in its own projection so the n+1 shingle-slice references don't each
    re-derive the whole-text split (r9)."""
    from nexusbase_spark.pipeline.text import shingles_of_tokens, tokens_col
    return (
        df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col), F.explode(
            F.array_distinct(shingles_of_tokens(F.col("__toks"), n)))
            .alias("shingle"))
    )


def _banded_docs(df: DataFrame, id_col: str, text_col: str, n: int,
                 num_hashes: int, bands: int,
                 persist: bool = True) -> tuple[DataFrame, DataFrame]:
    """Shared shingle->signature->banding stage: returns ``(docs, banded)``
    where docs = (id, shset, hset, sz, h0..h{k-1}) [persisted unless
    ``persist=False``] and banded = (id, sz, band_idx, band_key). See
    _lsh_verified_pairs for the narrow-array design rationale.

    The k min-hash SIGNATURES are computed below the persist (r10): the
    banded frame is consumed twice (both sides of the candidate
    self-join), and with only the raw per-shingle hashes cached each
    side re-ran the k array_min(transform(...)) folds over every doc's
    hash array — the dominant per-doc CPU of this stage — above the
    cache (verified in the executed plan). Persisting the signatures
    runs the folds once; hset stays in the projection for the
    DedupIndex store (its exact-verification sets)."""
    from nexusbase_spark.plans import spread
    from nexusbase_spark.pipeline.text import shingles_of_tokens, tokens_col
    rows_per = num_hashes // bands
    assert rows_per * bands == num_hashes
    toks = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"))
    # Drop shingle-less docs HERE, as size(__toks) >= n (equivalent to the
    # former size(shset) > 0 filter, null semantics included: a doc has a
    # shingle iff it has >= n tokens). Filtering on shset pushed the
    # predicate below the __toks projection with the alias re-inlined —
    # the scan re-derived the whole-text split 6x per row (18x on derived
    # texts) just to test emptiness; on __toks the pushed condition
    # carries ONE split, and rows drop before the repartition exchange.
    toks = toks.filter(F.size("__toks") >= n)
    toks = spread(toks, compute_heavy=True)

    def hash_j(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % MINHASH_P
    sig_cols = [
        F.array_min(F.transform("hset", hash_j(a, b))).alias(f"h{j}")
        for j, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    docs = (
        toks.select(F.col(id_col),
                    F.array_distinct(shingles_of_tokens(F.col("__toks"), n)).alias("shset"))
        .withColumn("hset", F.transform("shset", base_hash31))
        .select(F.col(id_col), F.col("shset"), F.col("hset"),
                F.size("shset").alias("sz"), *sig_cols)
    )
    if persist:
        docs = docs.persist()
    band_entries = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws("|", *[F.col(f"h{b * rows_per + r}") for r in range(rows_per)])).alias("band_key"),
        )
        for b in range(bands)
    ])
    banded = docs.select(
        F.col(id_col), F.col("sz"), F.explode(band_entries).alias("e")
    ).select(id_col, "sz", F.col("e.band_idx").alias("band_idx"),
             F.col("e.band_key").alias("band_key"))
    return docs, banded


def _lsh_verified_pairs(df: DataFrame, id_col: str, text_col: str, n: int,
                        num_hashes: int, bands: int,
                        max_bucket: int | None = None) -> DataFrame:
    """Shared MinHash+LSH kernel -> (id_a, id_b, inter, sz_a, sz_b).

    Scale shape: the per-doc shingle SET is kept as an array column, so
    signatures (array_min over k per-element md5 transforms), set sizes
    (F.size) and the exact intersection (array_intersect on the two
    candidate docs' arrays) are all NARROW — the only shuffles left are
    the band-bucket self-join, its distinct, and the two id-equi-joins
    rehydrating candidate pairs with their arrays. The exploded form
    would add a groupBy for signatures, a groupBy for sizes, and a
    shingle-keyed join for the intersection (measured ~2x the wall time
    at sf0.1). Hash j of a shingle = md5('<j>:'||shingle), min by hex
    string order — identical in the DuckDB oracle.

    ``max_bucket``: drop LSH buckets holding more than this many docs
    before the self-join. A hot bucket (boilerplate/empty docs agreeing on
    a whole band) explodes quadratically — one 1M-doc bucket is 5e11
    candidate pairs on a single reducer key. Capping bounds any bucket's
    cost at O(max_bucket²) and is the standard skew guard for LSH dedup at
    corpus scale; the dropped buckets are exactly the ones whose members
    are so mutually similar that verification would be quadratic too.
    """
    from pyspark.sql import Window
    # Tokenize BEFORE the exchange (the repartition in _banded_docs
    # materializes the token arrays, so the whole-text regex split runs
    # exactly once per doc — measured ~2.5x on this stage); hset holds
    # ONE md5 per shingle and the k min-hash signatures are materialized
    # by the persist, so neither the hashing nor the signature folds
    # re-run per cache reader (HOF lambdas are not CSE'd; the lambdas
    # take exactly ONE parameter — a captured default arg would silently
    # switch transform() to its (element, index) form).
    docs, banded = _banded_docs(df, id_col, text_col, n, num_hashes, bands)
    if max_bucket is not None:
        # count-over-window partitions on the same key the self-join hashes
        # on, so the exchange is shared — the cap costs no extra shuffle
        w = Window.partitionBy("band_idx", "band_key")
        banded = (banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
                  .filter(F.col("__bsz") <= max_bucket).drop("__bsz"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col("a.sz").alias("sz_a"),
                F.col(f"b.{id_col}").alias("id_b"), F.col("b.sz").alias("sz_b"))
        .distinct()
    )
    return (
        cand
        .join(docs.select(F.col(id_col).alias("id_a"), F.col("shset").alias("sh_a")), "id_a")
        .join(docs.select(F.col(id_col).alias("id_b"), F.col("shset").alias("sh_b")), "id_b")
        .select("id_a", "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
                "sz_a", "sz_b")
    )


def near_dup_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   n: int = 3, num_hashes: int = 8, bands: int = 4,
                   threshold: float = 0.5,
                   max_bucket: int | None = None) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification
    (|A∩B| / |A∪B|) at `threshold`, via the narrow array kernel.
    ``max_bucket`` (recommended at corpus scale) drops pathological LSH
    buckets before the quadratic self-join — see _lsh_verified_pairs."""
    out = _lsh_verified_pairs(df, id_col, text_col, n, num_hashes, bands,
                              max_bucket=max_bucket)
    out = out.withColumn(
        "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
    return (out.select("id_a", "id_b", "jaccard")
            .filter(F.col("jaccard") >= threshold))


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 8, bands: int = 4,
                      threshold: float = 0.8,
                      max_bucket: int | None = None) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT near-dup: |A∩B| / min(|A|, |B|) over
    the same LSH candidate set. A truncated copy is fully contained in
    its source (containment 1.0) while its Jaccard sits at the truncation
    ratio — this catches subset/prefix duplicates any symmetric threshold
    misses. Same kernel as near_dup_pairs: O(n·bands) candidates, only
    candidates pay the verification."""
    out = _lsh_verified_pairs(df, id_col, text_col, n, num_hashes, bands,
                              max_bucket=max_bucket)
    out = out.withColumn(
        "containment", F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")))
    return (out.select("id_a", "id_b", "containment")
            .filter(F.col("containment") >= threshold))


def dedup_clusters(pairs: DataFrame, id_col_a: str = "id_a",
                   id_col_b: str = "id_b", max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, canonical_id).

    The dedup endgame: pairs say "these two match"; keeping one doc per
    GROUP needs the transitive closure. Iterative min-label propagation:
    every node adopts the smallest label among itself and its neighbors
    until fixpoint — O(diameter) joins, each a plain shuffle join, the
    standard large-graph CC formulation for data-parallel engines (no
    driver-side union-find). Near-dup graphs have tiny diameters
    (dup chains), so this converges in a handful of rounds.

    If the bound is hit BEFORE fixpoint the labels are not yet true
    components (one component can still appear split) — that is an
    answer-correctness hazard, not a perf detail, so it warns loudly;
    raise ``max_iters`` (the loop exits at fixpoint, so a generous
    bound only ever pays actual-diameter rounds). Observed in practice:
    a cross-label mutual-kNN graph needed >20 rounds
    (embed_cluster_purity passes 200).
    """
    edges = (
        pairs.select(F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst"))
        .union(pairs.select(F.col(id_col_b).alias("src"), F.col(id_col_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        # localCheckpoint, NOT persist: each round's frame must be a
        # materialized leaf. persist() alone is unreliable here — under
        # AQE the convergence-check job was observed to leave the cache
        # partially unused, so every round re-derived all prior rounds
        # (measured 2s -> 206s per round by iteration 5 at 100k docs).
        # An eager localCheckpoint truncates the lineage outright: round
        # t+1 plans against round t's stored partitions, keeping rounds
        # flat (~2s each). Trade-off: checkpointed blocks don't survive
        # executor loss — on a cluster, iterative jobs this short simply
        # rerun.
        .localCheckpoint(eager=True)
    )
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    changed = None
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(F.col("node"),
                    F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n").join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label")).count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        warnings.warn(
            f"dedup_clusters hit max_iters={max_iters} before fixpoint "
            f"({changed} labels still changing): components may be "
            f"SPLIT. Raise max_iters (fixpoint exit means a generous "
            f"bound only pays actual-diameter rounds).",
            RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("canonical_id"))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """SimHash signature from frequency-weighted tokens.

    Bit i's vote for a token is +1 if hex digit i of md5(token) >= 8 else
    -1 (each hex digit contributes its high bit); the signature bit is 1
    when the summed vote is positive. Constant per-doc state -> one
    groupBy, map-side combinable.

    The per-token hot path decodes the hex digits NUMERICALLY: two conv()
    calls turn digits 1-8 / 9-16 into 32-bit ints and each vote is a
    shift+AND on those — vs. 16 substring+instr string probes per token,
    this is 27% faster warm at sf0.1 and the gap widens with token volume
    (string scans allocate; bit ops stay in codegen registers)."""
    from nexusbase_spark.plans import spread
    if bits > 16:
        raise ValueError("simhash supports at most 16 bits (two 8-digit words)")
    tok = spread(df, compute_heavy=True).select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok"))
    # project the two md5-derived words BEFORE the aggregate: inlined,
    # every one of the 16 partial_sum inputs re-derives conv(substring(
    # md5(tok))) and the plan carries 16 md5 calls per token per side
    # (32 total); aggregate-over-project is not collapsed by Catalyst, so
    # this materializes the hash once per token (plan: 2 md5 nodes)
    h = F.md5(F.col("tok"))
    words = tok.select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("__w1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("__w2"))
    votes = []
    for i in range(bits):
        word, j = (F.col("__w1"), i) if i < 8 else (F.col("__w2"), i - 8)
        # hex digit j+1 is the word's (7-j)-th nibble; its high bit sits at
        # bit 31-4j, and the vote maps {0,1} -> {-1,+1}
        bit = F.shiftright(word, 31 - 4 * j).bitwiseAND(F.lit(1))
        votes.append(F.sum(bit * 2 - 1).alias(f"v{i}"))
    agg = words.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def contamination_hits(corpus: DataFrame, eval_df: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 4) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing at least one word
    n-gram with any eval-set doc -> (id, n_shared, n_eval_docs).

    The join runs on a 60-bit md5-prefix hash of the shingle, never the
    string — collision odds ~|corpus shingles| x |eval shingles| / 2^60,
    irrelevant even at 100TB. Eval sets are benchmark-sized, so their
    hashed shingles BROADCAST; the corpus side stays narrow (shingle ->
    hash -> broadcast probe), meaning decontamination costs one corpus
    scan and no shuffle at all until the tiny per-doc rollup. Self-hits
    (a doc that IS in the eval set) are excluded by id."""
    def h60(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    c = shingle_sets(corpus, id_col, text_col, n).select(
        F.col(id_col), h60(F.col("shingle")).alias("__h"))
    ev = shingle_sets(eval_df, id_col, text_col, n).select(
        F.col(id_col).alias("__eval_id"), h60(F.col("shingle")).alias("__h"))
    hits = (c.join(F.broadcast(ev), "__h")
            .filter(F.col(id_col) != F.col("__eval_id")))
    return hits.groupBy(id_col).agg(
        F.countDistinct("__h").alias("n_shared"),
        F.countDistinct("__eval_id").alias("n_eval_docs"))


def bucket_clusters(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    num_hashes: int = 8, bands: int = 4,
                    max_iters: int = 20) -> DataFrame:
    """Near-dup clustering by LSH bucket CO-MEMBERSHIP — no pairwise
    candidate set at all -> (doc_id, canonical_id) for every doc sharing
    at least one band bucket with another doc.

    The scale motivation (SCALE.md, "Pipeline scale probe — 100k docs /
    200k vectors"): when dup cliques are large, the verified-pairs path's
    OUTPUT is inherently quadratic — a 20-strong clique is 190 pairs
    before clustering collapses them again. For the dedup endgame (pick
    one doc per group) the pairs are scaffolding; this operator skips them.
    Per bucket it emits STAR EDGES doc -> bucket-min (linear: one edge
    per doc per band), and connected components over those stars equal
    components over full bucket cliques — co-membership is what defines
    the graph, and a star spans exactly its bucket's members.

    Trade-off vs near_dup_pairs + dedup_clusters: no exact-Jaccard
    verification, so banding false positives merge clusters (the
    standard industrial fast path; tune bands/rows for precision). The
    window min runs on the same (band_idx, band_key) partitioning the
    bucket cap uses — one exchange over doc x bands rows.
    """
    from pyspark.sql import Window
    _, banded = _banded_docs(df, id_col, text_col, n, num_hashes, bands,
                             persist=False)
    w = Window.partitionBy("band_idx", "band_key")
    # persist the stars: dedup_clusters' symmetric edge union consumes its
    # input twice, and each consumption would re-run the whole
    # shingle/signature pipeline (the expensive part) without this
    star = (banded
            .withColumn("__m", F.min(id_col).over(w))
            .filter(F.col(id_col) != F.col("__m"))
            .select(F.col(id_col).alias("id_a"), F.col("__m").alias("id_b"))
            .distinct()
            .persist())
    out = dedup_clusters(star, max_iters=max_iters)
    return out


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 16,
                  bands: int = 2, max_hamming: int = 3) -> DataFrame:
    """SimHash near-duplicate pairs -> (id_a, id_b, hamming).

    Completes the SimHash family: signatures band into ``bands`` equal
    bit slices, docs agreeing on ANY slice become candidates (the pigeon
    hole guarantee: hamming <= bands-1 implies at least one identical
    slice — with bands=2 over 16 bits every pair within hamming 1 is
    found, and most within max_hamming), and candidates are verified by
    exact popcount-of-XOR. Same scale skeleton as MinHash LSH: banded
    self-join generates O(n*bands) candidates, never all pairs, and the
    verification is a single integer op — no shingle rehydration at all,
    which is SimHash's point (constant-size signatures).
    """
    assert bits % bands == 0
    slice_bits = bits // bands
    mask = (1 << slice_bits) - 1
    sig = simhash(df, id_col, text_col, bits=bits)
    band_entries = F.array(*[
        F.struct(F.lit(b).alias("band_idx"),
                 F.shiftright(F.col("simhash"), b * slice_bits)
                 .bitwiseAND(F.lit(mask)).alias("band_key"))
        for b in range(bands)
    ])
    banded = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(band_entries).alias("e")
    ).select(id_col, "simhash",
             F.col("e.band_idx").alias("band_idx"),
             F.col("e.band_key").alias("band_key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def duplicate_ngram_spans(docs: DataFrame, n: int = 8, min_count: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Exact repeated-substring span detection (the n-gram formulation of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): every token n-gram occurring at least ``min_count`` times
    in the corpus (any document, including self-repetition) marks its
    token span [start, start+n) as duplicated; overlapping and adjacent
    marked spans inside a document merge into maximal cut regions — the
    span list a substring-dedup pass would excise before training.

    Plan at corpus scale (wordcount-shaped, nothing quadratic):

    - positional n-grams are a narrow transform + posexplode — rows grow
      by ~tokens-per-doc, the same expansion any tokenizing pass pays;
    - the duplicate-gram rollup is one hash groupBy with map-side
      combine; only grams passing ``min_count`` survive to the mark join
      (at 100 TB you would pre-hash grams to 8 bytes before the shuffle
      and carry the string only through verification — here the gram IS
      the key so the DuckDB oracle is hash-free);
    - span merging is the gaps-and-islands idiom per document: one
      window partitioning (running max of span end; a span starting past
      it opens a new island), then a groupBy island — all partitioned by
      doc, no global ordering anywhere.

    Output: (id_col, span_start, span_end, span_tokens) with token
    offsets, span_end exclusive; adjacent spans (s == previous end)
    merge, so output regions are maximal contiguous duplicated runs.
    """
    from pyspark.sql import Window

    toks = tokens_col(F.col(text_col))
    grams = F.when(
        F.size("__t") >= n,
        F.transform(F.sequence(F.lit(0), F.size("__t") - n),
                    lambda i: F.concat_ws(" ", F.slice("__t", i + 1, n)))
    ).otherwise(F.array().cast("array<string>"))
    ng = (docs.select(F.col(id_col), toks.alias("__t"))
          .select(id_col, F.posexplode(grams).alias("s", "g")))
    dup = (ng.groupBy("g").agg(F.count(F.lit(1)).alias("__c"))
           .filter(F.col("__c") >= min_count).select("g"))
    spans = (ng.join(dup, "g")
             .select(id_col, F.col("s").cast("long").alias("s"),
                     (F.col("s") + n).cast("long").alias("e")))
    w_prev = (Window.partitionBy(id_col).orderBy("s")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy(id_col).orderBy("s")
             .rowsBetween(Window.unboundedPreceding, 0))
    pmax = F.max("e").over(w_prev)
    new_island = F.when(pmax.isNull() | (F.col("s") > pmax), 1).otherwise(0)
    return (spans
            .withColumn("__isl", F.sum(new_island).over(w_run))
            .groupBy(id_col, "__isl")
            .agg(F.min("s").alias("span_start"),
                 F.max("e").alias("span_end"))
            .select(id_col, "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start"))
                    .alias("span_tokens")))


def scrub_frequent_chunks(docs: DataFrame, min_docs: int = 5,
                          window: int = 8, mask_hex: str = "0",
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Corpus-frequency chunk scrubbing — the APPLY step of chunk-level
    dedup (C4/RefinedWeb line-dedup generalized to delimiter-free text):
    content-defined chunks (``pack.cdc_chunks``) whose hash occurs in at
    least ``min_docs`` DISTINCT documents are boilerplate; they are cut
    out and each document's remaining chunks are re-concatenated in
    order. CDC boundaries make the pass alignment-proof: boilerplate
    pasted at any offset chunks identically past its first internal cut,
    which fixed-width windows cannot do. (docs_chunk_dedup reports the
    shared-chunk SIGNAL; this operator edits the text.)

    Plan at corpus scale: the doc-frequency rollup shuffles only
    (chunk_md5, doc_id) pairs — never text; the surviving frequent-hash
    table is tiny (only hashes with df >= min_docs) so marking chunks is
    a broadcast join; the single text-carrying shuffle is the per-doc
    reconstruction groupBy, which any rewrite pass pays.

    Output: id_col, clean_text, n_chunks, n_scrubbed.
    """
    from nexusbase_spark.pipeline.pack import cdc_chunks

    ch = cdc_chunks(docs, window=window, mask_hex=mask_hex,
                    id_col=id_col, text_col=text_col, with_text=True)
    freq = (ch.groupBy("chunk_md5")
            .agg(F.countDistinct(id_col).alias("__df"))
            .filter(F.col("__df") >= min_docs)
            .select("chunk_md5", F.lit(True).alias("__boiler")))
    marked = (ch.join(freq, "chunk_md5", "left")
              .withColumn("__keep", F.col("__boiler").isNull()))
    # collect_list drops NULLs, so the CASE keeps only surviving chunks;
    # sort_array on the (chunk_idx, text) struct restores document order
    return (marked.groupBy(id_col)
            .agg(F.array_join(F.expr(
                     "transform(sort_array(collect_list("
                     "  case when __keep then struct(chunk_idx, chunk_text) end"
                     ")), s -> s.chunk_text)"), "").alias("clean_text"),
                 F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
                 .cast("long").alias("n_scrubbed")))


def drop_hot_prefix_buckets(pref: DataFrame, max_bucket: int,
                            op_name: str = "prefix_filter_pairs",
                            tok_col: str = "tok") -> DataFrame:
    """Skew guard for prefix-token postings (VERDICT r5 #7): prefix
    buckets are the smallest (rarest-token) buckets by construction, but
    a template-heavy corpus can still mint one hot prefix token whose
    self-join output is quadratic and stalls the whole job. Drop every
    bucket holding more than ``max_bucket`` postings and WARN with the
    dropped token ids, so the caller knows exactly which pairs may have
    been lost: a pair is lost ONLY if hot tokens were its sole shared
    prefix tokens — losslessness off the hot buckets is untouched (the
    theorem applies per shared prefix token). The bucket-size rollup is
    wordcount-shaped; the hot set is tiny by definition, so the
    anti-join broadcasts."""
    sizes = pref.groupBy(tok_col).agg(F.count(F.lit(1)).alias("__bsz"))
    hot = (sizes.filter(F.col("__bsz") > max_bucket)
           .orderBy(F.col("__bsz").desc(), tok_col)
           .collect())  # lint: k-row (tokens past the cap — few by def.)
    if not hot:
        return pref
    shown = ", ".join(f"{r[tok_col]!r}({r['__bsz']})" for r in hot[:50])
    more = f" … +{len(hot) - 50} more" if len(hot) > 50 else ""
    warnings.warn(
        f"{op_name}: dropped {len(hot)} prefix bucket(s) over "
        f"max_bucket={max_bucket}: {shown}{more}. Pairs whose ONLY "
        f"shared prefix tokens are these are not emitted — the result "
        f"is no longer exhaustively lossless. Scrub boilerplate or "
        f"raise the threshold to restore exactness.",
        RuntimeWarning, stacklevel=3)
    spark = pref.sparkSession
    hot_df = spark.createDataFrame(
        [(r[tok_col],) for r in hot], f"{tok_col} string")
    # lint: k-row (hot-token set, bounded by the warning above)
    return pref.join(F.broadcast(hot_df), tok_col, "left_anti")


def prefix_filter_pairs(docs: DataFrame, threshold: float = 0.6,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        max_bucket: int | None = None) -> DataFrame:
    """EXACT token-set Jaccard similarity self-join via prefix filtering
    (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): the lossless companion to MinHash LSH. LSH trades recall
    for speed; this join is exact — every pair with jaccard >= threshold
    is returned — yet never compares all pairs.

    The prefix-filter theorem: order every doc's distinct tokens by one
    GLOBAL order (ascending document frequency, rarest first, ties by
    token); if |A∩B|/|A∪B| >= t then A and B must share a token within
    their first |X| - ceil(t·|X|) + 1 tokens. So only docs sharing a
    PREFIX token become candidates — and because prefixes are built from
    the rarest tokens, prefix-token buckets are the SMALLEST ones: the
    candidate self-join is driven by low-df tokens, the exact inverse of
    the frequent-token hot spot a naive token join dies on.

    Scale shape: one df rollup (wordcount-shaped, map-side combined),
    one window per doc (partitioned by doc — bounded by doc length), a
    prefix-token self-join whose per-bucket fan-out is df-bounded by
    construction, then exact verification ONLY on candidates via
    array_intersect on the two token arrays. Everything JVM-side; the
    threshold is applied in exact integer arithmetic (ceil(t·sz) as
    (num·sz + den − 1) div den with num/den = floor-rational of t, so a
    float ulp can never shrink a prefix and lose a pair).

    Output: (id_a, id_b, inter, uni, jaccard) for pairs with
    jaccard >= threshold; jaccard floor-quantized to 1e-4.

    Measured (SCALE.md round-5): wall tracks the TRUE pair mass — on a
    templated corpus qualifying pairs grow near-quadratically and an
    exact join must emit them all (~29us/pair); on natural corpora the
    pass is wordcount-shaped. If the corpus is template-heavy, raise
    the threshold, run boilerplate scrubbing first, or set
    ``max_bucket`` to drop-and-WARN hot prefix buckets (the
    LSH-style skew cap — trades exhaustive losslessness for a bound on
    one token's fan-out; see drop_hot_prefix_buckets). Default None
    keeps the operator exactly lossless.
    """
    from pyspark.sql import Window

    # The operator's effective threshold is the exact rational num/den
    # (t at 1e-4 resolution): BOTH the prefix length and the final
    # filter use it, so the prefix-filter theorem applies to the same t
    # everywhere and no float ulp can shrink a prefix and lose a pair.
    num, den = int(round(threshold * 10_000)), 10_000
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens_col(F.col(text_col))).alias("__t"))
    # four consumers (prefix explode, sizes, both verification sides)
    # would otherwise each re-scan and re-tokenize the TEXT; materialize
    # the (id, token-set) projection once — strictly smaller than text
    toks = toks.filter(F.size("__t") > 0).localCheckpoint(eager=True)
    tok = toks.select("id", F.explode("__t").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("id").orderBy("__df", "tok")
    pos = (tok.join(dfreq, "tok")
           .select("id", "tok", F.row_number().over(w).alias("__pos")))
    sz = toks.select("id", F.size("__t").alias("__sz"))
    # prefix length = sz - ceil(num*sz/den) + 1, all-integer
    pref = (pos.join(sz, "id")
            .filter(F.col("__pos")
                    <= F.col("__sz")
                    - F.floor((F.lit(num) * F.col("__sz") + F.lit(den - 1))
                              / F.lit(den)) + 1)
            .select("id", "tok"))
    if max_bucket is not None:
        pref = drop_hot_prefix_buckets(pref, max_bucket,
                                       "prefix_filter_pairs")
    cand = (pref.alias("a")
            .join(pref.alias("b"),
                  (F.col("a.tok") == F.col("b.tok"))
                  & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())
    ta = toks.select(F.col("id").alias("id_a"), F.col("__t").alias("__ta"))
    tb = toks.select(F.col("id").alias("id_b"), F.col("__t").alias("__tb"))
    ver = (cand.join(ta, "id_a").join(tb, "id_b")
           .select("id_a", "id_b",
                   F.size(F.array_intersect("__ta", "__tb")).alias("inter"),
                   (F.size("__ta") + F.size("__tb")).alias("__s")))
    out = (ver.withColumn("uni", (F.col("__s") - F.col("inter")).cast("long"))
           .withColumn("inter", F.col("inter").cast("long"))
           .withColumn("jaccard",
                       F.floor(F.col("inter") / F.col("uni") * 1e4 + 0.5)
                       / 1e4)
           .filter(F.col("inter") * den >= F.col("uni") * num))
    return out.select("id_a", "id_b", "inter", "uni", "jaccard")


def canonical_keep(docs: DataFrame, clusters: DataFrame,
                   id_col: str = "doc_id",
                   text_col: str = "text",
                   quality_col: str | None = None) -> DataFrame:
    """The dedup ENDGAME after clustering: pick one canonical
    representative per duplicate cluster — the highest-quality member,
    ties to the smallest id — and emit a per-doc keep/drop verdict.
    This is the row a curation pipeline actually filters on; pairs and
    clusters are intermediate evidence.

    Quality defaults to length(text) (most content preserved); pass
    ``quality_col`` (any numeric column already on ``docs`` — a
    classifier_margin score, a perplexity negation) to keep the BEST
    member instead of the longest. The output column is still named
    n_chars for schema stability.

    ``clusters`` is ``dedup_clusters`` output (doc_id, canonical_id);
    docs absent from it are singletons — their own cluster, always kept.

    Scale shape: one broadcast-or-shuffle join of docs to the cluster
    map, one max_by rollup per cluster (map-side combined), one join
    back for the verdict. No text leaves the wire: quality is computed
    at scan and carried as a long.

    Output: (id_col, cluster_id, n_chars, keep).
    """
    qexpr = (F.col(quality_col) if quality_col is not None
             else F.length(F.col(text_col)))
    q = docs.select(F.col(id_col), qexpr.cast("long").alias("n_chars"))
    lab = (q.join(clusters.withColumnRenamed("doc_id", id_col), id_col,
                  "left")
           .withColumn("cluster_id",
                       F.coalesce(F.col("canonical_id"), F.col(id_col))))
    # keep = max by (n_chars, -id): longest member, ties to smallest id
    best = (lab.groupBy("cluster_id")
            .agg(F.max_by(F.col(id_col),
                          F.struct(F.col("n_chars"), -F.col(id_col)))
                 .alias("__keep_id")))
    return (lab.join(best, "cluster_id")
            .select(id_col, "cluster_id", "n_chars",
                    (F.col(id_col) == F.col("__keep_id")).alias("keep")))
