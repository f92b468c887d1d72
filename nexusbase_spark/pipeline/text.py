"""Text analysis operators: tokenization, language ID, quality scoring,
token counting, document fingerprinting.

All pure Column expressions (JVM-side, no UDFs) so they vectorize inside
whole-stage codegen and scale linearly with the scan — at 100TB these run
at parquet-read speed with zero shuffles (except fingerprint's per-doc
aggregation, which is map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
# Kept to a regex subset with identical semantics in Java regex (Spark) and
# RE2 (DuckDB), so the oracle can mirror it.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# tiny per-language stopword sets for the n-gram/stopword language heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "los", "que", "de", "es", "un"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of normalized (lower/trimmed) text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Array of word n-grams from an already-tokenized array column; empty
    when the doc has fewer than n tokens.

    Implemented as an elementwise zip of n shifted slices rather than
    ``transform(sequence, i -> element_at(toks, i+j))``: expressions inside
    a higher-order-function lambda are not common-subexpression-eliminated,
    so the element_at form re-evaluates its input per element — O(n²)
    per document and ~6x slower end-to-end.
    """
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, cnt)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(toks, j + 1, cnt),
                         lambda a, b: F.concat_ws(" ", a, b))
    return out


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of word n-grams of raw text. NOTE: references the tokenization
    (a regex split over the whole text) ~2n+1 times, and CSE does not
    always collapse them; on a hot path, materialize ``tokens_col`` into
    its own column first (ideally across an exchange) and use
    ``shingles_of_tokens`` — measured ~2.5x faster on the LSH kernel."""
    return shingles_of_tokens(tokens_col(text), n)


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: letter runs + digit runs + punctuation singles."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), F.lit(0)))


def lang_id_expr(text: Column, toks: Column | None = None) -> Column:
    """Heuristic language ID: stopword-hit voting with deterministic
    tie-break by language code order (en < de/es/fr by score, then
    alphabetical). Returns a language code or 'und'.

    ``toks``: pre-projected token array to tokenize once — inlined, the
    per-language scores re-derive the split per language (see
    quality_exprs)."""
    toks = tokens_col(text) if toks is None else toks
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = None
    # deterministic fold: strictly-greater wins, ties keep earlier
    # (alphabetical) language
    expr = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):
        s = scores[lang]
        expr = F.when(s > best_score, F.lit(lang)).otherwise(expr)
        best_score = F.when(s > best_score, s).otherwise(best_score)
    del best
    return expr


def quality_exprs(text: Column, toks: Column | None = None) -> dict[str, Column]:
    """Document quality signals: length, token stats, punctuation/digit
    ratios, stopword ratio — the usual pre-training filter features.

    ``toks``: pass a pre-projected token-array column to tokenize ONCE.
    Inlined, ``tokens_col(text)`` (split of lowercased text on \\s+)
    appears five times in the output projection; because the stopword
    HOF makes the projection CodegenFallback, nothing guarantees the
    five copies collapse. A two-level select — toks aliased below, these
    exprs above — survives the optimizer (CollapseProject keeps non-cheap
    aliases used more than once, SPARK-36718) and the plan then carries
    one split() instead of five (measured ~10% at sf0.1; the gap scales
    with tokens/doc)."""
    toks = tokens_col(text) if toks is None else toks
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    stop_all = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stop_all)))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": (n_chars - n_tokens + 1) / n_tokens,
        "punct_ratio": n_punct / n_chars,
        "digit_ratio": n_digit / n_chars,
        "stopword_ratio": n_stop / n_tokens,
    }


def repetition_ratio(text: Column, n: int = 2,
                     toks: Column | None = None) -> Column:
    """Intra-document repetition: fraction of word n-grams that are
    duplicates of an earlier n-gram, ``1 - distinct/total`` (0.0 when the
    doc has no n-grams). High values flag boilerplate/template/spam docs —
    a standard pre-training quality filter alongside ``quality_exprs``.
    Pure array expressions: computed at scan speed, no shuffle.

    ``toks``: pre-projected token array — the inlined ``word_shingles``
    form re-derives the split ~2n+1 times (see its docstring)."""
    grams = (word_shingles(text, n) if toks is None
             else shingles_of_tokens(toks, n))
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(grams)) / total)


# PII patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_PATTERN = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
IPV4_PATTERN = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_exprs(text: Column) -> dict[str, Column]:
    """PII scrubbing for training corpora: count and redact emails and
    IPv4 literals (lowercased text). ``redacted`` replaces each match
    with a typed placeholder; counts let a pipeline route docs to
    review/drop. Scan-speed Column expressions, no UDF."""
    low = F.lower(text)
    return {
        "n_emails": F.size(F.regexp_extract_all(low, F.lit(EMAIL_PATTERN), F.lit(0))).cast("long"),
        "n_ips": F.size(F.regexp_extract_all(low, F.lit(IPV4_PATTERN), F.lit(0))).cast("long"),
        "redacted": F.regexp_replace(
            F.regexp_replace(low, EMAIL_PATTERN, "<EMAIL>"),
            IPV4_PATTERN, "<IP>"),
    }


def winnow_fingerprints(text: Column, n: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    word n-gram POSITIONALLY, slide a window of w hashes, keep each
    window's minimum; the distinct selected hashes are the fingerprint.
    Guarantees every shared run of n+w-1 tokens yields a shared
    fingerprint — the positional upgrade of ``fingerprint_mink``.

    Same shifted-slice zip as ``word_shingles`` (windows via w-1
    ``zip_with(least)`` passes, no per-element lambda re-evaluation);
    slices are clamped to size-(w-1) windows so no null padding enters
    ``least``. Docs with fewer than n+w-1 tokens produce an empty array.

    The w+1 slice references re-evaluate ``hashes`` unless it is a
    pre-projected column — on a hot path, materialize the hash array
    first and call ``winnow_from_hashes`` directly (the benched winnow
    query does; plan md5 8 -> 1).
    """
    return winnow_from_hashes(F.transform(word_shingles(text, n), F.md5), w)


def winnow_from_hashes(hashes: Column, w: int = 4) -> Column:
    """The windowed-minimum half of winnowing over an already-computed
    positional hash array (ideally a projected column, so the w+1 slice
    references below don't re-derive the hashes per reference)."""
    cnt = F.greatest(F.size(hashes) - (w - 1), F.lit(0))
    mins = F.slice(hashes, 1, cnt)
    for j in range(1, w):
        mins = F.zip_with(mins, F.slice(hashes, j + 1, cnt),
                          lambda a, b: F.least(a, b))
    return F.array_distinct(mins)


def fingerprint_mink(text: Column | None = None, n: int = 3, k: int = 4,
                     toks: Column | None = None) -> Column:
    """Document fingerprint: bottom-k sketch of word-n-gram hashes,
    concatenated to one hex string. A winnowing-style content signature:
    stable under small edits, mergeable, and constant-size per doc.

    ``toks``: pre-projected token array — inlined, the shingle slices
    re-derive the whole-text split per reference (6 copies in one
    CodegenFallback projection; see word_shingles)."""
    if text is None and toks is None:
        raise ValueError("pass text or toks")
    grams = (word_shingles(text, n) if toks is None
             else shingles_of_tokens(toks, n))
    hashes = F.transform(grams, F.md5)
    bottom = F.slice(F.array_sort(F.array_distinct(hashes)), 1, k)
    return F.array_join(bottom, "")


# Linear quality classifier weights — a deterministic stand-in for the
# trained fastText/logreg quality model every curation pipeline runs
# (CCNet/Gopher-style). The WEIGHTS are illustrative; the deliverable is
# the scale shape: every feature derives from integer lengths (both
# engines compute bit-identical doubles), the dot product is a FIXED
# expression-order sum (no aggregation, so no reordering), and scoring
# runs at scan speed with zero UDFs. Swapping in trained weights is a
# dict update.
QUALITY_CLASSIFIER_WEIGHTS = {
    "bias": -1.0,
    "stopword_ratio": 5.0,
    "digit_ratio": -6.0,
    "punct_ratio": -2.0,
    "repetition": -8.0,
    "log_tokens": 0.6,
}


def classifier_margin(text: Column,
                      weights: dict | None = None,
                      toks: Column | None = None) -> Column:
    """Linear quality score (the pre-sigmoid margin; > 0 = keep). The
    margin is the output on purpose: it avoids exp() (whose last ulp can
    differ across libms) and is monotone in the probability anyway.

    ``toks``: pre-projected token array threaded into every feature —
    tokenize once per row instead of once per feature reference."""
    w = weights or QUALITY_CLASSIFIER_WEIGHTS
    qx = quality_exprs(text, toks=toks)
    rep = repetition_ratio(text, 2, toks=toks)
    return (F.lit(w["bias"])
            + F.lit(w["stopword_ratio"]) * qx["stopword_ratio"]
            + F.lit(w["digit_ratio"]) * qx["digit_ratio"]
            + F.lit(w["punct_ratio"]) * qx["punct_ratio"]
            + F.lit(w["repetition"]) * rep
            + F.lit(w["log_tokens"]) * F.log(qx["n_tokens"] + F.lit(1.0)))


# Gopher/C4-style rule thresholds for quality_filter_exprs. Order matters:
# the report's `reason` is the FIRST failing rule.
QUALITY_RULE_ORDER = ("too_short", "too_long", "high_digit",
                      "high_repetition", "low_stopword")
QUALITY_THRESHOLDS = {
    "min_tokens": 15,
    "max_tokens": 80,
    "max_digit_ratio": 0.10,
    "max_repetition": 0.20,
    "min_stopword_ratio": 0.05,
}


def quality_filter_exprs(text: Column,
                         toks: Column | None = None) -> dict[str, Column]:
    """Gopher-style quality filter chain: boolean rule flags, a `keep`
    verdict, and the first-failing-rule `reason` (NULL when kept) — the
    decision layer a curation pipeline logs for every dropped doc.

    All thresholds compare ratios built from integer lengths, so both
    engines compute bit-identical doubles and the verdicts never drift.
    Scan-speed Column expressions; the downstream filter is
    `col("keep")`, which Catalyst pushes into the same projection.

    ``toks``: pre-projected token array, tokenize once (see
    quality_exprs). Only helps PROJECTION contexts — a pushed-down
    filter re-inlines the alias, so filter callers gain nothing."""
    qx = quality_exprs(text, toks=toks)
    t = QUALITY_THRESHOLDS
    flags = {
        "too_short": qx["n_tokens"] < t["min_tokens"],
        "too_long": qx["n_tokens"] > t["max_tokens"],
        "high_digit": qx["digit_ratio"] > t["max_digit_ratio"],
        "high_repetition": repetition_ratio(text, 2, toks=toks) > t["max_repetition"],
        "low_stopword": qx["stopword_ratio"] < t["min_stopword_ratio"],
    }
    reason = F.lit(None).cast("string")
    for name in reversed(QUALITY_RULE_ORDER):
        reason = F.when(flags[name], F.lit(name)).otherwise(reason)
    keep = ~flags[QUALITY_RULE_ORDER[0]]
    for name in QUALITY_RULE_ORDER[1:]:
        keep = keep & ~flags[name]
    return {**flags, "keep": keep, "reason": reason}


def quality_keep_filter_expr(text: Column) -> Column:
    """The quality-filter ``keep`` verdict as a single FILTER-safe
    expression that tokenizes ONCE (r10).

    A pushed-down Filter re-inlines any projected token alias, so the
    two-level-select trick that fixes projection contexts cannot help a
    filter: the inlined verdict re-derives ``split(trim(lower(text)))``
    16x per row, and neither codegen nor interpreted subexpression
    elimination collapses the copies here because the stopword/shingle
    higher-order functions force fallback evaluation (measured: CSE
    on/off identical; pre-projected tokens 1.3x faster in projection
    context). The fix is a LET-BINDING inside one expression:
    ``exists(array(tokens), toks -> keep(toks))`` — the single-element
    array evaluates the tokenization once, the lambda variable binds it,
    and every reference inside the predicate reads the bound value.
    Row-level semantics are identical (null text: the verdict is null
    either way, so the filter drops the row; measured row-set equality
    at sf0.1). Trade-off: the optimizer no longer infers
    IsNotNull(text) for the parquet PushedFilters — a stats-only hint
    the md5/verdict work never depended on."""
    return F.exists(
        F.array(tokens_col(text)),
        lambda toks: quality_filter_exprs(text, toks=toks)["keep"])


def pmi_collocations(docs: DataFrame, k: int = 20, min_count: int = 5,
                     text_col: str = "text") -> DataFrame:
    """Top-k collocations by pointwise mutual information over adjacent
    token pairs: PMI(x,y) = ln( p(x,y) / (p(x)p(y)) ) with bigram and
    unigram MLE probabilities — the corpus-linguistics staple for mining
    multiword units (named entities, idioms) that tokenizer/vocab
    decisions should treat as one unit.

    Wordcount-shaped: one unigram rollup, one bigram rollup (both
    map-side combined), two token-keyed joins to attach the marginals,
    distributed top-k. ``min_count`` on the bigram kills the classic
    PMI pathology (two hapaxes that co-occur once score the maximum).
    The PMI argument is a ratio of exact integer products (< 2^53, so
    the doubles are exact); ln is the only transcendental, same as every
    LM-scoring oracle here. Floor-quantized 1e-4; ties break on (x, y).
    """
    toks = tokens_col(F.col(text_col))
    base = docs.select(toks.alias("__t"))
    uni = (base.select(F.explode("__t").alias("x"))
           .groupBy("x").agg(F.count(F.lit(1)).alias("cx"))
           .localCheckpoint(eager=True))  # reused for both marginals + N
    n_uni = uni.agg(F.sum("cx")).collect()[0][0]
    bigrams = F.when(
        F.size("__t") >= 2,
        F.transform(F.sequence(F.lit(1), F.size("__t") - 1),
                    lambda i: F.struct(
                        F.element_at("__t", i).alias("x"),
                        F.element_at("__t", i + 1).alias("y")))
    ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))
    bi = (base.select(F.explode(bigrams).alias("b"))
          .select(F.col("b.x").alias("x"), F.col("b.y").alias("y"))
          .groupBy("x", "y").agg(F.count(F.lit(1)).alias("cxy"))
          .filter(F.col("cxy") >= min_count))
    # total bigrams counts ALL bigrams, not just the min_count survivors
    n_big = (base.select((F.greatest(F.size("__t") - 1, F.lit(0)))
                         .alias("nb"))
             .agg(F.sum("nb")).collect()[0][0])
    j = (bi.join(uni.select(F.col("x"), F.col("cx")), "x")
         .join(uni.select(F.col("x").alias("y"),
                          F.col("cx").alias("cy")), "y"))
    num = F.col("cxy").cast("double") * float(n_uni) * float(n_uni)
    den = F.lit(float(n_big)) * F.col("cx") * F.col("cy")
    pmi = F.floor(F.log(num / den) * 1e4 + F.lit(0.5)) / 1e4
    return (j.select("x", "y", "cxy", pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), F.col("x"), F.col("y"))
            .limit(k))


def typo_pairs(vocab: DataFrame, word_col: str = "w",
               count_col: str = "n", min_len: int = 4) -> DataFrame:
    """Edit-distance-1 token pairs via SymSpell-style deletion-
    neighborhood blocking (Garbe's public symmetric-delete scheme): every
    word emits itself plus its 1-deletion variants; any two words within
    Levenshtein distance 1 (substitution, insertion, or deletion) are
    GUARANTEED to share a variant, so the candidate join runs on short
    hash keys — never all-pairs — and only candidates pay the
    levenshtein verification. The typo-normalization primitive: map rare
    misspellings onto their frequent canonical form before vocab/token
    statistics.

    Input: a (word, count) vocabulary frame (one wordcount rollup
    upstream). Scale shape: the exploded deletion table is
    O(vocab * avg_len) short strings, the self-join keys on the variant
    (skew-free: a variant bucket holds words of one length band), and
    the verify filter is exact. Output one row per unordered pair:
    (rare, canon, rare_n, canon_n) with canon = the higher-count word
    (ties: lexicographically smaller).
    """
    w, n = F.col(word_col), F.col(count_col)
    base = vocab.filter(F.length(w) >= min_len).select(
        w.alias("__w"), n.alias("__n"))
    variants = F.concat(
        F.array(F.col("__w")),
        F.transform(
            F.sequence(F.lit(1), F.length("__w")),
            lambda i: F.concat(
                F.col("__w").substr(F.lit(1), i - 1),
                F.col("__w").substr(i + 1, F.length("__w")))))
    dels = base.select("__w", "__n", F.explode(variants).alias("__v"))
    a = dels.alias("a")
    b = dels.alias("b")
    cand = (a.join(b, (F.col("a.__v") == F.col("b.__v"))
                   & (F.col("a.__w") < F.col("b.__w")))
            .select(F.col("a.__w").alias("wa"), F.col("a.__n").alias("na"),
                    F.col("b.__w").alias("wb"), F.col("b.__n").alias("nb"))
            .distinct())
    pairs = cand.filter(F.levenshtein(F.col("wa"), F.col("wb")) == 1)
    a_canon = (F.col("na") > F.col("nb")) | \
              ((F.col("na") == F.col("nb")) & (F.col("wa") < F.col("wb")))
    return pairs.select(
        F.when(a_canon, F.col("wb")).otherwise(F.col("wa")).alias("rare"),
        F.when(a_canon, F.col("wa")).otherwise(F.col("wb")).alias("canon"),
        F.when(a_canon, F.col("nb")).otherwise(F.col("na")).alias("rare_n"),
        F.when(a_canon, F.col("na")).otherwise(F.col("nb")).alias("canon_n"))


# Gopher quality-rule thresholds (Rae et al. 2021, Table A1 — the
# published word-level rules; the line-based rules need newline
# structure this corpus doesn't carry and are documented out of scope).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MIN_ALPHA_FRAC = (4, 5)     # >= 80% of words contain a letter
GOPHER_MAX_SYMBOL_RATIO = (1, 10)  # '#'/'...' per word <= 0.1
GOPHER_REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and",
                             "that", "have", "with"]
GOPHER_MIN_REQUIRED_STOPWORDS = 2


def gopher_rules_exprs(text: Column,
                       toks: Column | None = None) -> dict[str, Column]:
    """The published Gopher word-level quality rules (Rae et al. 2021):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    alphabetic-word fraction, and the required-stopword rule. Every
    FLAG compares integers (counts cross-multiplied against rational
    thresholds), so verdicts are bit-identical on any engine; the
    reported ratios are display values, floor-quantized by the caller.

    Returns metric columns + per-rule booleans + the conjunction
    ``keep``. Scan-speed Column expressions, no shuffle, no UDF.

    ``toks``: pre-projected token array, tokenize once (see
    quality_exprs — the rules reference the tokens four times).
    """
    toks = tokens_col(text) if toks is None else toks
    n_words = F.size(toks)
    word_chars = F.aggregate(toks, F.lit(0),
                             lambda acc, t: acc + F.length(t))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (F.length(text)
                  - F.length(F.regexp_replace(text, r"\.\.\.", ""))) / 3
    n_symbols = (n_hash + n_ellipsis).cast("long")
    n_req = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS])))
    af_n, af_d = GOPHER_MIN_ALPHA_FRAC
    sr_n, sr_d = GOPHER_MAX_SYMBOL_RATIO
    flags = {
        "ok_word_count": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        # 3 <= word_chars/n_words <= 10, cross-multiplied
        "ok_mean_word_len":
            (word_chars >= GOPHER_MIN_MEAN_WORD_LEN * n_words)
            & (word_chars <= GOPHER_MAX_MEAN_WORD_LEN * n_words),
        "ok_symbol_ratio": n_symbols * sr_d <= n_words * sr_n,
        "ok_alpha_words": n_alpha * af_d >= n_words * af_n,
        "ok_stopwords": n_req >= GOPHER_MIN_REQUIRED_STOPWORDS,
    }
    keep = flags["ok_word_count"]
    for name in list(flags)[1:]:
        keep = keep & flags[name]
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": word_chars / n_words,
        "alpha_frac": n_alpha / n_words,
        "n_required_stop": n_req.cast("long"),
        **flags,
        "keep": keep,
    }


def char_entropy(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document character-level Shannon entropy in bits — the
    cheapest "is this natural text or noise/base64/padding" signal
    (natural English sits ~4.0-4.5 bits/char; uniform random base64
    ~6; a single repeated char = 0).

    Computed as H = log2(n) - (1/n) * sum c_i*log2(c_i) over the char
    histogram: one explode + one (doc, char) count rollup (map-side
    combined) + one per-doc fold — wordcount-shaped, scales with total
    characters. Output: (id_col, n_chars, entropy) with entropy a raw
    double (callers quantize for hash gates).
    """
    ch = (docs.select(F.col(id_col),
                      F.explode(F.split(F.col(text_col), "")).alias("c"))
          .filter(F.col("c") != ""))
    hist = ch.groupBy(id_col, "c").agg(F.count(F.lit(1)).alias("cnt"))
    ln2 = 0.6931471805599453
    return (hist.groupBy(id_col)
            .agg(F.sum("cnt").alias("n_chars"),
                 F.sum(F.col("cnt") * F.log("cnt")).alias("__s"))
            .select(id_col, "n_chars",
                    ((F.log("n_chars") - F.col("__s") / F.col("n_chars"))
                     / F.lit(ln2)).alias("entropy")))


# Sigmoid bin edges as logit literals: bin k <=> p in [k/10, (k+1)/10)
# <=> margin z in [ln(k/(10-k)), ln((k+1)/(9-k))). SHARED literals (not
# libm calls) so a bin can never flip on an exp/log ulp — the canonical
# copy; the calibration/token-budget oracles embed the same strings.
LOGIT_EDGE_LITERALS = (
    '-2.1972245773362196', '-1.3862943611198906', '-0.8472978603872037',
    '-0.40546510810816444', '0.0', '0.4054651081081644',
    '0.8472978603872037', '1.3862943611198906', '2.1972245773362196')


def quality_bin_expr(text: Column) -> Column:
    """Decile bin (0-9) of the classifier's keep-probability, computed
    by comparing the bit-identical margin against the logit literals —
    no exp() on the binning path."""
    z = classifier_margin(text)
    bin_ = F.lit(0)
    for e in LOGIT_EDGE_LITERALS:
        bin_ = bin_ + F.when(z >= float(e), 1).otherwise(0)
    return bin_.cast("long")


def quality_mix_sink(report_path: str, text_col: str = "text"):
    """Streaming quality-mix monitor (foreachBatch): append each
    micro-batch's per-quality-bin document and token counts to a
    parquet history table. Counts are ADDITIVE integers, so the store
    is exactly mergeable: total mix = sum over batches, no rebuild,
    restart-safe by construction (the parquet store IS the state) —
    the ingest-gate twin of docs_token_budget_curve, catching a
    quality-mix shift (a crawl gone bad, an upstream filter change)
    batch by batch instead of at the next corpus-wide audit."""
    def run(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        n_tok = F.size(tokens_col(F.col(text_col)))
        (batch.select(quality_bin_expr(F.col(text_col)).alias("bin"),
                      n_tok.alias("n_tok"))
         .groupBy("bin")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n_tok").alias("n_tokens"))
         .withColumn("batch_id", F.lit(int(batch_id)))
         .coalesce(1).write.mode("append").parquet(report_path))
    return run


def quality_mix_totals(spark, report_path: str) -> DataFrame:
    """Corpus-to-date quality mix served from the monitor's history:
    per-bin docs/tokens summed over all batches (bin-count-sized read,
    never the corpus). Equals the batch recompute over everything
    ingested — additive-integer merge, parity-tested."""
    return (spark.read.parquet(report_path)
            .groupBy("bin")
            .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens")))
