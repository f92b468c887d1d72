"""Pipeline-operator queries (dedup / similarity / text / multimodal) with
DuckDB oracles.

The documents table has no natural duplicates, so the dedup queries
synthesize them deterministically INSIDE the query (union with truncated
copies at shifted ids) — both engines build the identical augmented corpus,
so the operators are exercised with guaranteed positives.

Every hash is md5-derived (identical hex in both engines); the DuckDB side
mirrors the exact MinHash/LSH/SimHash constructions, not just the end
semantics, so candidate sets match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nexusbase_spark.datamodel import load_table
from nexusbase_spark.pipeline.dedup import (
    exact_dedup_groups,
    near_dup_pairs,
    simhash,
)
from nexusbase_spark.pipeline.multimodal import attach_payload, extract_meta
from nexusbase_spark.pipeline.similarity import cosine_topk, ivf_topk
from nexusbase_spark.pipeline.text import (
    BPE_PATTERN,
    EMAIL_PATTERN,
    IPV4_PATTERN,
    LANG_STOPWORDS,
    fingerprint_mink,
    lang_id_expr,
    quality_exprs,
    token_count_bpe,
    tokens_col,
)
from nexusbase_spark.queries import register, _r4

# deterministic synthetic duplicates: every doc_id % 5 == 0 gets a copy at
# doc_id + 1000000 holding the first max(floor(0.6*n_tokens), 3) tokens
DOCS_AUG_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(t[1:greatest(CAST(floor(len(t) * 0.6) AS INT), 3)], ' ') AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE doc_id % 5 = 0)
"""

EXACT_AUG_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""

# distinct word-3-gram shingles per doc over the augmented corpus
SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM ({DOCS_AUG_SQL}))
"""


def _docs_aug(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # tokenize once in the copies branch (size + slice both reference the
    # token array; inlined each re-derived the split — r9)
    ncut = F.greatest(F.floor(F.size("__toks") * 0.6).cast("int"), F.lit(3))
    copies = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", tokens_col(F.col("text")).alias("__toks"))
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.array_join(F.slice(F.col("__toks"), 1, ncut), " ")
                .alias("text"))
    )
    return docs.unionByName(copies)


# ---------------------------------------------------------------------------
# deduplication


@register("doc_dedup_exact", f"""
    WITH d AS ({EXACT_AUG_SQL}),
    h AS (SELECT doc_id, md5(trim(lower(text))) AS content_hash FROM d),
    g AS (SELECT content_hash, min(doc_id) AS keeper, count(*) AS group_size
          FROM h GROUP BY content_hash)
    SELECT h.doc_id, h.content_hash, g.keeper, g.group_size
    FROM h JOIN g USING (content_hash)
""")
def q_doc_dedup_exact(spark, sf_dir):
    """Exact dedup: md5(normalized text) hash-groupBy; one shuffle on the
    16-byte hash, never on the text (the 100TB shape)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (docs.filter(F.col("doc_id") % 10 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return exact_dedup_groups(docs.unionByName(copies))


# the MinHash/LSH/Jaccard CTE chain, shared by the pairs query, the capped
# variant, and the connected-components clustering query


def _minhash_ctes(max_bucket: int | None = None) -> str:
    """The MinHash/LSH/Jaccard CTE chain; ``max_bucket`` mirrors the Spark
    kernel's LSH bucket cap (drop buckets holding more docs before the
    quadratic self-join)."""
    cand_src = "banded"
    cap_cte = ""
    if max_bucket is not None:
        cap_cte = f"""
    banded_ok AS (
        SELECT b.doc_id, b.band_idx, b.band_key
        FROM banded b
        JOIN (SELECT band_idx, band_key FROM banded
              GROUP BY band_idx, band_key HAVING count(*) <= {max_bucket}) ok
        USING (band_idx, band_key)
    ),"""
        cand_src = "banded_ok"
    return f"""{_minhash_prefix()}{cap_cte}
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM {cand_src} a JOIN {cand_src} b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),"""


def _minhash_prefix() -> str:
    """The shared sh -> shh -> sig -> banded CTE chain (no candidate
    self-join) — reused by the batch-LSH oracles and the DedupIndex
    probe oracle, which joins new-vs-old instead of a<b."""
    # exact mirror of the Spark kernel's universal-hash MinHash: one md5
    # per shingle -> 31-bit base hash, k affine derivations from the SAME
    # (a_j, b_j) constants (imported, not copied)
    from nexusbase_spark.pipeline.dedup import MINHASH_P, minhash_params
    params = minhash_params(8)
    return f"""
    sh AS ({SHINGLES_SQL}),
    shh AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {MINHASH_P} AS hv
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {", ".join(f"min((hv * {a} + {b}) % {MINHASH_P}) AS h{j}"
                          for j, (a, b) in enumerate(params))}
        FROM shh GROUP BY doc_id
    ),
    banded AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, "
            f"md5(CAST(h{2*b} AS VARCHAR) || '|' || CAST(h{2*b+1} AS VARCHAR)) AS band_key FROM sig"
            for b in range(4))}
    ),"""


# exact-Jaccard verification over the candidate pairs (threshold 0.3)
_MINHASH_VERIFY_TAIL = """
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS i
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    jpairs AS (
        SELECT i.id_a, i.id_b,
               CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) AS j
        FROM inter i
        JOIN sizes za ON za.doc_id = i.id_a
        JOIN sizes zb ON zb.doc_id = i.id_b
        WHERE CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i) >= 0.3
    )
"""

MINHASH_CTES = _minhash_ctes() + _MINHASH_VERIFY_TAIL


@register("doc_dedup_minhash_lsh", f"""
    WITH {MINHASH_CTES}
    SELECT id_a, id_b, round(j, 4) AS jaccard FROM jpairs
""")
def q_doc_dedup_minhash(spark, sf_dir):
    """MinHash(k=8) + LSH(4 bands x 2 rows) near-dup pairs with exact
    Jaccard verification at threshold 0.3 — candidate generation is
    O(n·bands), only candidates pay the verification join."""
    out = near_dup_pairs(_docs_aug(spark, sf_dir), num_hashes=8, bands=4, threshold=0.3)
    return _r4(out, "jaccard")


@register("doc_dedup_minhash_capped", f"""
    WITH {_minhash_ctes(max_bucket=2) + _MINHASH_VERIFY_TAIL}
    SELECT id_a, id_b, round(j, 4) AS jaccard FROM jpairs
""")
def q_doc_dedup_minhash_capped(spark, sf_dir):
    """The LSH skew guard: identical to doc_dedup_minhash_lsh but buckets
    holding more than 2 docs are dropped before the self-join. At corpus
    scale a boilerplate bucket is quadratic on one reducer key; the cap
    bounds every bucket at O(max_bucket²). Oracle mirrors the cap with a
    HAVING count(*) filter on the bucket key."""
    out = near_dup_pairs(_docs_aug(spark, sf_dir), num_hashes=8, bands=4,
                         threshold=0.3, max_bucket=2)
    return _r4(out, "jaccard")


_DEDUP_INDEX_CACHE: dict = {}


_EXACT_INDEX_CACHE: dict = {}


@register("docs_exact_dedup_index_probe", """
    WITH aug AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 400
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(list_slice(t, 1,
                   greatest(CAST(floor(len(t) * 0.6) AS INTEGER), 3)), ' ')
                   AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents WHERE doc_id < 400 AND doc_id % 5 = 0)),
    tk AS (SELECT doc_id,
                  unnest(list_distinct(string_split(trim(lower(text)), ' ')))
                      AS tok
           FROM aug),
    sz AS (SELECT doc_id, count(*) AS s FROM tk GROUP BY doc_id),
    i AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id,
                 count(*) AS inter
          FROM tk n JOIN tk o ON n.tok = o.tok
                            AND n.doc_id >= 1000000 AND o.doc_id < 1000000
          GROUP BY 1, 2)
    SELECT i.new_id, i.old_id, CAST(i.inter AS BIGINT) AS inter,
           CAST(sn.s + so.s - i.inter AS BIGINT) AS uni,
           floor(i.inter / (sn.s + so.s - i.inter) * 1e4 + 0.5) / 1e4
               AS jaccard
    FROM i JOIN sz sn ON sn.doc_id = i.new_id
           JOIN sz so ON so.doc_id = i.old_id
    WHERE i.inter * 10000 >= (sn.s + so.s - i.inter) * 5000
""")
def q_docs_exact_dedup_index_probe(spark, sf_dir):
    """The LOSSLESS incremental-dedup path: an ExactDupIndex built once
    on the historical corpus, new (truncated-copy) docs probed against
    its frozen prefix postings — every pair with token-set jaccard >=
    0.5, proven against the brute-force new-vs-old join. The exact
    companion of docs_dedup_index_probe (MinHash, probabilistic recall);
    doc_id < 400 keeps the quadratic ORACLE tractable
    (pipeline/ppjoin_index.ExactDupIndex)."""
    import tempfile

    from nexusbase_spark.pipeline.ppjoin_index import ExactDupIndex

    aug = _docs_aug(spark, sf_dir).filter(
        (F.col("doc_id") < 400)
        | ((F.col("doc_id") >= 1000000) & (F.col("doc_id") < 1000400)))
    old = aug.filter(F.col("doc_id") < 1000000)
    new = aug.filter(F.col("doc_id") >= 1000000)
    if sf_dir not in _EXACT_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="nexusbase_exact_ix_")
        _EXACT_INDEX_CACHE[sf_dir] = ExactDupIndex.build(
            spark, path, old, min_threshold=0.5)
    ix = _EXACT_INDEX_CACHE[sf_dir]
    return ix.probe(new, threshold=0.5)


@register("docs_dedup_index_probe", f"""
    WITH {_minhash_prefix()}
    hset AS (SELECT DISTINCT doc_id, hv FROM shh),
    hsz AS (SELECT doc_id, count(*) AS sz FROM hset GROUP BY doc_id),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM banded n JOIN banded o
          ON n.band_idx = o.band_idx AND n.band_key = o.band_key
         AND n.doc_id >= 1000000 AND o.doc_id < 1000000),
    inter AS (
        SELECT c.new_id, c.old_id, count(*) AS i
        FROM cand c
        JOIN hset a ON a.doc_id = c.new_id
        JOIN hset b ON b.doc_id = c.old_id AND b.hv = a.hv
        GROUP BY c.new_id, c.old_id),
    j AS (
        SELECT i.new_id, i.old_id,
               CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jac
        FROM inter i JOIN hsz sa ON sa.doc_id = i.new_id
                     JOIN hsz sb ON sb.doc_id = i.old_id)
    SELECT new_id, old_id, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.3
""")
def q_docs_dedup_index_probe(spark, sf_dir):
    """Incremental near-dup dedup through the MATERIALIZED DedupIndex
    (pipeline/dedup_index.py): the original corpus is indexed ONCE
    (band-bucket store partitioned by band_idx); the augmented truncated
    copies arrive as a later batch and are deduped by PROBING the stored
    buckets — the historical corpus is never re-shingled. This is the
    100TB daily-ingest dedup shape; the batch kernel
    (doc_dedup_minhash_lsh) is the backfill shape. Jaccard here is over
    the distinct 31-bit shingle-hash sets (what the index stores); the
    oracle mirrors the same hv sets, so hash collisions cannot cause a
    mismatch."""
    import tempfile

    from nexusbase_spark.pipeline.dedup_index import DedupIndex

    aug = _docs_aug(spark, sf_dir)
    old = aug.filter(F.col("doc_id") < 1000000)
    new = aug.filter(F.col("doc_id") >= 1000000)
    if sf_dir not in _DEDUP_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="nexusbase_dedup_ix_")
        _DEDUP_INDEX_CACHE[sf_dir] = DedupIndex.build(spark, path, old)
    idx = _DEDUP_INDEX_CACHE[sf_dir]
    return _r4(idx.probe(new, threshold=0.3), "jaccard")


@register("doc_dedup_clusters", f"""
    WITH RECURSIVE {MINHASH_CTES},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM jpairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM jpairs
    ),
    reach(node, label) AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT node AS doc_id, min(label) AS canonical_id
    FROM reach GROUP BY node
""")
def q_doc_dedup_clusters(spark, sf_dir):
    """Connected components over the near-dup pairs: every doc in a dup
    group mapped to the group's canonical (minimum) id. Iterative
    min-label propagation on Spark; transitive-closure recursive CTE in
    the oracle."""
    from nexusbase_spark.pipeline.dedup import dedup_clusters
    pairs = near_dup_pairs(_docs_aug(spark, sf_dir), num_hashes=8, bands=4, threshold=0.3)
    return dedup_clusters(pairs)


@register("docs_dedup_canonical", f"""
    WITH RECURSIVE {MINHASH_CTES},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM jpairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM jpairs
    ),
    reach(node, label) AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
    ),
    cl AS (SELECT node AS doc_id, min(label) AS canonical_id
           FROM reach GROUP BY node),
    d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
          FROM ({DOCS_AUG_SQL})),
    lab AS (
        SELECT d.doc_id, coalesce(cl.canonical_id, d.doc_id) AS cluster_id,
               d.n_chars
        FROM d LEFT JOIN cl ON cl.doc_id = d.doc_id),
    r AS (
        SELECT doc_id, cluster_id, n_chars,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM lab)
    SELECT doc_id, cluster_id, n_chars, rn = 1 AS keep FROM r
""")
def q_docs_dedup_canonical(spark, sf_dir):
    """The dedup endgame composed end to end: near-dup pairs -> connected
    components -> ONE canonical representative per cluster (longest
    member, ties to smallest id) with a per-doc keep/drop verdict — the
    row a curation pipeline actually filters on. Singletons are their
    own cluster and always kept (pipeline/dedup.canonical_keep)."""
    from nexusbase_spark.pipeline.dedup import canonical_keep, dedup_clusters
    docs = _docs_aug(spark, sf_dir)
    pairs = near_dup_pairs(docs, num_hashes=8, bands=4, threshold=0.3)
    return canonical_keep(docs, dedup_clusters(pairs))


@register("doc_dedup_simhash", f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM ({DOCS_AUG_SQL})),
    v AS (
        SELECT doc_id,
               {", ".join(
                   f"sum(CASE WHEN strpos('0123456789abcdef', substr(md5(tok), {i+1}, 1)) - 1 >= 8 "
                   f"THEN 1 ELSE -1 END) AS v{i}" for i in range(16))}
        FROM tok GROUP BY doc_id
    )
    SELECT doc_id,
           ({" + ".join(f"CASE WHEN v{i} > 0 THEN {2**i} ELSE 0 END" for i in range(16))})::BIGINT AS simhash
    FROM v
""")
def q_doc_dedup_simhash(spark, sf_dir):
    """16-bit SimHash signatures from frequency-weighted tokens (bit i =
    sign of summed ±1 votes from md5 hex digit i)."""
    return simhash(_docs_aug(spark, sf_dir), bits=16)


@register("doc_ngram_jaccard_probe", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t),
    probe AS (SELECT tok FROM s WHERE doc_id = 0),
    sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
    inter AS (
        SELECT s.doc_id, count(*) AS i
        FROM s JOIN probe USING (tok)
        WHERE s.doc_id <> 0
        GROUP BY s.doc_id
    )
    SELECT i.doc_id,
           round(CAST(i.i AS DOUBLE)
                 / ((SELECT sz FROM sizes WHERE doc_id = 0) + z.sz - i.i), 4) AS jaccard
    FROM inter i JOIN sizes z ON z.doc_id = i.doc_id
    WHERE i.i > 0
""")
def q_doc_ngram_jaccard(spark, sf_dir):
    """Token-set (1-gram) Jaccard of every doc against probe doc 0 —
    the exact-verification primitive of the n-gram dedup family."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = docs.select("doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok"))
    probe = s.filter(F.col("doc_id") == 0).select("tok")
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    probe_sz = sizes.filter(F.col("doc_id") == 0).collect()[0]["sz"]
    inter = (
        s.filter(F.col("doc_id") != 0)
        # lint: k-row — probe is ONE document's distinct tokens
        .join(F.broadcast(probe), "tok")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("i"))
    )
    out = (
        inter.join(sizes, "doc_id")
        .filter(F.col("i") > 0)
        .select("doc_id",
                F.round(F.col("i") / (F.lit(probe_sz) + F.col("sz") - F.col("i")), 4).alias("jaccard"))
    )
    return out


@register("doc_fingerprint", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
           FROM t),
    fp AS (SELECT doc_id,
                  array_to_string(list_sort(list(DISTINCT md5(shingle)))[1:4], '') AS fingerprint
           FROM sh GROUP BY doc_id)
    SELECT d.doc_id, coalesce(fp.fingerprint, '') AS fingerprint
    FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
""")
def q_doc_fingerprint(spark, sf_dir):
    """Bottom-4 sketch of word-3-gram md5s — constant-size per-doc content
    signature, stable under small edits."""
    from nexusbase_spark.pipeline.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    # two-level select: tokenize once below, shingle/hash above (the
    # inlined form re-derived the split 6x per row in one projection)
    toked = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    return toked.select(
        "doc_id",
        fingerprint_mink(n=3, k=4, toks=F.col("__toks")).alias("fingerprint"))


@register("doc_winnow_fingerprint", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    h AS (SELECT doc_id,
                 list_transform(range(1, greatest(len(t) - 1, 1)),
                        i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS h
          FROM t)
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(h) - 3, 0) + 1),
                  i -> least(h[i], h[i+1], h[i+2], h[i+3]))) AS fp
    FROM h
""")
def q_doc_winnow_fingerprint(spark, sf_dir):
    """Winnowing: positional 3-gram hashes, window-of-4 minima, distinct
    selected hashes per doc — every shared 6-token run guarantees a
    shared fingerprint row (SIGMOD'03 winnowing on Spark arrays)."""
    from nexusbase_spark.pipeline.text import (shingles_of_tokens,
                                               tokens_col,
                                               winnow_from_hashes)
    docs = load_table(spark, sf_dir, "documents")
    # pre-project tokens, then the positional hash array: the w+1 slice
    # references inside the windowed minimum re-derived ALL the
    # per-shingle md5s per reference, and the shingle slices re-derived
    # the split (plan md5 8 -> 1, split 6 -> 1 — r9)
    toked = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    hashed = toked.select(
        "doc_id",
        F.transform(shingles_of_tokens(F.col("__toks"), 3),
                    F.md5).alias("__h"))
    return hashed.select(
        "doc_id",
        F.explode(winnow_from_hashes(F.col("__h"), 4)).alias("fp"))


@register("doc_containment_pairs", f"""
    WITH {MINHASH_CTES}
    SELECT i.id_a, i.id_b,
           round(CAST(i.i AS DOUBLE) / least(za.sz, zb.sz), 4) AS containment
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE CAST(i.i AS DOUBLE) / least(za.sz, zb.sz) >= 0.8
""")
def q_doc_containment_pairs(spark, sf_dir):
    """n-gram containment |A∩B|/min(|A|,|B|) over the LSH candidates:
    the truncated copies in the augmented corpus score 1.0 here while
    their Jaccard is only the truncation ratio."""
    from nexusbase_spark.pipeline.dedup import containment_pairs
    out = containment_pairs(_docs_aug(spark, sf_dir), num_hashes=8,
                            bands=4, threshold=0.8)
    return _r4(out, "containment")


@register("docs_cross_source_dups", """
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(trim(lower(text)), ' '))) AS tok
        FROM documents WHERE doc_id < 400),
    sz AS (SELECT doc_id, count(*) AS s FROM t GROUP BY doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    p AS (
        SELECT i.id_a, i.id_b,
               i.inter / CAST(sa.s + sb.s - i.inter AS DOUBLE) AS j
        FROM i JOIN sz sa ON sa.doc_id = i.id_a
               JOIN sz sb ON sb.doc_id = i.id_b
        WHERE i.inter * 10000 >= (sa.s + sb.s - i.inter) * 8000),
    m AS (
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               p.j
        FROM p JOIN documents da ON da.doc_id = p.id_a
               JOIN documents db ON db.doc_id = p.id_b)
    SELECT source_a, source_b, count(*) AS n_pairs,
           floor(sum(CAST(floor(j * 1e4 + 0.5) AS BIGINT))
                 / CAST(count(*) AS DOUBLE) + 0.5) / 1e4 AS avg_jaccard
    FROM m GROUP BY source_a, source_b
""")
def q_docs_cross_source_dups(spark, sf_dir):
    """Cross-source duplication matrix: exact near-dup pairs (PPJoin,
    j >= 0.8) rolled up by UNORDERED source pair — the mirror-detection
    report ("source X largely duplicates source Y") that drives source-
    level dedup and licensing review. Pair space from the lossless
    prefix-filter join; the matrix rollup is source-cardinality-sized.
    Same doc_id < 400 oracle-tractability cap as docs_ppjoin_pairs.
    The mean runs on the INTEGER lattice (sum of per-pair jq int64 /
    count — one exactly-rounded division), because averaging quantized
    FLOATS drifts by summation order and hit a boundary at sf0.001."""
    from nexusbase_spark.pipeline.dedup import prefix_filter_pairs

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400))
    pairs = prefix_filter_pairs(docs, threshold=0.8)
    src = docs.select("doc_id", "source")
    m = (pairs
         .join(src.select(F.col("doc_id").alias("id_a"),
                          F.col("source").alias("__sa")), "id_a")
         .join(src.select(F.col("doc_id").alias("id_b"),
                          F.col("source").alias("__sb")), "id_b")
         .select(F.least("__sa", "__sb").alias("source_a"),
                 F.greatest("__sa", "__sb").alias("source_b"),
                 "jaccard"))
    jq = F.floor(F.col("jaccard") * 1e4 + F.lit(0.5)).cast("long")
    return (m.withColumn("__jq", jq)
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 (F.floor(F.sum("__jq") / F.count(F.lit(1)).cast("double")
                          + F.lit(0.5)) / 1e4).alias("avg_jaccard")))


@register("docs_ppjoin_pairs", """
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(trim(lower(text)), ' '))) AS tok
        FROM documents WHERE doc_id < 400),
    sz AS (SELECT doc_id, count(*) AS s FROM t GROUP BY doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT i.id_a, i.id_b, CAST(i.inter AS BIGINT) AS inter,
           CAST(sa.s + sb.s - i.inter AS BIGINT) AS uni,
           floor(i.inter / (sa.s + sb.s - i.inter) * 1e4 + 0.5) / 1e4 AS jaccard
    FROM i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b
    WHERE i.inter * 10000 >= (sa.s + sb.s - i.inter) * 8000
""")
def q_docs_ppjoin_pairs(spark, sf_dir):
    """EXACT token-set Jaccard >= 0.8 self-join via prefix filtering
    (AllPairs/PPJoin — the lossless companion to MinHash LSH: every
    qualifying pair, no recall loss, yet candidates come only from the
    rarest-token prefixes so the frequent-token hot buckets never join).
    The oracle is the BRUTE-FORCE all-shared-token join — matching it
    exactly is the losslessness proof the LSH family can't make.
    Restricted to doc_id < 400 purely to keep the quadratic ORACLE
    tractable (knn_graph precedent); the operator itself is df-bounded
    and runs corpus-wide (pipeline/dedup.prefix_filter_pairs)."""
    from nexusbase_spark.pipeline.dedup import prefix_filter_pairs
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400))
    return prefix_filter_pairs(docs, threshold=0.8)


# ---------------------------------------------------------------------------
# text analysis


def _lang_case_sql() -> str:
    langs = sorted(LANG_STOPWORDS)
    hits = {
        lang: f"len(list_intersect(toks, [{', '.join(repr(w) for w in LANG_STOPWORDS[lang])}]))"
        for lang in langs
    }
    branches = []
    for idx, lang in enumerate(langs):
        later = langs[idx + 1:]
        conds = [f"h_{lang} >= h_{m}" for m in later] + [f"h_{lang} > 0"]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    hit_cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return f"""
        WITH t AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks FROM documents),
        h AS (SELECT doc_id, {hit_cols} FROM t)
        SELECT doc_id, CASE {' '.join(branches)} ELSE 'und' END AS lang_pred FROM h
    """


@register("text_lang_id", _lang_case_sql())
def q_text_lang_id(spark, sf_dir):
    """Stopword-voting language ID (first-argmax deterministic tie-break)."""
    from nexusbase_spark.pipeline.text import tokens_col
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once below the vote projection (was 26 split() copies —
    # one per per-language score reference in the argmax fold, r9)
    base = docs.select("doc_id", "text",
                       tokens_col(F.col("text")).alias("__toks"))
    return base.select(
        "doc_id",
        lang_id_expr(F.col("text"), toks=F.col("__toks")).alias("lang_pred"))


@register("docs_langid_confusion", f"""
    WITH pred AS ({_lang_case_sql()})
    SELECT d.lang AS label, p.lang_pred AS pred,
           count(*) AS n,
           floor(count(*) * 1e4
                 / CAST(sum(count(*)) OVER (PARTITION BY d.lang) AS DOUBLE)
                 + 0.5) / 1e4 AS frac_of_label
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY d.lang, p.lang_pred
""")
def q_docs_langid_confusion(spark, sf_dir):
    """Classifier EVAL as a first-class operator: the confusion matrix
    of the heuristic language ID against the corpus's labeled ``lang``
    column, with each cell's share of its true-label row — the honest
    per-class accuracy report behind any 'lang-id then filter' pipeline
    decision (a class the heuristic can't separate shows up as off-
    diagonal mass here BEFORE it silently skews the corpus mix). One
    scan + one (label, pred) rollup; the row-share window runs over the
    label-cardinality-bounded matrix, not the corpus."""
    from pyspark.sql import Window

    from nexusbase_spark.pipeline.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    # tokenize once below the vote projection (was 26 split() copies, r9)
    base = docs.select("lang", "text",
                       tokens_col(F.col("text")).alias("__toks"))
    m = (base.select(F.col("lang").alias("label"),
                     lang_id_expr(F.col("text"),
                                  toks=F.col("__toks")).alias("pred"))
         .groupBy("label", "pred").agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("label")
    return m.select(
        "label", "pred", "n",
        (F.floor(F.col("n") * 1e4 / F.sum("n").over(w).cast("double")
                 + F.lit(0.5)) / 1e4).alias("frac_of_label"))


_STOP_ALL = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})


@register("text_quality", f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           len(toks)::BIGINT AS n_tokens,
           round((length(text) - len(toks) + 1) / CAST(len(toks) AS DOUBLE), 4) AS avg_token_len,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
           round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
           round(len(list_filter(toks, x -> list_contains([{", ".join(repr(w) for w in _STOP_ALL)}], x)))
                 / CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio
    FROM t
""")
def q_text_quality(spark, sf_dir):
    """Pre-training quality features: length/token stats, punctuation &
    digit ratios, stopword ratio."""
    from nexusbase_spark.pipeline.text import tokens_col
    docs = load_table(spark, sf_dir, "documents")
    # two-level select: tokenize once, then derive the five token-based
    # features from the materialized array (see quality_exprs docstring;
    # plan carries 1 split() instead of 5)
    base = docs.select("doc_id", "text",
                       tokens_col(F.col("text")).alias("__toks"))
    qx = quality_exprs(F.col("text"), toks=F.col("__toks"))
    out = base.select("doc_id", *[v.alias(k) for k, v in qx.items()])
    return _r4(out, "avg_token_len", "punct_ratio", "digit_ratio", "stopword_ratio")


@register("docs_gopher_rules", """
    WITH t AS (SELECT doc_id, text,
                      string_split(trim(lower(text)), ' ') AS toks
               FROM documents),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               list_sum(list_transform(toks, x -> length(x))) AS wc,
               len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                   AS n_alpha,
               CAST(length(text) - length(replace(text, '#', ''))
                    + (length(text) - length(replace(text, '...', ''))) // 3
                    AS BIGINT) AS n_symbols,
               len(list_intersect(list_distinct(toks),
                   ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
                   AS n_req
        FROM t)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           floor(wc / CAST(n_words AS DOUBLE) * 1e4 + 0.5) / 1e4
               AS mean_word_len,
           floor(n_alpha / CAST(n_words AS DOUBLE) * 1e4 + 0.5) / 1e4
               AS alpha_frac,
           CAST(n_req AS BIGINT) AS n_required_stop,
           n_words >= 50 AND n_words <= 100000 AS ok_word_count,
           wc >= 3 * n_words AND wc <= 10 * n_words AS ok_mean_word_len,
           n_symbols * 10 <= n_words AS ok_symbol_ratio,
           n_alpha * 5 >= n_words * 4 AS ok_alpha_words,
           n_req >= 2 AS ok_stopwords,
           (n_words >= 50 AND n_words <= 100000)
               AND (wc >= 3 * n_words AND wc <= 10 * n_words)
               AND n_symbols * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_req >= 2 AS keep
    FROM m
""")
def q_docs_gopher_rules(spark, sf_dir):
    """The published Gopher word-level quality rules (Rae et al. 2021):
    word-count bounds, mean-word-length 3-10, symbol-to-word ratio,
    >=80% alphabetic words, >=2 required stopwords — per-rule flags and
    the keep conjunction, every verdict from integer cross-multiplied
    comparisons so no float ulp can flip a flag
    (pipeline/text.gopher_rules_exprs; the line-based Gopher rules need
    newline structure this corpus doesn't carry)."""
    from nexusbase_spark.pipeline.text import gopher_rules_exprs, tokens_col

    docs = load_table(spark, sf_dir, "documents")
    # tokenize once below the rules projection (was 26 split() copies, r9)
    base = docs.select("doc_id", "text",
                       tokens_col(F.col("text")).alias("__toks"))
    gx = gopher_rules_exprs(F.col("text"), toks=F.col("__toks"))
    out = base.select("doc_id", *[v.alias(k) for k, v in gx.items()])
    q4 = lambda c: F.floor(F.col(c) * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (out.withColumn("mean_word_len", q4("mean_word_len"))
            .withColumn("alpha_frac", q4("alpha_frac")))


@register("docs_export_manifest", """
    WITH r AS (
        SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 8 AS shard,
               CAST(('0x' || substring(
                   md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), text,
                                 coalesce(lang, chr(0)),
                                 coalesce(source, chr(0)),
                                 CAST(n_chars AS VARCHAR))), 1, 15))
                    AS BIGINT) AS d1,
               CAST(('0x' || substring(
                   md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), text,
                                 coalesce(lang, chr(0)),
                                 coalesce(source, chr(0)),
                                 CAST(n_chars AS VARCHAR))), 17, 15))
                    AS BIGINT) AS d2
        FROM documents)
    SELECT shard, count(*) AS n_rows,
           bit_xor(d1) AS w1, bit_xor(d2) AS w2
    FROM r GROUP BY shard
""")
def q_docs_export_manifest(spark, sf_dir):
    """The export manifest computed as a query: per-shard row counts and
    order-free XOR digest words over the documents corpus — the exact
    arithmetic ``pipeline/export.export_shards`` writes to
    manifest.json, gated cross-engine so a digest divergence (hash
    construction, column serialization, null encoding) can never hide
    in the sink. Content-addressed shard = md5(id) mod 8; digests are
    bit_xor folds of two 60-bit md5 words (order-free, overflow-free)."""
    from nexusbase_spark.pipeline.export import _row_digest_cols

    docs = load_table(spark, sf_dir, "documents")
    cols = ["text", "lang", "source", "n_chars"]
    shard = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 15), 16, 10).cast("long") % 8)
    d1, d2 = _row_digest_cols(docs, "doc_id", cols)
    return (docs.select(shard.alias("shard"),
                        d1.alias("__d1"), d2.alias("__d2"))
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.expr("bit_xor(__d1)").alias("w1"),
                 F.expr("bit_xor(__d2)").alias("w2")))


@register("docs_psi_length_by_source", """
    WITH s AS (SELECT min(n_chars) AS lo,
                      CASE WHEN max(n_chars) > min(n_chars)
                           THEN (max(n_chars) - min(n_chars)) / 10.0
                           ELSE 1.0 END AS wd
               FROM documents),
    d AS (SELECT source,
                 least(9, greatest(0,
                     CAST(floor((n_chars - (SELECT lo FROM s))
                                / (SELECT wd FROM s)) AS BIGINT))) AS bin
          FROM documents),
    ch AS (SELECT source, bin, count(*) AS cnt FROM d GROUP BY 1, 2),
    rh AS (SELECT bin, count(*) AS cnt FROM d GROUP BY 1),
    grid AS (SELECT src.source, b.bin
             FROM (SELECT DISTINCT source FROM documents) src,
                  (SELECT unnest(range(0, 10)) AS bin) b),
    j AS (SELECT g.source, g.bin,
                 coalesce(rh.cnt, 0) AS rc, coalesce(ch.cnt, 0) AS cc
          FROM grid g
          LEFT JOIN rh ON rh.bin = g.bin
          LEFT JOIN ch ON ch.source = g.source AND ch.bin = g.bin),
    t AS (SELECT source, sum(rc) + 10 AS nr, sum(cc) + 10 AS nc
          FROM j GROUP BY source)
    SELECT j.source, CAST(sum(cc) AS BIGINT) AS n_docs,
           floor(sum(((cc + 1) / CAST(t.nc AS DOUBLE)
                      - (rc + 1) / CAST(t.nr AS DOUBLE))
                     * ln(((cc + 1) / CAST(t.nc AS DOUBLE))
                          / ((rc + 1) / CAST(t.nr AS DOUBLE))))
                 * 1e4 + 0.5) / 1e4 AS psi
    FROM j JOIN t ON t.source = j.source
    GROUP BY j.source, t.nr, t.nc
""")
def q_docs_psi_length_by_source(spark, sf_dir):
    """Per-source PSI of the document-LENGTH distribution against the
    whole corpus — the structural-drift companion of docs_source_kl
    (which compares token distributions): a source whose docs run
    systematically short/long shifts mixture statistics even when its
    vocabulary looks normal. Grouped composition: corpus-wide bins
    (scalar anchors), one per-(source, bin) rollup, the constant
    sources x 10 grid aligns empty bins; everything map-side combined,
    nothing vocab- or corpus-sized on the driver."""
    from pyspark.sql import Window  # noqa: F401

    from nexusbase_spark.streaming.drift import _bin_expr

    docs = load_table(spark, sf_dir, "documents")
    g = docs.agg(F.min("n_chars").alias("lo"),
                 F.max("n_chars").alias("hi")).collect()[0]
    lo, hi = float(g["lo"]), float(g["hi"])
    width = (hi - lo) / 10.0 if hi > lo else 1.0
    d = docs.select("source",
                    _bin_expr(F.col("n_chars"), lo, width, 10).alias("bin"))
    d = d.localCheckpoint(eager=True)  # two rollups share one binning
    ch = d.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("cc"))
    rh = d.groupBy("bin").agg(F.count(F.lit(1)).alias("rc"))
    grid = (d.select("source").distinct()
            .crossJoin(spark.range(10).select(F.col("id").alias("bin"))))
    j = (grid.join(rh, "bin", "left")
         .join(ch, ["source", "bin"], "left")
         .select("source", "bin",
                 F.coalesce("rc", F.lit(0)).alias("rc"),
                 F.coalesce("cc", F.lit(0)).alias("cc")))
    t = j.groupBy("source").agg((F.sum("rc") + 10).alias("nr"),
                                (F.sum("cc") + 10).alias("nc"))
    jt = j.join(t, "source")
    p = (F.col("cc") + 1) / F.col("nc").cast("double")
    q = (F.col("rc") + 1) / F.col("nr").cast("double")
    return (jt.groupBy("source")
            .agg(F.sum("cc").cast("long").alias("n_docs"),
                 (F.floor(F.sum((p - q) * F.log(p / q)) * 1e4
                          + F.lit(0.5)) / 1e4).alias("psi")))


@register("docs_zipf_slope", """
    WITH tok AS (SELECT unnest(string_split(trim(lower(text)), ' ')) AS tok
                 FROM documents),
    f AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    r AS (SELECT c,
                 row_number() OVER (ORDER BY c DESC, tok) AS rk
          FROM f QUALIFY rk <= 100),
    s AS (SELECT count(*) AS n,
                 sum(ln(rk)) AS sx, sum(ln(c)) AS sy,
                 sum(ln(rk) * ln(rk)) AS sxx,
                 sum(ln(rk) * ln(c)) AS sxy
          FROM r)
    SELECT CAST(n AS BIGINT) AS n_terms,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e4 + 0.5)
               / 1e4 AS zipf_slope
    FROM s
""")
def q_docs_zipf_slope(spark, sf_dir):
    """Zipf-law fit of the corpus: OLS slope of ln(freq) ~ ln(rank) over
    the top-100 terms — natural language sits near −1; templated or
    synthetic corpora flatten. A one-number corpus-health fingerprint
    beside the per-source KL report. One wordcount rollup, a distributed
    top-100 (TakeOrderedAndProject — no vocab-wide window), rank
    assignment and the moment sums over 100 rows."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    from nexusbase_spark.pipeline.text import tokens_col

    f = (docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
         .groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    top = f.orderBy(F.col("c").desc(), "tok").limit(100)
    rk = F.row_number().over(Window.orderBy(F.col("c").desc(), "tok"))
    r = top.select("c", rk.alias("rk"))
    x, y = F.log("rk"), F.log("c")
    s = r.agg(F.count(F.lit(1)).alias("n"),
              F.sum(x).alias("sx"), F.sum(y).alias("sy"),
              F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return s.select(F.col("n").cast("long").alias("n_terms"),
                    (F.floor(slope * 1e4 + F.lit(0.5)) / 1e4)
                    .alias("zipf_slope"))


@register("docs_char_entropy", """
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents),
    hist AS (
        SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_chars,
           floor((ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt))
                 / ln(2) * 1e4 + 0.5) / 1e4 AS entropy
    FROM hist GROUP BY doc_id
""")
def q_docs_char_entropy(spark, sf_dir):
    """Per-document character-level Shannon entropy (bits/char): the
    cheapest natural-text-vs-noise signal (English ~4.0-4.5; random
    base64 ~6; one repeated char = 0). Wordcount-shaped char-histogram
    rollup, H = log2(n) - sum(c*log2 c)/n (pipeline/text.char_entropy)."""
    from nexusbase_spark.pipeline.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    out = char_entropy(docs)
    return out.withColumn(
        "entropy", F.floor(F.col("entropy") * 1e4 + F.lit(0.5)) / 1e4)


@register("text_token_count", f"""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))::BIGINT AS n_bpe_tokens
    FROM documents
""")
def q_text_token_count(spark, sf_dir):
    """Whitespace token count + BPE-ish pre-tokenizer count."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        token_count_bpe(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


@register("text_repetition", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, greatest(len(t), 1)),
                                i -> t[i] || ' ' || t[i+1]) AS grams
          FROM t)
    SELECT doc_id,
           CASE WHEN len(grams) = 0 THEN 0.0
                ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4)
           END AS rep_ratio
    FROM g
""")
def q_text_repetition(spark, sf_dir):
    """Intra-doc repetition ratio (duplicate word-2-gram fraction) — the
    boilerplate/template/spam signal of pre-training quality filters."""
    from nexusbase_spark.pipeline.text import repetition_ratio, tokens_col
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once below the ratio projection (was 12 split() copies, r9)
    base = docs.select("doc_id", "text",
                       tokens_col(F.col("text")).alias("__toks"))
    out = base.select("doc_id",
                      repetition_ratio(F.col("text"), 2,
                                       toks=F.col("__toks")).alias("rep_ratio"))
    return _r4(out, "rep_ratio")


# deterministic synthetic PII: docs at doc_id % 7 == 0 get an email and an
# IPv4 appended, so the redaction operator has guaranteed positives
_PII_AUG_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.5'
                ELSE text END AS text
    FROM documents
"""


_PII_SQL = f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '@EMAIL@'))::BIGINT AS n_emails,
           len(regexp_extract_all(lower(text), '@IPV4@'))::BIGINT AS n_ips,
           md5(regexp_replace(regexp_replace(lower(text), '@EMAIL@', '<EMAIL>', 'g'),
                              '@IPV4@', '<IP>', 'g')) AS redacted_md5
    FROM ({_PII_AUG_SQL})
"""


@register("text_pii_redact",
          _PII_SQL.replace("@EMAIL@", EMAIL_PATTERN).replace("@IPV4@", IPV4_PATTERN))
def q_text_pii_redact(spark, sf_dir):
    """PII scrubbing: count + redact emails and IPv4 literals (regex subset
    with identical Java-regex/RE2 semantics; redacted text compared by
    md5). Synthetic PII is appended deterministically inside the query so
    the operator has guaranteed positives in both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"),
                        F.lit(" contact user"), F.col("doc_id").cast("string"),
                        F.lit("@example.com at 10.0."),
                        (F.col("doc_id") % 256).cast("string"), F.lit(".5")))
        .otherwise(F.col("text")).alias("text"))
    from nexusbase_spark.pipeline.text import pii_exprs
    e = pii_exprs(F.col("text"))
    return aug.select("doc_id", e["n_emails"].alias("n_emails"),
                      e["n_ips"].alias("n_ips"),
                      F.md5(e["redacted"]).alias("redacted_md5"))


# ---------------------------------------------------------------------------
# similarity search

_COS_SQL = """
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
    m AS (
        SELECT v.vec_id,
               (SELECT sum(CAST(v.embedding[r.i] AS DOUBLE) * CAST(probe.p[r.i] AS DOUBLE))
                FROM range(1, 65) r(i)) /
               (sqrt((SELECT sum(CAST(v.embedding[r.i] AS DOUBLE) ** 2) FROM range(1, 65) r(i))) *
                sqrt((SELECT sum(CAST(probe.p[r.i] AS DOUBLE) ** 2) FROM range(1, 65) r(i)))) AS c
        FROM embeddings v, probe
        WHERE v.vec_id <> 0 {extra}
    )
    SELECT vec_id, round(c, 4) AS cosine FROM m
    ORDER BY c DESC, vec_id LIMIT {k}
"""


_PROBE_CACHE: dict[str, list[float]] = {}


def _probe_vec(spark, sf_dir):
    """Probe vector (vec_id 0), memoized per sf_dir: four ANN queries use
    it and each collect is a full Spark job — at the bench's per-query
    floor (~0.3s) that job is a measurable share of every embed query."""
    if sf_dir not in _PROBE_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _PROBE_CACHE[sf_dir] = [
            float(x) for x in
            emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return _PROBE_CACHE[sf_dir]


@register("embed_cosine_topk", _COS_SQL.format(extra="", k=20))
def q_embed_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-20 (double precision; DuckDB's
    list_cosine_similarity is float32 so the oracle spells out the math)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, _probe_vec(spark, sf_dir), k=20, exclude_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


@register("embed_ivf_topk", """
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
    pr AS (SELECT r.i AS pos, CAST(p[r.i] AS DOUBLE) AS pv
           FROM probe, range(1, 65) r(i)),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM pr),
    dim AS (SELECT label, r.i AS pos, avg(CAST(embedding[r.i] AS DOUBLE)) AS m
            FROM embeddings, range(1, 65) r(i) GROUP BY label, r.i),
    cs AS (
        SELECT d.label, sum(d.m * pr.pv) / (sqrt(sum(d.m * d.m)) * any_value(pn.n)) AS c
        FROM dim d JOIN pr ON pr.pos = d.pos, pn GROUP BY d.label
    ),
    best AS (SELECT label FROM cs ORDER BY c DESC, label LIMIT 2),
    m AS (
        SELECT v.vec_id,
               sum(CAST(v.embedding[pr.pos] AS DOUBLE) * pr.pv) AS dot,
               sqrt(sum(CAST(v.embedding[pr.pos] AS DOUBLE) ** 2)) AS vn
        FROM embeddings v, pr
        WHERE v.vec_id <> 0 AND v.label IN (SELECT label FROM best)
        GROUP BY v.vec_id
    )
    SELECT vec_id, round(dot / (vn * (SELECT n FROM pn)), 4) AS cosine FROM m
    ORDER BY dot / (vn * (SELECT n FROM pn)) DESC, vec_id LIMIT 10
""")
def q_embed_ivf_topk(spark, sf_dir):
    """IVF-pruned top-10: rank coarse partitions (label column as the
    k-means stand-in) by centroid cosine, scan only the best 2."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, _probe_vec(spark, sf_dir), k=10, nprobe=2, exclude_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


@register("embed_int8_topk", """
    WITH qv AS (
        SELECT vec_id,
               list_transform(range(1, 65),
                   i -> round(CAST(embedding[i] AS DOUBLE) * 127 / s)) AS q
        FROM (SELECT vec_id, embedding,
                     greatest((SELECT max(abs(CAST(embedding[r.i] AS DOUBLE)))
                               FROM range(1, 65) r(i)), 1e-30) AS s
              FROM embeddings)
    ),
    probe AS (SELECT q AS p FROM qv WHERE vec_id = 0),
    m AS (
        SELECT v.vec_id,
               (SELECT sum(v.q[r.i] * probe.p[r.i]) FROM range(1, 65) r(i)) /
               (sqrt((SELECT sum(v.q[r.i] ** 2) FROM range(1, 65) r(i))) *
                sqrt((SELECT sum(probe.p[r.i] ** 2) FROM range(1, 65) r(i)))) AS c
        FROM qv v, probe
        WHERE v.vec_id <> 0
    )
    SELECT vec_id, round(c, 4) AS cosine FROM m
    ORDER BY c DESC, vec_id LIMIT 10
""")
def q_embed_int8_topk(spark, sf_dir):
    """Top-10 cosine over int8-quantized vectors (scale = max|x|/127,
    round-half-away — identical in both engines; integer dots are exact
    in double so the ranking is bit-deterministic). The 4x-memory ANN
    path for billion-vector corpora."""
    from nexusbase_spark.pipeline.similarity import int8_topk
    emb = load_table(spark, sf_dir, "embeddings")
    out = int8_topk(emb, k=10, probe_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


@register("embed_neardup_pairs", """
    WITH aug AS (
        SELECT vec_id, label,
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS e
        FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, label,
               list_transform(range(1, 65),
                   i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) * 1.01
                             ELSE CAST(embedding[i] AS DOUBLE) END) AS e
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    pos AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               sum(a.e[r.i] * b.e[r.i]) AS dot,
               sqrt(sum(a.e[r.i] * a.e[r.i])) AS na,
               sqrt(sum(b.e[r.i] * b.e[r.i])) AS nb
        FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id,
             range(1, 65) r(i)
        GROUP BY a.vec_id, b.vec_id
    )
    SELECT id_a, id_b, round(dot / (na * nb), 4) AS cosine
    FROM pos WHERE dot / (na * nb) >= 0.99
""")
def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, label-bucketed (no all-pairs join).
    Synthetic near-dups: every 10th vector gets a copy with its first
    component scaled 1.01x (cos ~0.9999) at id+1000000, same bucket."""
    from nexusbase_spark.pipeline.embdedup import cosine_near_dup_pairs
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", "label", as_double.alias("embedding"))
    perturbed = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == 0, x.cast("double") * 1.01).otherwise(x.cast("double")))
    copies = (emb.filter(F.col("vec_id") % 10 == 0)
              .select((F.col("vec_id") + 1000000).alias("vec_id"), "label",
                      perturbed.alias("embedding")))
    out = cosine_near_dup_pairs(base.unionByName(copies), threshold=0.99)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


# ---------------------------------------------------------------------------
# multimodal plumbing


@register("multimodal_meta", """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           sha256(text) AS sha256,
           (1 + octet_length(encode(text)) % 640)::BIGINT AS fake_width,
           (1 + octet_length(encode(text)) * 7 % 480)::BIGINT AS fake_height
    FROM documents
""")
def q_multimodal_meta(spark, sf_dir):
    """Binary-payload metadata extraction through the real Arrow/mapInPandas
    path (decode stubbed deterministically — codecs absent here; the
    schema/batching/partition plumbing is what's exercised)."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_meta(attach_payload(docs))


def _kmeans_ctes(k: int = 4, iters: int = 3, where: str = "") -> str:
    """Unrolled deterministic Lloyd k-means in SQL — the exact mirror of
    pipeline/similarity.kmeans_assign (init = vec_id < k, centroids and
    squared-L2 distances rounded to 6 decimals, argmin ties by cid).
    ``where`` restricts the clustered population (e.g. 'WHERE vec_id <
    300' when the Spark side trains on a filtered frame)."""
    src = (f"(SELECT * FROM embeddings {where})" if where else "embeddings")
    ctes = [
        "ev AS (SELECT vec_id, r.i - 1 AS pos, CAST(embedding[r.i] AS DOUBLE) AS x"
        f" FROM {src} embx, range(1, 65) r(i))",
        f"c0 AS (SELECT vec_id AS cid, pos, round(x, 6) AS val FROM ev WHERE vec_id < {k})",
    ]
    # each iteration t: assign against c{t-1}, then update means -> c{t};
    # the FINAL labels are one more assignment against c{iters} — exactly
    # kmeans_assign's loop (iters x (assign, update)) + closing assignment
    for t in range(1, iters + 2):
        prev = f"c{t-1}"
        ctes.append(f"""d{t} AS (
            SELECT e.vec_id, c.cid, round(sum((e.x - c.val) * (e.x - c.val)), 6) AS dist
            FROM ev e JOIN {prev} c ON c.pos = e.pos
            GROUP BY e.vec_id, c.cid)""")
        ctes.append(f"""a{t} AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                FROM d{t}) WHERE rn = 1)""")
        if t <= iters:
            ctes.append(f"""c{t} AS (
                SELECT a.cid, e.pos, round(avg(e.x), 6) AS val
                FROM a{t} a JOIN ev e ON e.vec_id = a.vec_id
                GROUP BY a.cid, e.pos)""")
    ctes.append(f"clusters AS (SELECT vec_id, cid FROM a{iters + 1})")
    return ",\n    ".join(ctes)


@register("embed_ivf_kmeans_topk", f"""
    WITH {_kmeans_ctes(k=4, iters=3)},
    probe AS (SELECT pos, x AS pv FROM ev WHERE vec_id = 0),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM probe),
    dim AS (
        SELECT cl.cid, e.pos, avg(e.x) AS m
        FROM clusters cl JOIN ev e ON e.vec_id = cl.vec_id
        GROUP BY cl.cid, e.pos),
    cs AS (
        SELECT d.cid, sum(d.m * p.pv) / (sqrt(sum(d.m * d.m)) * any_value(pn.n)) AS c
        FROM dim d JOIN probe p ON p.pos = d.pos, pn GROUP BY d.cid),
    best AS (SELECT cid FROM cs ORDER BY c DESC, cid LIMIT 2),
    m AS (
        SELECT e.vec_id,
               sum(e.x * p.pv) AS dot,
               sqrt(sum(e.x * e.x)) AS vn
        FROM ev e
        JOIN clusters cl ON cl.vec_id = e.vec_id AND cl.cid IN (SELECT cid FROM best)
        JOIN probe p ON p.pos = e.pos
        WHERE e.vec_id <> 0
        GROUP BY e.vec_id)
    SELECT vec_id, round(dot / (vn * (SELECT n FROM pn)), 4) AS cosine FROM m
    ORDER BY dot / (vn * (SELECT n FROM pn)) DESC, vec_id LIMIT 10
""")
def q_embed_ivf_kmeans_topk(spark, sf_dir):
    """IVF with a REAL coarse quantizer: deterministic Lloyd k-means
    (k=4, 3 iterations, seeded by the first k vectors) assigns clusters,
    then the standard IVF prune scans only the best-2 clusters by
    centroid cosine. Oracle unrolls the identical iterations in SQL."""
    from nexusbase_spark.pipeline.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    labeled = kmeans_assign(emb, k=4, iters=3)
    out = ivf_topk(labeled, _probe_vec(spark, sf_dir), k=10, nprobe=2,
                   part_col="cluster", exclude_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


# ---------------------------------------------------------------------------
# dataset splitting / sampling / mix (pipeline/split.py)

def _bucket_sql(key: str, salt: str) -> str:
    """DuckDB mirror of pipeline.split.split_bucket."""
    return ("CAST(('0x' || substring(md5('" + salt + ":' || CAST(" + key +
            " AS VARCHAR)), 1, 15)) AS BIGINT) % 10000")


@register("docs_train_split", f"""
    WITH b AS (
        SELECT lang, n_chars, {_bucket_sql('doc_id', 'split-v1')} AS bk
        FROM documents)
    SELECT CASE WHEN bk < 8000 THEN 'train'
                WHEN bk < 9000 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY split, lang
""")
def q_docs_train_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment from a salted md5
    bucket of doc_id — no RNG state, stable under appends/repartitions.
    Rolled up by (split, lang) so the oracle hash checks every row's
    assignment through the counts."""
    from nexusbase_spark.pipeline.split import assign_split

    docs = load_table(spark, sf_dir, "documents")
    out = assign_split(docs, "doc_id",
                       {"train": 0.8, "val": 0.1, "test": 0.1})
    return (out.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")))


@register("docs_stratified_sample", f"""
    WITH r(lang, rate) AS (VALUES
        ('en', 0.1), ('de', 0.5), ('zh', 0.2), ('fr', 1.0), ('es', 0.05))
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN r ON r.lang = d.lang
    WHERE {_bucket_sql('d.doc_id', 'sample-v1')}
          < CAST(round(r.rate * 10000) AS BIGINT)
""")
def q_docs_stratified_sample(spark, sf_dir):
    """Per-language deterministic downsampling (the language-rebalance
    step of corpus curation): each stratum keeps its own fraction via the
    salted-bucket filter; the rate card broadcast-joins in. Row-level
    output so the oracle verifies the exact surviving set."""
    from nexusbase_spark.pipeline.split import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "doc_id", "lang",
        {"en": 0.1, "de": 0.5, "zh": 0.2, "fr": 1.0, "es": 0.05})
    return out.select("doc_id", "lang", "source")


@register("docs_epoch_shuffle", """
    WITH h AS (SELECT doc_id,
                      md5('shuffle-v1:1:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents),
    s AS (SELECT doc_id, hx,
                 CAST(('0x' || substring(hx, 1, 15)) AS BIGINT) % 8 AS shard
          FROM h)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
                AS BIGINT) AS pos
    FROM s
""")
def q_docs_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch-1 shuffle into 8 training shards: shard =
    salted-hash bucket (one hash exchange, uniform shard sizes), pos =
    rank within shard by the hash — a reproducible per-epoch permutation
    with NO global sort anywhere (each shard orders locally; (shard,pos)
    IS the epoch order a shard writer streams out). See
    pipeline/split.epoch_shuffle."""
    from nexusbase_spark.pipeline.split import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return (epoch_shuffle(docs, "doc_id", epoch=1, num_shards=8)
            .select("doc_id", "shard", F.col("pos").cast("long").alias("pos")))


@register("docs_corpus_mix", """
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_weight
        FROM documents GROUP BY source),
    tot AS (SELECT sum(n_docs) AS nd, sum(total_weight) AS tw FROM per)
    SELECT per.source, per.n_docs, per.total_weight,
           round(100 * CAST(per.n_docs AS DOUBLE) / nd, 4) AS pct_docs,
           round(100 * CAST(per.total_weight AS DOUBLE) / tw, 4) AS pct_weight
    FROM per, tot
""")
def q_docs_corpus_mix(spark, sf_dir):
    """Corpus composition report by source (the mix table a data-curation
    run starts and ends with): counts, char mass, and shares of the whole.
    Totals are a broadcast cross join of the 1-row global aggregate —
    ReuseExchange makes the per-group shuffle feed both branches, so the
    raw table is scanned once and no single-partition window appears."""
    from nexusbase_spark.pipeline.split import corpus_mix

    docs = load_table(spark, sf_dir, "documents")
    return corpus_mix(docs, "source", weight_col="n_chars")


@register("embed_lsh_topk", """
    WITH ev AS (
        SELECT vec_id, r.i AS pos, CAST(embedding[r.i] AS DOUBLE) AS x
        FROM embeddings, range(1, 65) r(i)),
    pr AS (SELECT pos, x AS pv FROM ev WHERE vec_id = 0),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM pr),
    planes AS (
        SELECT pl.p, r.i AS pos,
               CASE WHEN CAST(('0x' || substring(md5(pl.p || ',' || r.i), 1, 15))
                         AS BIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS w
        FROM range(0, 8) pl(p), range(1, 65) r(i)),
    bits AS (
        SELECT e.vec_id, pl.p,
               CASE WHEN round(sum(e.x * pl.w), 6) >= 0 THEN 1 ELSE 0 END AS b
        FROM ev e JOIN planes pl ON pl.pos = e.pos
        GROUP BY e.vec_id, pl.p),
    bk AS (SELECT vec_id, CAST(sum(b * (1 << p)) AS BIGINT) AS bucket
           FROM bits GROUP BY vec_id),
    pb AS (SELECT bucket AS v FROM bk WHERE vec_id = 0),
    cand AS (SELECT bk.vec_id FROM bk, pb
             WHERE bit_count(xor(bk.bucket, pb.v)) <= 1 AND bk.vec_id <> 0),
    m AS (
        SELECT e.vec_id, sum(e.x * pr.pv) AS dot, sqrt(sum(e.x * e.x)) AS vn
        FROM ev e JOIN pr ON pr.pos = e.pos
        WHERE e.vec_id IN (SELECT vec_id FROM cand)
        GROUP BY e.vec_id)
    SELECT vec_id, round(dot / (vn * (SELECT n FROM pn)), 4) AS cosine FROM m
    ORDER BY dot / (vn * (SELECT n FROM pn)) DESC, vec_id LIMIT 10
""")
def q_embed_lsh_topk(spark, sf_dir):
    """Cosine-LSH ANN: md5-derived ±1 hyperplanes give every vector an
    8-bit sign signature; candidates within hamming distance 1 of the
    probe's signature (multi-probe) are exactly rescored. The oracle
    regenerates the identical planes and buckets in SQL."""
    from nexusbase_spark.pipeline.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(emb, _probe_vec(spark, sf_dir), k=10, nbits=8, hamming=1,
                   exclude_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


@register("embed_lsh_multitable_topk", """
    WITH ev AS (
        SELECT vec_id, r.i AS pos, CAST(embedding[r.i] AS DOUBLE) AS x
        FROM embeddings, range(1, 65) r(i)),
    pr AS (SELECT pos, x AS pv FROM ev WHERE vec_id = 0),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM pr),
    planes AS (
        SELECT t.t, pl.p, r.i AS pos,
               CASE WHEN CAST(('0x' || substring(md5(
                         CASE WHEN t.t = 0 THEN pl.p || ',' || r.i
                              ELSE 't' || t.t || ':' || pl.p || ',' || r.i
                         END), 1, 15)) AS BIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS w
        FROM range(0, 2) t(t), range(0, 8) pl(p), range(1, 65) r(i)),
    bits AS (
        SELECT e.vec_id, pl.t, pl.p,
               CASE WHEN round(sum(e.x * pl.w), 6) >= 0 THEN 1 ELSE 0 END AS b
        FROM ev e JOIN planes pl ON pl.pos = e.pos
        GROUP BY e.vec_id, pl.t, pl.p),
    bk AS (SELECT vec_id, t, CAST(sum(b * (1 << p)) AS BIGINT) AS bucket
           FROM bits GROUP BY vec_id, t),
    pb AS (SELECT t, bucket AS v FROM bk WHERE vec_id = 0),
    cand AS (SELECT DISTINCT bk.vec_id
             FROM bk JOIN pb ON pb.t = bk.t
             WHERE bit_count(xor(bk.bucket, pb.v)) <= 1 AND bk.vec_id <> 0),
    m AS (
        SELECT e.vec_id, sum(e.x * pr.pv) AS dot, sqrt(sum(e.x * e.x)) AS vn
        FROM ev e JOIN pr ON pr.pos = e.pos
        WHERE e.vec_id IN (SELECT vec_id FROM cand)
        GROUP BY e.vec_id)
    SELECT vec_id, round(dot / (vn * (SELECT n FROM pn)), 4) AS cosine FROM m
    ORDER BY dot / (vn * (SELECT n FROM pn)) DESC, vec_id LIMIT 10
""")
def q_embed_lsh_multitable_topk(spark, sf_dir):
    """Multi-TABLE cosine LSH (new round 3): candidates are the union of
    hamming<=1 bucket matches across L=2 independent md5-seeded plane
    sets, exactly rescored. Recall improves geometrically in L (a true
    neighbor must be missed by EVERY table) while scan cost grows
    linearly — measured in SCALE.md "Round-3 ANN recall probe" (0.18 ->
    0.99 recall@10 at L=4 on tight clusters). The oracle regenerates
    both plane sets and the candidate union in SQL."""
    from nexusbase_spark.pipeline.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(emb, _probe_vec(spark, sf_dir), k=10, nbits=8, hamming=1,
                   n_tables=2, exclude_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


@register("text_token_distribution", """
    WITH n AS (
        SELECT source, len(string_split(text, ' ')) AS n_tok
        FROM documents)
    SELECT source, count(*) AS n_docs,
           round(avg(n_tok), 4) AS avg_tokens,
           round(quantile_cont(n_tok, 0.5), 4) AS p50_tokens,
           round(quantile_cont(n_tok, 0.9), 4) AS p90_tokens,
           round(quantile_cont(n_tok, 0.99), 4) AS p99_tokens
    FROM n GROUP BY source
""")
def q_text_token_distribution(spark, sf_dir):
    """Per-source token-length distribution (the length-profile report a
    curation run uses to set truncation budgets): exact interpolated
    percentiles here for the oracle; at corpus scale the same query swaps
    `percentile` for `percentile_approx` (t-digest-style sketch, map-side
    mergeable) with no other change — mirroring the p95 downsample's
    exact/approx pairing."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select("source", F.size(F.split(F.col("text"), " ")).alias("n_tok"))
    return (n.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tok, 0.9)"), 4).alias("p90_tokens"),
        F.round(F.expr("percentile(n_tok, 0.99)"), 4).alias("p99_tokens")))


@register("docs_pack_assignments", f"""
    WITH b AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
               ({_bucket_sql('doc_id', 'pack-v1')}) % 8 AS shard
        FROM documents),
    c AS (
        SELECT doc_id, n_tok, shard,
               coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum
        FROM b)
    SELECT doc_id, shard, CAST(floor(cum / 512) AS BIGINT) AS pack_id,
           CAST(cum % 512 AS BIGINT) AS pack_offset, n_tok
    FROM c
""")
def q_docs_pack_assignments(spark, sf_dir):
    """Sequence packing: each doc gets (shard, pack_id, offset) for a
    512-token pack budget — the batch-assembly step of a pretraining
    pipeline. Streaming-cut formulation: one running-sum window per
    salted shard; packs overflow by at most one boundary doc (the
    truncate/spill doc), never more."""
    from nexusbase_spark.pipeline.pack import pack_assignments

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id",
                       F.size(F.split(F.col("text"), " ")).alias("n_tok"))
    out = pack_assignments(toks, "doc_id", "n_tok", budget=512, shards=8)
    return out.select("doc_id", "shard", "pack_id", "pack_offset", "n_tok")


@register("docs_interleave_mix", """
    WITH w(lang, wt) AS (VALUES
        ('en', 2.0), ('de', 1.0), ('zh', 1.0), ('fr', 0.5), ('es', 0.25)),
    r AS (
        SELECT d.doc_id, d.lang, w.wt,
               row_number() OVER (PARTITION BY d.lang ORDER BY d.doc_id) AS rn
        FROM documents d JOIN w ON w.lang = d.lang)
    SELECT doc_id, lang, rn / wt AS mix_pos
    FROM r ORDER BY mix_pos, lang, doc_id LIMIT 120
""")
def q_docs_interleave_mix(spark, sf_dir):
    """Weighted dataset interleave: rank r of a weight-w language sits at
    virtual position r/w, so any prefix of the mix holds languages in
    proportion to their weights (en twice de's rate, es a quarter).
    Weights are powers of two, so r/w is exact in both engines. The
    first-120 prefix is a distributed top-n, not a global sort."""
    from nexusbase_spark.pipeline.pack import interleave_by_weight

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return interleave_by_weight(
        docs, "doc_id", "lang",
        {"en": 2.0, "de": 1.0, "zh": 1.0, "fr": 0.5, "es": 0.25}, n=120)


@register("docs_decontaminate", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 2, 1)),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
                   AS s
        FROM t),
    h AS (SELECT doc_id,
                 CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS h
          FROM sh),
    ev AS (SELECT doc_id AS eid, h FROM h WHERE doc_id % 50 = 0),
    j AS (SELECT c.doc_id, c.h, ev.eid
          FROM h c JOIN ev ON ev.h = c.h WHERE c.doc_id <> ev.eid)
    SELECT doc_id, count(DISTINCT h) AS n_shared,
           count(DISTINCT eid) AS n_eval_docs
    FROM j GROUP BY doc_id
""")
def q_docs_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing any word
    4-gram with the eval set (docs with id % 50 == 0 stand in for a
    benchmark). The eval side's hashed shingles broadcast, so the check
    is one corpus scan with no pre-rollup shuffle."""
    from nexusbase_spark.pipeline.dedup import contamination_hits

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_hits(docs, ev, n=4)


# Bloom decontamination constants: m = 2^21 bits (<= 33,289 int64 words at
# 63 bits/word — broadcastable), k = 4 affine probes of the shared
# md5+affine family. The affine coefficients are injected into the oracle
# from the same minhash_params the Spark operator uses.
_BLOOM_M = 2_097_152
_BLOOM_K = 4


def _bloom_pos_sql(k: int, m: int) -> str:
    from nexusbase_spark.pipeline.dedup import minhash_params
    return ", ".join(
        f"(h31 * {a} + {b}) % 2147483647 % {m}"
        for a, b in minhash_params(k))


@register("docs_bloom_contamination", f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 2, 1)),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                           || t[i+3])) AS s
        FROM t),
    h AS (SELECT doc_id,
                 CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS h60,
                 CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)
                     % 2147483647 AS h31
          FROM sh),
    ev AS (SELECT * FROM h WHERE doc_id % 50 = 0),
    pr AS (SELECT * FROM h WHERE doc_id % 50 <> 0),
    words AS MATERIALIZED (
        SELECT pos // 63 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
        FROM (SELECT unnest([{_bloom_pos_sql(_BLOOM_K, _BLOOM_M)}]) AS pos
              FROM ev)
        GROUP BY 1),
    pp AS (SELECT doc_id, h60,
                  unnest([{_bloom_pos_sql(_BLOOM_K, _BLOOM_M)}]) AS pos
           FROM pr),
    ph AS (SELECT pp.doc_id, pp.h60,
                  CASE WHEN w.bits IS NOT NULL
                            AND (w.bits & (CAST(1 AS BIGINT)
                                           << CAST(pp.pos % 63 AS INT))) <> 0
                       THEN 1 ELSE 0 END AS hit
           FROM pp LEFT JOIN words w ON w.word_idx = pp.pos // 63),
    m AS (SELECT doc_id, h60,
                 CASE WHEN sum(hit) = {_BLOOM_K} THEN 1 ELSE 0 END AS might
          FROM ph GROUP BY doc_id, h60),
    cand AS (SELECT count(DISTINCT doc_id) AS c FROM m WHERE might = 1),
    exact AS (SELECT count(DISTINCT pr.doc_id) AS e
              FROM pr JOIN (SELECT DISTINCT h60 FROM ev) e2
                ON e2.h60 = pr.h60),
    np AS (SELECT count(DISTINCT doc_id) AS n FROM pr)
    SELECT CAST(np.n AS BIGINT) AS n_probe,
           CAST(cand.c AS BIGINT) AS n_candidates,
           CAST(exact.e AS BIGINT) AS n_exact,
           CASE WHEN np.n - exact.e > 0
                THEN floor((cand.c - exact.e)
                           / CAST(np.n - exact.e AS DOUBLE) * 1e4 + 0.5)
                     / 1e4
                ELSE NULL END AS fp_rate
    FROM np, cand, exact
""")
def q_docs_bloom_contamination(spark, sf_dir):
    """Bloom-prefiltered benchmark decontamination — the 100TB shape of
    docs_decontaminate: instead of broadcasting the eval set's hashed
    shingles (benchmark-sized here, GBs for a real eval battery), fold
    them into a 2^21-bit Bloom filter (<= 33,289 int64 words) and give
    every corpus shingle a 4-probe membership verdict against the
    broadcast words. One-sided by construction: every truly-shared
    shingle hits all 4 bits, so candidates ⊇ exact contaminated docs —
    verified IN-ENGINE by computing both counts and the realized
    false-positive rate (the eval the pre-filter's m/k sizing is tuned
    by; exact verification then runs on candidates only). Registers are
    pure integers (md5 base hash + the shared minhash affine family, 63
    bits/word so no engine's checked shift overflows), the bit_or fold
    is order-free, and the only float is the final fp_rate division,
    4dp-quantized. Scale shape: filter build is a wordcount-shaped
    rollup over eval shingles; the corpus pays k broadcast lookups per
    shingle and one per-doc any-hit rollup — no shuffle of the eval set,
    no corpus self-join."""
    from nexusbase_spark.operators.sketches import (bloom_build,
                                                    bloom_might_contain)
    from nexusbase_spark.pipeline.dedup import shingle_sets

    def h60(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = (shingle_sets(docs, "doc_id", "text", n=4)
          .select("doc_id", "shingle", h60(F.col("shingle")).alias("h60"))
          .localCheckpoint(eager=True))  # eval+probe+exact reuse
    ev = sh.filter(F.col("doc_id") % 50 == 0)
    pr = sh.filter(F.col("doc_id") % 50 != 0)
    bloom = bloom_build(ev, "shingle", m_bits=_BLOOM_M, k=_BLOOM_K)
    might = bloom_might_contain(bloom, pr.select("doc_id", "shingle"),
                                "shingle", m_bits=_BLOOM_M, k=_BLOOM_K)
    cand = (might.filter(F.col("might"))
            .agg(F.countDistinct("doc_id").alias("c")))
    # lint: k-row (eval-set distinct shingle hashes — benchmark-sized)
    exact = (pr.join(F.broadcast(ev.select("h60").distinct()), "h60")
             .agg(F.countDistinct("doc_id").alias("e")))
    np_ = pr.agg(F.countDistinct("doc_id").alias("n"))
    one = (np_.crossJoin(cand).crossJoin(exact)
           .localCheckpoint(eager=True))  # k-row epilogue, scan-once
    fp = F.when(F.col("n") - F.col("e") > 0,
                F.floor((F.col("c") - F.col("e"))
                        / (F.col("n") - F.col("e")).cast("double")
                        * 1e4 + F.lit(0.5)) / 1e4)
    return one.select(F.col("n").cast("long").alias("n_probe"),
                      F.col("c").cast("long").alias("n_candidates"),
                      F.col("e").cast("long").alias("n_exact"),
                      fp.alias("fp_rate"))


@register("docs_bloom_shard_merge", f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 2, 1)),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                           || t[i+3])) AS s
        FROM t),
    h AS (SELECT doc_id,
                 CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS h60,
                 CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)
                     % 2147483647 AS h31
          FROM sh),
    ev AS (SELECT *, CASE WHEN doc_id % 100 = 0 THEN 0 ELSE 1 END AS shard
           FROM h WHERE doc_id % 50 = 0),
    pr AS (SELECT * FROM h WHERE doc_id % 50 <> 0),
    shard_words AS MATERIALIZED (
        SELECT shard, pos // 63 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
        FROM (SELECT shard,
                     unnest([{_bloom_pos_sql(_BLOOM_K, _BLOOM_M)}]) AS pos
              FROM ev)
        GROUP BY 1, 2),
    words AS MATERIALIZED (
        SELECT word_idx, bit_or(bits) AS bits
        FROM shard_words GROUP BY 1),
    pp AS (SELECT doc_id, h60,
                  unnest([{_bloom_pos_sql(_BLOOM_K, _BLOOM_M)}]) AS pos
           FROM pr),
    ph AS (SELECT pp.doc_id, pp.h60,
                  CASE WHEN w.bits IS NOT NULL
                            AND (w.bits & (CAST(1 AS BIGINT)
                                           << CAST(pp.pos % 63 AS INT))) <> 0
                       THEN 1 ELSE 0 END AS hit
           FROM pp LEFT JOIN words w ON w.word_idx = pp.pos // 63),
    m AS (SELECT doc_id, h60,
                 CASE WHEN sum(hit) = {_BLOOM_K} THEN 1 ELSE 0 END AS might
          FROM ph GROUP BY doc_id, h60),
    cand AS (SELECT count(DISTINCT doc_id) AS c FROM m WHERE might = 1),
    exact AS (SELECT count(DISTINCT pr.doc_id) AS e
              FROM pr JOIN (SELECT DISTINCT h60 FROM ev) e2
                ON e2.h60 = pr.h60),
    fingerprint AS (SELECT count(*) AS n_words,
                           sum(bit_count(bits)) AS bits_set
                    FROM words),
    nsh AS (SELECT count(DISTINCT shard) AS n_shards FROM ev)
    SELECT CAST(nsh.n_shards AS BIGINT) AS n_shards,
           CAST(fingerprint.n_words AS BIGINT) AS n_words,
           CAST(fingerprint.bits_set AS BIGINT) AS bits_set,
           CAST(cand.c AS BIGINT) AS n_candidates,
           CAST(exact.e AS BIGINT) AS n_exact
    FROM nsh, fingerprint, cand, exact
""")
def q_docs_bloom_shard_merge(spark, sf_dir):
    """Bloom filter MERGE behind the hash gate — the shard-parallel
    build the 100TB decontamination path relies on: the eval set is
    split into two shards (doc_id % 100), each folded into its OWN
    2^21-bit filter with bloom_build, then bloom_merge (word-wise
    bit_or) produces the filter the corpus is probed against. The gated
    output pins the merged filter bit-for-bit (n_words + total
    bit_count — a wrong merge op like SUM instead of OR changes
    bits_set immediately) alongside the decontamination verdict counts
    computed FROM the merged filter, whose one-sided guarantee
    (candidates >= exact) must survive merging. n_shards is
    data-derived in both engines. Scale shape: per-shard build is a
    wordcount rollup; the merge shuffles <= 2*ceil(m/63) int64 words;
    the probe side is unchanged from docs_bloom_contamination."""
    from nexusbase_spark.operators.sketches import (bloom_build,
                                                    bloom_merge,
                                                    bloom_might_contain)
    from nexusbase_spark.pipeline.dedup import shingle_sets

    def h60(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = (shingle_sets(docs, "doc_id", "text", n=4)
          .select("doc_id", "shingle", h60(F.col("shingle")).alias("h60"))
          .localCheckpoint(eager=True))  # shards + probe + exact reuse
    ev = sh.filter(F.col("doc_id") % 50 == 0)
    pr = sh.filter(F.col("doc_id") % 50 != 0)
    shard_a = ev.filter(F.col("doc_id") % 100 == 0)
    shard_b = ev.filter(F.col("doc_id") % 100 != 0)
    bloom = bloom_merge(
        bloom_build(shard_a, "shingle", m_bits=_BLOOM_M, k=_BLOOM_K),
        bloom_build(shard_b, "shingle", m_bits=_BLOOM_M, k=_BLOOM_K))
    bloom = bloom.localCheckpoint(eager=True)  # probe + fingerprint reuse
    might = bloom_might_contain(bloom, pr.select("doc_id", "shingle"),
                                "shingle", m_bits=_BLOOM_M, k=_BLOOM_K)
    cand = (might.filter(F.col("might"))
            .agg(F.countDistinct("doc_id").alias("n_candidates")))
    # lint: k-row (eval-set distinct shingle hashes — benchmark-sized)
    exact = (pr.join(F.broadcast(ev.select("h60").distinct()), "h60")
             .agg(F.countDistinct("doc_id").alias("n_exact")))
    fingerprint = bloom.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.bit_count("bits")).alias("bits_set"))
    nsh = (ev.select((F.col("doc_id") % 100 == 0).alias("s")).distinct()
           .agg(F.count(F.lit(1)).alias("n_shards")))
    one = (nsh.crossJoin(fingerprint).crossJoin(cand).crossJoin(exact)
           .localCheckpoint(eager=True))  # k-row epilogue, scan-once
    return one.select(F.col("n_shards").cast("long").alias("n_shards"),
                      F.col("n_words").cast("long").alias("n_words"),
                      F.col("bits_set").cast("long").alias("bits_set"),
                      F.col("n_candidates").cast("long")
                      .alias("n_candidates"),
                      F.col("n_exact").cast("long").alias("n_exact"))


@register("docs_boilerplate_ngrams", """
    WITH t AS (SELECT doc_id, source,
                      string_split(trim(lower(text)), ' ') AS t
               FROM documents),
    g AS (SELECT DISTINCT doc_id, source,
                 unnest(list_transform(range(1, greatest(len(t) - 2, 1)),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
                     AS s
          FROM t),
    df AS (SELECT source, s, count(DISTINCT doc_id) AS doc_freq
           FROM g GROUP BY source, s HAVING count(DISTINCT doc_id) >= 2),
    r AS (SELECT source, s, doc_freq,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY doc_freq DESC, s) AS rk
          FROM df)
    SELECT source, s AS ngram, doc_freq FROM r WHERE rk <= 5
""")
def q_docs_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate mining: per source, the word 4-grams shared by the
    most DISTINCT documents (headers/footers/cookie banners in a crawl
    corpus) — the discovery pass that feeds chunk-granular boilerplate
    stripping (docs_chunk_dedup). Per-doc distinct grams keep a spammy
    single doc from inflating its own phrase; the per-source top-5 is a
    rank window over the (source, gram) rollup — the gram explosion
    collapses map-side before its shuffle."""
    from pyspark.sql import Window

    from nexusbase_spark.pipeline.text import shingles_of_tokens, tokens_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    # tokenize in its own projection (the 4-gram shingle slices reference
    # the token array 5x; inlined each re-derived the split — r9)
    g = docs.select(
        "doc_id", "source",
        tokens_col(F.col("text")).alias("__toks")
    ).select(
        "doc_id", "source",
        F.explode(F.array_distinct(
            shingles_of_tokens(F.col("__toks"), 4))).alias("s"))
    freq = (g.groupBy("source", "s")
            .agg(F.countDistinct("doc_id").alias("doc_freq"))
            .filter(F.col("doc_freq") >= 2))
    w = Window.partitionBy("source").orderBy(F.col("doc_freq").desc(),
                                             F.col("s"))
    return (freq.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("source", F.col("s").alias("ngram"), "doc_freq"))


@register("docs_vocab_top50", """
    WITH tok AS (
        SELECT unnest(string_split(trim(lower(text)), ' ')) AS token
        FROM documents)
    SELECT token, count(*) AS freq
    FROM tok WHERE token <> ''
    GROUP BY token ORDER BY freq DESC, token LIMIT 50
""")
def q_docs_vocab_top50(spark, sf_dir):
    """Vocabulary heavy hitters: corpus-wide token frequencies, top-50.
    The wordcount shape at scale — explode is narrow, the groupBy
    partial-aggregates map-side (a few thousand distinct tokens shrink
    the shuffle to nearly nothing even on a 100TB corpus), and the
    top-50 is TakeOrderedAndProject, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(
        F.split(F.trim(F.lower(F.col("text"))), " ")).alias("token"))
    return (tok.filter(F.col("token") != "")
            .groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("token")).limit(50))


@register("docs_tfidf_top3", """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS token
        FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf
           FROM tok WHERE token <> '' GROUP BY doc_id, token),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
        SELECT tf.doc_id, tf.token,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON df.token = tf.token, n),
    ranked AS (
        SELECT doc_id, token, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, token) AS rnk
        FROM scored)
    SELECT doc_id, token, tfidf, rnk FROM ranked
    WHERE rnk <= 3 AND doc_id % 10 = 0
""")
def q_docs_tfidf_top3(spark, sf_dir):
    """TF-IDF keyword extraction: term frequency per (doc, token), doc
    frequency per token, idf = ln(N/df), top-3 terms per doc (sampled to
    every 10th doc for the oracle). Two map-side-combinable aggregations
    plus one token-keyed join; the doc count is a 1-row broadcast. The
    score is rounded to 6 decimals BEFORE ranking so float ulps in
    tf * ln(N/df) cannot flip the rank order between engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(
        F.split(F.trim(F.lower(F.col("text"))), " ")).alias("token"))
    tf = (tok.filter(F.col("token") != "")
          .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (tf.join(df_, "token").crossJoin(F.broadcast(n))
              .select("doc_id", "token",
                      F.round(F.col("tf") * F.log(F.col("n_docs").cast("double")
                                                  / F.col("df")), 6).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter((F.col("rnk") <= 3) & (F.col("doc_id") % 10 == 0))
            .select("doc_id", "token", "tfidf", "rnk"))


@register("docs_chunk_sliding", """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         g AS (SELECT doc_id, toks, n,
                      CAST(unnest(range(0, n, 48)) AS BIGINT) AS start_tok
               FROM s)
    SELECT doc_id, CAST(start_tok // 48 AS BIGINT) AS chunk_idx, start_tok,
           CAST(least(64, n - start_tok) AS BIGINT) AS n_tok,
           md5(array_to_string(toks[start_tok + 1 : start_tok + 64], ' '))
               AS chunk_hash
    FROM g
""")
def q_docs_chunk_sliding(spark, sf_dir):
    """Sliding-window document chunking (64-token windows, stride 48):
    the long-doc -> training-window expansion step of an LLM data
    pipeline. Fully narrow (sequence + posexplode inside one projection
    — zero shuffles); the window hash is the downstream dedup handle."""
    from nexusbase_spark.pipeline.pack import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text",
                           chunk_tokens=64, stride=48)


_QF_RULES_SQL = """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
               FROM documents),
    feat AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(length(text) AS DOUBLE) AS digit_ratio,
             len(list_filter(toks, x -> list_contains([{stops}], x)))
                 / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
             list_transform(range(1, greatest(len(toks), 1)),
                            i -> toks[i] || ' ' || toks[i+1]) AS grams
      FROM t),
    flags AS (
      SELECT doc_id,
             n_tokens < 15 AS too_short,
             n_tokens > 80 AS too_long,
             digit_ratio > 0.10 AS high_digit,
             (CASE WHEN len(grams) = 0 THEN 0.0
                   ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                              / len(grams) END) > 0.20 AS high_repetition,
             stopword_ratio < 0.05 AS low_stopword
      FROM feat)
    SELECT doc_id, too_short, too_long, high_digit, high_repetition,
           low_stopword,
           NOT (too_short OR too_long OR high_digit OR high_repetition
                OR low_stopword) AS keep,
           CASE WHEN too_short THEN 'too_short'
                WHEN too_long THEN 'too_long'
                WHEN high_digit THEN 'high_digit'
                WHEN high_repetition THEN 'high_repetition'
                WHEN low_stopword THEN 'low_stopword'
                ELSE NULL END AS reason
    FROM flags
"""


@register("docs_quality_filter_report",
          _QF_RULES_SQL.format(stops=", ".join(repr(w) for w in _STOP_ALL)))
def q_docs_quality_filter(spark, sf_dir):
    """Gopher-style drop/keep report: five boolean rules, a keep verdict,
    and the first-failing reason per doc — the audit artifact a curation
    run persists next to the filtered corpus. Thresholds compare ratios
    of integer lengths, so both engines agree exactly (no rounding in
    the decision path)."""
    from nexusbase_spark.pipeline.text import (QUALITY_RULE_ORDER,
                                               quality_filter_exprs,
                                               tokens_col)

    docs = load_table(spark, sf_dir, "documents")
    # tokenize once below the report projection (was 48 split() copies —
    # each flag + keep + reason re-derived the token array, r9)
    base = docs.select("doc_id", "text",
                       tokens_col(F.col("text")).alias("__toks"))
    fx = quality_filter_exprs(F.col("text"), toks=F.col("__toks"))
    return base.select(
        "doc_id", *[fx[n].alias(n) for n in QUALITY_RULE_ORDER],
        fx["keep"].alias("keep"), fx["reason"].alias("reason"))


@register("docs_length_histogram", """
    SELECT least(CAST(n_chars // 50 AS BIGINT), 12) AS bucket,
           count(*) AS n_docs,
           round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM documents GROUP BY bucket
""")
def q_docs_length_histogram(spark, sf_dir):
    """Fixed-width length histogram (50-char buckets, top-clamped): the
    scale-correct distribution report — a scan plus a ~13-group rollup,
    unlike ntile/global-sort decile assignment which funnels the corpus
    through one partition. Quantile-style reports at 100TB should use
    broadcast approx-percentile boundaries + width_bucket, which this
    shape stands in for."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy(
        F.least(F.floor(F.col("n_chars") / 50), F.lit(12)).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars")))


@register("docs_length_deciles", """
    WITH b AS (
        SELECT quantile_cont(CAST(n_chars AS DOUBLE),
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        FROM documents),
    assigned AS (
        SELECT CAST(len(list_filter(b.bs, x -> x < d.n_chars)) AS BIGINT)
                   AS decile,
               d.n_chars
        FROM documents d, b)
    SELECT decile, count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM assigned GROUP BY decile
""")
def q_docs_length_deciles(spark, sf_dir):
    """Equi-depth decile report via percentile BOUNDARIES, not ntile: a
    global ntile needs a total sort through one partition, which is the
    anti-pattern at corpus scale. Here the nine cut points are one
    aggregate (exact `percentile` to match the oracle; swap in
    `percentile_approx` at 100TB), broadcast back over the scan, and each
    doc's decile is just how many cuts sit strictly below it — two scans,
    no global sort, and the bucket rule is pure comparisons so both
    engines agree exactly."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("double").alias("n_chars"))
    bounds = docs.agg(F.percentile(
        F.col("n_chars"),
        F.array(*[F.lit(i / 10) for i in range(1, 10)])).alias("bs"))
    assigned = docs.crossJoin(F.broadcast(bounds)).select(
        F.size(F.filter("bs", lambda x: x < F.col("n_chars")))
        .cast("long").alias("decile"),
        "n_chars")
    return (assigned.groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min(F.col("n_chars").cast("long")).alias("min_chars"),
                 F.max(F.col("n_chars").cast("long")).alias("max_chars")))


@register("embed_label_centroids", """
    SELECT label, pos,
           round(sum(floor(e * 1000000 + 0.5)) / (count(e) * 1000000.0), 4)
               + 0.0 AS centroid
    FROM (
        SELECT label,
               CAST(unnest(embedding) AS DOUBLE) AS e,
               unnest(range(len(embedding))) AS pos
        FROM embeddings)
    GROUP BY label, pos
""")
def q_embed_label_centroids(spark, sf_dir):
    """Per-label centroid of the embedding column — the cluster-summary
    primitive behind IVF training, dedup-cluster representatives, and
    class prototypes. posexplode + groupBy(label, pos) is the
    scale-correct distributed mean over array columns: partial aggregation
    combines map-side after the explode, so the shuffle carries one
    (label, pos, sum, count) row per group, never raw vectors; the
    alternative (collect vectors per label, average driver-side) does not
    distribute. The oracle zips DuckDB's parallel unnests the same way.

    The mean is computed over 1e-6-quantized elements (floor(e*1e6+0.5) —
    identical IEEE ops in both engines): a float mean's last ulp depends
    on partial-aggregation ORDER, and a group whose mean sits at a .00005
    rounding boundary flipped the value hash nondeterministically
    (observed once at sf0.001). Integer sums are order-exact, so both
    engines now land on the same side of every boundary, always; the
    quantization bias (≤5e-7) is far inside the 4-dp output grid.
    `+ 0.0` on both sides normalizes IEEE negative zero: DuckDB's round
    keeps the sign of a tiny negative mean (repr '-0.0'), Spark's drops
    it, and the driver hashes cell reprs (observed: one -0.0 cell at
    sf0.001)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qe = F.floor(F.col("e").cast("double") * 1_000_000 + F.lit(0.5))
    return (emb.select("label", F.posexplode("embedding").alias("pos", "e"))
            .groupBy("label", F.col("pos").cast("long").alias("pos"))
            .agg((F.round(F.sum(qe) / (F.count("e") * 1_000_000.0), 4)
                  + F.lit(0.0)).alias("centroid"))
            .select("label", "pos", "centroid"))


@register("embed_knn_graph", """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id < 300
    ),
    pairs AS (
        SELECT a.vec_id AS id, b.vec_id AS nbr,
               floor(sum(a.v[r.i] * b.v[r.i])
                     / (sqrt(sum(a.v[r.i] * a.v[r.i]))
                        * sqrt(sum(b.v[r.i] * b.v[r.i]))) * 1e4 + 0.5) / 1e4
                   AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id,
             range(1, 65) r(i)
        GROUP BY a.vec_id, b.vec_id
    ),
    ranked AS (
        SELECT id, nbr, cosine,
               CAST(row_number() OVER (PARTITION BY id
                                       ORDER BY cosine DESC, nbr) AS BIGINT)
                   AS rank
        FROM pairs)
    SELECT id, nbr, cosine, rank FROM ranked WHERE rank <= 3
""")
def q_embed_knn_graph(spark, sf_dir):
    """Label-partitioned 3-NN graph over the first 300 vectors
    (pipeline/similarity.knn_graph): partition-local pairs (never corpus
    squared — route through kmeans_assign when no natural partition
    exists), per-source window rank over floor-quantized cosine, ties by
    neighbor id. The batch kNN-graph primitive behind semantic
    clustering and graph-based dedup."""
    from nexusbase_spark.pipeline.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return knn_graph(emb, k=3)


def _mmr_oracle(k: int = 5, n_short: int = 20, *,
                pre_ctes: str = "", cand_sql: str | None = None) -> str:
    """Unrolled greedy MMR (lambda=1/2, integer lattice): step CTEs pick
    argmax of rel_q - max(sim_q to selected); ties by id. Mirrors
    pipeline/search.mmr_select exactly. ``cand_sql`` (a full
    ``cand AS MATERIALIZED (...)`` CTE producing (id, rel, emb)) swaps
    in a different shortlist source — e.g. the IVFPQ serving path —
    with ``pre_ctes`` carrying its upstream CTEs; the greedy epilogue
    is shared verbatim."""
    # MATERIALIZED: cand/pairs are referenced by every greedy step —
    # inlined, DuckDB re-runs the corpus scan per reference (25s vs
    # 0.2s at sf0.1)
    default_cand = f"""cand AS MATERIALIZED (
        SELECT vec_id AS id,
               CAST(floor(sum(v.x * p.x)
                    / (sqrt(sum(v.x * v.x)) * sqrt(sum(p.x * p.x)))
                    * 1e4 + 0.5) AS BIGINT) AS rel, any_value(v.emb) AS emb
        FROM (SELECT vec_id, r.i AS pos, CAST(embedding[r.i] AS DOUBLE) AS x,
                     embedding AS emb
              FROM embeddings, range(1, 65) r(i) WHERE vec_id <> 0) v
        JOIN (SELECT r.i AS pos, CAST(embedding[r.i] AS DOUBLE) AS x
              FROM embeddings, range(1, 65) r(i) WHERE vec_id = 0) p
          ON p.pos = v.pos
        GROUP BY vec_id
        ORDER BY rel DESC, vec_id LIMIT {n_short})"""
    ctes = [cand_sql if cand_sql is not None else default_cand,
            """pairs AS MATERIALIZED (
        SELECT a.id AS ia, b.id AS ib,
               CAST(floor(sum(CAST(a.emb[r.i] AS DOUBLE) * CAST(b.emb[r.i] AS DOUBLE))
                    / (sqrt(sum(CAST(a.emb[r.i] AS DOUBLE) ** 2))
                       * sqrt(sum(CAST(b.emb[r.i] AS DOUBLE) ** 2)))
                    * 1e4 + 0.5) AS BIGINT) AS s
        FROM cand a JOIN cand b ON a.id <> b.id, range(1, 65) r(i)
        GROUP BY a.id, b.id)""",
            "s1 AS (SELECT id, rel AS score FROM cand"
            " ORDER BY rel DESC, id LIMIT 1)",
            "sel1 AS (SELECT id FROM s1)"]
    for t in range(2, k + 1):
        ctes.append(f"""s{t} AS (
        SELECT c.id,
               c.rel - (SELECT max(p.s) FROM pairs p WHERE p.ia = c.id
                        AND p.ib IN (SELECT id FROM sel{t-1})) AS score
        FROM cand c WHERE c.id NOT IN (SELECT id FROM sel{t-1})
        ORDER BY score DESC, c.id LIMIT 1)""")
        ctes.append(f"sel{t} AS (SELECT id FROM sel{t-1}"
                    f" UNION ALL SELECT id FROM s{t})")
    unions = "\n    UNION ALL ".join(
        f"SELECT id AS vec_id, CAST({t} AS BIGINT) AS sel_rank,"
        f" score / 1e4 AS mmr_score FROM s{t}" for t in range(1, k + 1))
    head = "WITH " + (pre_ctes + ",\n    " if pre_ctes else "")
    return head + ",\n    ".join(ctes) + "\n    " + unions


@register("embed_mmr_diversified", _mmr_oracle(k=5, n_short=20))
def q_embed_mmr_diversified(spark, sf_dir):
    """MMR-diversified retrieval (lambda=1/2): cosine top-20 shortlist
    for the probe, then 5 greedy picks maximizing relevance minus max
    similarity to anything picked — redundancy removal over near-
    duplicate retrieval hits. Pair sims computed in Spark; the greedy
    loop runs on integer-lattice scores (no float comparisons — see
    search.mmr_select), oracle = the same greedy unrolled per step."""
    from nexusbase_spark.pipeline.search import mmr_select
    from nexusbase_spark.pipeline.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    sl = (cosine_topk(emb, _probe_vec(spark, sf_dir), k=20,
                      exclude_id=0, quant=1e4)
          .join(emb.select("vec_id", "embedding"), "vec_id"))
    return mmr_select(sl, k=5, id_col="vec_id", rel_col="cosine",
                      vec_col="embedding")


@register("embed_hard_negatives", f"""
    WITH {_kmeans_ctes(k=4, iters=3, where="WHERE vec_id < 300")},
    lab AS (SELECT vec_id, label FROM embeddings WHERE vec_id < 300),
    soft AS (
        SELECT d.vec_id, d.cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d4) d
        WHERE d.rn <= 2),
    cand AS (
        SELECT DISTINCT a.vec_id AS id, la.label AS label,
               b.vec_id AS nbr, lb.label AS nbr_label
        FROM soft a JOIN soft b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN lab la ON la.vec_id = a.vec_id
        JOIN lab lb ON lb.vec_id = b.vec_id
        WHERE la.label <> lb.label),
    cosd AS (
        SELECT c.id, c.label, c.nbr, c.nbr_label,
               floor(sum(ea.x * eb.x)
                     / (sqrt(sum(ea.x * ea.x)) * sqrt(sum(eb.x * eb.x)))
                     * 1e4 + 0.5) / 1e4 AS cosine
        FROM cand c
        JOIN ev ea ON ea.vec_id = c.id
        JOIN ev eb ON eb.vec_id = c.nbr AND eb.pos = ea.pos
        GROUP BY c.id, c.label, c.nbr, c.nbr_label),
    ranked AS (
        SELECT id, label, nbr, nbr_label, cosine,
               CAST(row_number() OVER (PARTITION BY id
                                       ORDER BY cosine DESC, nbr) AS BIGINT)
                   AS rank
        FROM cosd)
    SELECT id, label, nbr, nbr_label, cosine, rank
    FROM ranked WHERE rank <= 1
""")
def q_embed_hard_negatives(spark, sf_dir):
    """Hard-negative mining (contrastive training pairs): each anchor's
    most-similar DIFFERENT-label vector, candidates generated by
    soft-assigning every vector to its 2 nearest k-means centroids (the
    IVF multi-probe idea applied to pair generation — boundary vectors
    co-bucket with the neighboring cluster, so cross-label candidates
    exist without corpus-squared pairs). First 300 vectors; see
    pipeline/similarity.hard_negatives."""
    from nexusbase_spark.pipeline.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return hard_negatives(emb, k=1, nlist=4, iters=3, nprobe=2)


@register("embed_pagerank_topk", """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id < 300
    ),
    pairs AS (
        SELECT a.vec_id AS id, b.vec_id AS nbr,
               floor(sum(a.v[r.i] * b.v[r.i])
                     / (sqrt(sum(a.v[r.i] * a.v[r.i]))
                        * sqrt(sum(b.v[r.i] * b.v[r.i]))) * 1e4 + 0.5) / 1e4
                   AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id,
             range(1, 65) r(i)
        GROUP BY a.vec_id, b.vec_id
    ),
    ranked AS (
        SELECT id, nbr, cosine,
               row_number() OVER (PARTITION BY id
                                  ORDER BY cosine DESC, nbr) AS rank
        FROM pairs),
    edges AS (SELECT id AS src, nbr AS dst FROM ranked WHERE rank <= 3),
    nodes AS (SELECT vec_id AS id FROM e),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src, CAST(6 // count(*) AS BIGINT) AS fac
            FROM edges GROUP BY src),
    pr0 AS (SELECT id, CAST(1 AS BIGINT) AS p FROM nodes),
    c1 AS (SELECT eg.dst AS id, sum(dg.fac * p.p) AS c
           FROM edges eg JOIN pr0 p ON p.id = eg.src
           JOIN deg dg ON dg.src = eg.src GROUP BY eg.dst),
    pr1 AS (SELECT nodes.id,
                   CAST(18 + 17 * coalesce(c1.c, 0) AS BIGINT) AS p
            FROM nodes LEFT JOIN c1 ON c1.id = nodes.id),
    c2 AS (SELECT eg.dst AS id, sum(dg.fac * p.p) AS c
           FROM edges eg JOIN pr1 p ON p.id = eg.src
           JOIN deg dg ON dg.src = eg.src GROUP BY eg.dst),
    pr2 AS (SELECT nodes.id,
                   CAST(2160 + 17 * coalesce(c2.c, 0) AS BIGINT) AS p
            FROM nodes LEFT JOIN c2 ON c2.id = nodes.id),
    c3 AS (SELECT eg.dst AS id, sum(dg.fac * p.p) AS c
           FROM edges eg JOIN pr2 p ON p.id = eg.src
           JOIN deg dg ON dg.src = eg.src GROUP BY eg.dst),
    pr3 AS (SELECT nodes.id,
                   CAST(259200 + 17 * coalesce(c3.c, 0) AS BIGINT) AS p
            FROM nodes LEFT JOIN c3 ON c3.id = nodes.id)
    SELECT id, CAST(p AS DOUBLE) / ((SELECT n FROM nn) * 1728000.0) AS pr
    FROM pr3
    ORDER BY CAST(p AS DOUBLE) / ((SELECT n FROM nn) * 1728000.0) DESC, id
    LIMIT 20
""")
def q_embed_pagerank_topk(spark, sf_dir):
    """PageRank centrality over the label-partitioned 3-NN graph (3
    synchronous rounds, d=17/20): which vectors anchor their semantic
    neighborhoods — the centrality prior a link/semantic-graph quality
    weighting uses. Iterative DataFrame loop with eager localCheckpoint
    per round (pipeline/graph.pagerank); oracle = the same three rounds
    unrolled as CTEs. The recurrence runs on an exact INTEGER lattice
    (P' = (b-a)L(bL)^t + a*sum((L/outdeg)P), only the final P/S division
    is float) — float quantization is unsafe here because PageRank's
    reachable values include exact rounding-boundary points (bit us at
    1e-9: 0.0078391195 straddled)."""
    from nexusbase_spark.pipeline.graph import pagerank
    from nexusbase_spark.pipeline.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    g = knn_graph(emb, k=3)
    edges = g.select(F.col("id").alias("src"), F.col("nbr").alias("dst"))
    nodes = emb.select(F.col("vec_id").alias("id"))
    pr = pagerank(edges, nodes, iters=3, damp_num=17, damp_den=20)
    return pr.orderBy(F.col("pr").desc(), F.col("id")).limit(20)


@register("embed_mutual_knn_clusters", """
    WITH RECURSIVE e AS (
        SELECT vec_id, label,
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id < 300
    ),
    pairs AS (
        SELECT a.vec_id AS id, b.vec_id AS nbr,
               floor(sum(a.v[r.i] * b.v[r.i])
                     / (sqrt(sum(a.v[r.i] * a.v[r.i]))
                        * sqrt(sum(b.v[r.i] * b.v[r.i]))) * 1e4 + 0.5) / 1e4
                   AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id,
             range(1, 65) r(i)
        GROUP BY a.vec_id, b.vec_id
    ),
    ranked AS (
        SELECT id, nbr, cosine,
               row_number() OVER (PARTITION BY id
                                  ORDER BY cosine DESC, nbr) AS rank
        FROM pairs),
    knn AS (SELECT id, nbr, cosine FROM ranked WHERE rank <= 3),
    mutual AS (
        SELECT a.id AS src, a.nbr AS dst FROM knn a
        JOIN knn b ON b.id = a.nbr AND b.nbr = a.id
        WHERE a.cosine >= 0.2
    ),
    edges AS (SELECT src, dst FROM mutual
              UNION SELECT dst AS src, src AS dst FROM mutual),
    reach(node, label) AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
        UNION
        SELECT edges.src, reach.label FROM edges
        JOIN reach ON reach.node = edges.dst
    )
    SELECT node AS vec_id, min(label) AS cluster_id
    FROM reach GROUP BY node
""")
def q_embed_mutual_knn_clusters(spark, sf_dir):
    """Semantic clustering by MUTUAL-kNN connected components: an edge
    exists only when two vectors appear in each other's 3-NN lists with
    cosine >= 0.2 (the strict clustering used for curation groupings —
    mutual-kNN prunes the hub links plain threshold graphs suffer),
    then min-label CC over those edges. Composition: knn_graph ->
    mutual filter (self-join on reversed pairs) -> dedup_clusters'
    iterative min-label propagation; the oracle runs the identical
    edge construction plus a transitive-closure recursive CTE."""
    from nexusbase_spark.pipeline.dedup import dedup_clusters
    from nexusbase_spark.pipeline.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    knn = knn_graph(emb, k=3)
    rev = knn.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
    mutual = (knn.join(rev, ["id", "nbr"], "left_semi")
              .filter(F.col("cosine") >= 0.2)
              .select(F.col("id").alias("id_a"), F.col("nbr").alias("id_b")))
    return (dedup_clusters(mutual)
            .select(F.col("doc_id").alias("vec_id"),
                    F.col("canonical_id").alias("cluster_id")))


@register("embed_knn_classify", """
    WITH pr AS (
        SELECT vec_id AS probe_id, r.i AS pos, CAST(embedding[r.i] AS DOUBLE) AS pv
        FROM embeddings, range(1, 65) r(i) WHERE vec_id < 5),
    pn AS (SELECT probe_id, sqrt(sum(pv * pv)) AS n FROM pr GROUP BY probe_id),
    m AS (
        SELECT pr.probe_id, v.vec_id, v.label,
               sum(CAST(v.embedding[pr.pos] AS DOUBLE) * pr.pv) AS dot,
               sqrt(sum(CAST(v.embedding[pr.pos] AS DOUBLE) ** 2)) AS vn
        FROM embeddings v, pr
        WHERE v.vec_id >= 5
        GROUP BY pr.probe_id, v.vec_id, v.label),
    s AS (
        SELECT m.probe_id, m.vec_id, m.label, m.dot / (m.vn * pn.n) AS cosine
        FROM m JOIN pn ON pn.probe_id = m.probe_id),
    r AS (
        SELECT probe_id, label,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM s),
    v AS (SELECT probe_id, label, count(*) AS votes
          FROM r WHERE rnk <= 10 GROUP BY probe_id, label),
    f AS (SELECT probe_id, label, votes,
                 row_number() OVER (PARTITION BY probe_id
                                    ORDER BY votes DESC, label) AS rr
          FROM v)
    SELECT probe_id, label AS pred_label, votes FROM f WHERE rr = 1
""")
def q_embed_knn_classify(spark, sf_dir):
    """k-NN majority-vote classification: probes vec_id<5 against the
    labeled rest, k=10 — the standard label-propagation / quality-tier
    assignment over an embedding column. Probes broadcast; top-k is
    two-phase (per-bucket then global) so no single reducer ever sorts a
    whole probe's corpus — see pipeline/similarity.knn_classify."""
    from nexusbase_spark.pipeline.similarity import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    probes = (emb.filter(F.col("vec_id") < 5)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("vec")))
    return knn_classify(emb.filter(F.col("vec_id") >= 5), probes, k=10)


@register("text_unigram_logprob", """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS token
        FROM documents),
    t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    uni AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
    tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM uni),
    lp AS (SELECT uni.token,
                  ln((uni.cnt + 1) / (tot.total + tot.vocab)) AS logp
           FROM uni, tot)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(avg(lp.logp), 4) AS avg_logprob
    FROM t JOIN lp ON lp.token = t.token
    GROUP BY t.doc_id
""")
def q_text_unigram_logprob(spark, sf_dir):
    """Unigram language-model scoring (the CCNet/Gopher LM-quality filter
    reduced to its corpus-statistics core): per-doc mean log-probability
    of its tokens under the corpus unigram distribution with add-one
    smoothing. Higher (less negative) = more typical text; the low tail
    is gibberish, the high tail is boilerplate — both cut points for
    curation.

    Scale shape: the unigram table is a wordcount rollup (map-side
    combine shrinks its shuffle to the distinct vocabulary) that then
    BROADCASTS back onto the exploded token stream; the per-doc aggregate
    collapses fully map-side (a doc's tokens never span partitions), so
    NO shuffle ever carries token-instance rows. The plan tokenizes the
    corpus once per consumer branch (uni / tot / rescore) — an explicit
    per-doc tf rollup that tokenizes once was A/B-measured 1.6x SLOWER
    here: its (doc_id, token) exchange is corpus-sized, its subtrees
    don't canonicalize identically so ReuseExchange never fires, and
    re-tokenizing is cheaper than shuffling the tokenized corpus. At real
    corpus scale, cap the broadcast at top-V tokens with an OOV floor
    probability; the full vocab here keeps the oracle exact."""
    docs = load_table(spark, sf_dir, "documents")
    t = (docs.select("doc_id", F.explode(
            F.split(F.trim(F.lower(F.col("text"))), " ")).alias("token"))
         .filter(F.col("token") != ""))
    uni = t.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = uni.agg(F.sum("cnt").alias("total"),
                  F.count(F.lit(1)).alias("vocab"))
    lp = (uni.crossJoin(F.broadcast(tot))
          .select("token",
                  F.log((F.col("cnt") + 1) / (F.col("total") + F.col("vocab")))
                  .alias("logp")))
    return (t.join(F.broadcast(lp), "token")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg("logp"), 4).alias("avg_logprob")))


@register("text_bigram_logprob", """
    WITH t AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
               FROM documents),
    inst AS (SELECT doc_id, toks[i] AS pv, toks[i + 1] AS w
             FROM t, unnest(range(1, greatest(len(toks), 1))) AS one(i)),
    uni AS (SELECT u AS tokenp, CAST(count(*) AS BIGINT) AS cu
            FROM t, unnest(t.toks) AS o(u) GROUP BY u),
    voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
    bi AS (SELECT pv, w, CAST(count(*) AS BIGINT) AS cb
           FROM inst GROUP BY pv, w)
    SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(avg(ln((b.cb + 1.0) / (u.cu + (SELECT v FROM voc))))
                 * 1e4 + 0.5) / 1e4 AS avg_logprob
    FROM inst i JOIN bi b ON b.pv = i.pv AND b.w = i.w
    JOIN uni u ON u.tokenp = i.pv
    GROUP BY i.doc_id
""")
def q_text_bigram_logprob(spark, sf_dir):
    """Bigram language-model scoring: per-doc mean log-probability of
    each token given its predecessor, add-one smoothed over the corpus
    vocabulary — the context-aware upgrade of text_unigram_logprob
    (word salad with typical WORDS scores well under a unigram LM but
    collapses under the bigram conditionals). Two wordcount rollups +
    two token-keyed joins onto the bigram-instance stream; at corpus
    scale, cap to top-V bigrams with an OOV floor so the model table
    broadcasts — the full table here keeps the oracle exact. Docs with
    fewer than 2 tokens emit nothing (no bigrams to score)."""
    from nexusbase_spark.pipeline.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    inst = t.select(
        "doc_id",
        F.explode(F.when(
            F.size("toks") >= 2,
            F.transform(F.sequence(F.lit(1), F.size("toks") - 1),
                        lambda i: F.struct(
                            F.element_at("toks", i).alias("pv"),
                            F.element_at("toks", i + 1).alias("w"))))
            .otherwise(F.array().cast(
                "array<struct<pv:string,w:string>>"))).alias("b")) \
        .select("doc_id", F.col("b.pv").alias("pv"), F.col("b.w").alias("w"))
    uni = (t.select(F.explode("toks").alias("tokenp"))
           .groupBy("tokenp").agg(F.count(F.lit(1)).alias("cu")))
    v = uni.count()
    bi = inst.groupBy("pv", "w").agg(F.count(F.lit(1)).alias("cb"))
    lp = F.log((F.col("cb") + 1.0) / (F.col("cu") + F.lit(float(v))))
    return (inst.join(bi, ["pv", "w"])
            .join(uni, inst["pv"] == uni["tokenp"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 (F.floor(F.avg(lp) * 1e4 + F.lit(0.5)) / 1e4)
                 .alias("avg_logprob")))


@register("multimodal_frames", """
    WITH d AS (
        SELECT doc_id, octet_length(encode(text))::BIGINT AS n
        FROM documents),
    f AS (
        SELECT doc_id, n,
               unnest(range(0, greatest(1, (n + 1023) // 1024), 2)) AS frame_idx
        FROM d)
    SELECT doc_id, frame_idx,
           least(1024, n - frame_idx * 1024) AS frame_bytes
    FROM f
""")
def q_multimodal_frames(spark, sf_dir):
    """Video-shaped frame sampling through the row-expanding mapInPandas
    path (1 payload row -> N frame rows in Arrow batches): every 2nd
    1KiB frame. The oracle checks the structural contract (which frames,
    what sizes) from byte-length math; the per-frame sha256 is covered by
    pytest (DuckDB cannot byte-slice BLOBs to mirror it)."""
    from nexusbase_spark.pipeline.multimodal import attach_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    out = sample_frames(attach_payload(docs), frame_size=1024, every=2)
    return out.select("doc_id", "frame_idx", "frame_bytes")


@register("multimodal_features", """
    WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
    f AS (SELECT doc_id, h, unnest(range(0, 8)) AS pos FROM d)
    SELECT doc_id, pos,
           CAST(('0x' || substring(h, pos * 2 + 1, 2)) AS INT) / 255.0 AS feat
    FROM f
""")
def q_multimodal_features(spark, sf_dir):
    """Feature-extraction stub end to end: payload -> deterministic
    8-dim vector (sha256 bytes / 255) through the Arrow batch path, then
    posexploded so the oracle value-checks every component. The fake
    model is the point: the schema, batching and array<double> output
    are exactly what a real embedding model integration produces, and
    the vectors feed the similarity/dedup operators unchanged."""
    from nexusbase_spark.pipeline.multimodal import attach_payload, extract_features

    docs = load_table(spark, sf_dir, "documents")
    out = extract_features(attach_payload(docs), dim=8)
    return (out.select("doc_id", F.posexplode("features").alias("pos", "feat"))
            .select("doc_id", F.col("pos").cast("long").alias("pos"), "feat"))


@register("doc_dedup_bucket_clusters", f"""
    WITH RECURSIVE {_minhash_ctes()}
    bmin AS (
        SELECT band_idx, band_key, min(doc_id) AS m
        FROM banded GROUP BY band_idx, band_key
    ),
    star AS (
        SELECT DISTINCT b.doc_id AS src, bmin.m AS dst
        FROM banded b
        JOIN bmin USING (band_idx, band_key)
        WHERE b.doc_id <> bmin.m
    ),
    edges AS (
        SELECT src, dst FROM star
        UNION
        SELECT dst AS src, src AS dst FROM star
    ),
    reach(node, label) AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT node AS doc_id, min(label) AS canonical_id
    FROM reach GROUP BY node
""")
def q_doc_dedup_bucket_clusters(spark, sf_dir):
    """Near-dup clustering from LSH bucket CO-MEMBERSHIP (star edges,
    no pairwise candidate set): the scalable dedup endgame when dup
    cliques are large — a 20-strong clique costs 19 star edges here vs
    190 verified pairs on the pairwise path (measured quadratic: SCALE.md,
    "Pipeline scale probe — 100k docs / 200k vectors"). No Jaccard
    verification: banding false positives merge clusters, the standard
    industrial trade."""
    from nexusbase_spark.pipeline.dedup import bucket_clusters

    return bucket_clusters(_docs_aug(spark, sf_dir), num_hashes=8, bands=4)


_SIMHASH_SIG_CTES = f"""
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM ({DOCS_AUG_SQL})),
    v AS (
        SELECT doc_id,
               {", ".join(
                   f"sum(CASE WHEN strpos('0123456789abcdef', substr(md5(tok), {i+1}, 1)) - 1 >= 8 "
                   f"THEN 1 ELSE -1 END) AS v{i}" for i in range(16))}
        FROM tok GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               ({" + ".join(f"CASE WHEN v{i} > 0 THEN {2**i} ELSE 0 END" for i in range(16))})::BIGINT AS simhash
        FROM v
    )"""


@register("doc_dedup_simhash_pairs", f"""
    WITH {_SIMHASH_SIG_CTES},
    banded AS (
        SELECT doc_id, simhash, 0 AS band_idx, simhash & 255 AS band_key FROM sig
        UNION ALL
        SELECT doc_id, simhash, 1 AS band_idx, (simhash >> 8) & 255 AS band_key FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
""")
def q_doc_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS (completing the family beyond signatures):
    16-bit signatures band into two 8-bit slices, docs agreeing on either
    slice become candidates (pigeonhole: every pair within hamming 1 is
    guaranteed found), verified by exact popcount-of-XOR <= 3. Candidate
    generation is the same O(n*bands) banded self-join as MinHash LSH but
    verification is ONE integer op — no shingle rehydration, which is
    SimHash's reason to exist at corpus scale."""
    from nexusbase_spark.pipeline.dedup import simhash_pairs

    out = simhash_pairs(_docs_aug(spark, sf_dir), bits=16, bands=2, max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@register("docs_temperature_mix", """
    WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT sum(n_docs) AS nd FROM per),
    nat AS (SELECT per.source, per.n_docs,
                   CAST(per.n_docs AS DOUBLE) / nd AS nat
            FROM per, tot),
    p AS (SELECT source, n_docs, nat, pow(nat, 0.5) AS pw FROM nat),
    pt AS (SELECT sum(pw) AS pt FROM p)
    SELECT p.source, p.n_docs,
           round(p.nat, 6) AS natural_share,
           round(p.pw / pt, 6) AS sample_share,
           round((p.pw / pt) / p.nat, 6) AS weight_per_doc
    FROM p, pt
""")
def q_docs_temperature_mix(spark, sf_dir):
    """Temperature rebalancing (share ∝ natural^0.5): the standard
    multilingual/multi-source upsampling rule. weight_per_doc is the
    per-document multiplier that plugs into stratified_sample /
    interleave_by_weight — rare sources get >1, dominant sources <1.
    Two tiny broadcast totals, no global window; see
    pipeline/split.temperature_weights."""
    from nexusbase_spark.pipeline.split import temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    return temperature_weights(docs, "source", alpha=0.5)


@register("docs_curation_pipeline",
          """
    WITH qf AS ({qf}),
    kept AS (
        SELECT d.doc_id, d.text, d.n_chars
        FROM documents d JOIN qf ON qf.doc_id = d.doc_id
        WHERE qf.keep),
    dd AS (
        SELECT doc_id, n_chars,
               min(doc_id) OVER (PARTITION BY md5(trim(lower(text)))) AS keeper
        FROM kept),
    uniq AS (SELECT doc_id, n_chars FROM dd WHERE doc_id = keeper),
    b AS (SELECT n_chars, {bucket} AS bk FROM uniq)
    SELECT CASE WHEN bk < 8000 THEN 'train'
                WHEN bk < 9000 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY split
""".format(qf="SELECT * FROM (" + _QF_RULES_SQL.format(
              stops=", ".join(repr(w) for w in _STOP_ALL)) + ")",
           bucket=_bucket_sql('doc_id', 'split-v1')))
def q_docs_curation_pipeline(spark, sf_dir):
    """The whole curation pipeline as ONE DAG — quality filter ->
    exact dedup (keep the group min) -> deterministic split -> corpus
    report — composed from the same operators the individual oracles
    check (quality_filter_exprs, exact_dedup_groups, assign_split).
    This is the composition proof: each stage's output feeds the next
    lazily, Catalyst plans the lot as one job (filter pushed to the
    scan, dedup's hash window is the only wide exchange before the
    rollup), and nothing materializes between stages."""
    from nexusbase_spark.pipeline.dedup import exact_dedup_keepers
    from nexusbase_spark.pipeline.split import assign_split
    from nexusbase_spark.pipeline.text import quality_keep_filter_expr

    docs = load_table(spark, sf_dir, "documents")
    # filter-safe let-binding form: tokenizes once per row inside the
    # pushed Filter (the projected-alias trick can't survive pushdown;
    # was 16 split() copies per row under fallback eval — r10, 1.37x)
    kept = docs.filter(quality_keep_filter_expr(F.col("text")))
    # carry n_chars THROUGH the dedup stage instead of joining back to
    # `kept`: the join-back form evaluates the quality filter twice
    # (once per branch; measured 2x this query's wall time). Keeper-only
    # aggregation form (r10): this pipeline never reads non-keeper rows,
    # so min_by aggregation replaces the window — map-side partial
    # aggregation shrinks the content-hash exchange to ~one row per
    # group and drops the Sort + Window from the plan.
    uniq = exact_dedup_keepers(kept, carry_cols=["n_chars"])
    out = assign_split(uniq, "doc_id",
                       {"train": 0.8, "val": 0.1, "test": 0.1})
    return (out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")))


# Quality-filter -> PPJoin -> connected-components -> canonical-rank CTE
# chain, shared verbatim by docs_curation_v2 and docs_curation_v3_dsir
# so the two composed oracles can never drift apart. Ends with `r`
# (doc_id, source, n_chars, rn) where rn = 1 marks the canonical keeper.
_CURATION_KEEP_CTES = ("WITH RECURSIVE qf AS ({qf})," + """
    kept AS (
        SELECT d.doc_id, d.text, d.source,
               CAST(d.n_chars AS BIGINT) AS n_chars
        FROM documents d JOIN qf ON qf.doc_id = d.doc_id
        WHERE qf.keep AND d.doc_id < 400),
    tk AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(trim(lower(text)), ' ')))
                   AS tok
        FROM kept),
    sz AS (SELECT doc_id, count(*) AS s FROM tk GROUP BY doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    jp AS (
        SELECT i.id_a, i.id_b
        FROM i JOIN sz sa ON sa.doc_id = i.id_a
               JOIN sz sb ON sb.doc_id = i.id_b
        WHERE i.inter * 10000 >= (sa.s + sb.s - i.inter) * 8000),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM jp
        UNION
        SELECT id_b AS src, id_a AS dst FROM jp),
    reach(node, label) AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst),
    cl AS (SELECT node AS doc_id, min(label) AS canonical_id
           FROM reach GROUP BY node),
    lab AS (
        SELECT k.doc_id, k.source, k.n_chars,
               coalesce(cl.canonical_id, k.doc_id) AS cluster_id
        FROM kept k LEFT JOIN cl ON cl.doc_id = k.doc_id),
    r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM lab)
""").replace(
    "{qf}", "SELECT * FROM ("
            + _QF_RULES_SQL.format(
                stops=", ".join(repr(w) for w in _STOP_ALL)) + ")")


@register("docs_curation_v2", _CURATION_KEEP_CTES + """
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT)
               AS sum_chars
    FROM r WHERE rn = 1 GROUP BY source
""")
def q_docs_curation_v2(spark, sf_dir):
    """Curation pipeline v2 — the round-5 upgrade of
    docs_curation_pipeline: quality filter -> EXACT near-dup dedup
    (prefix-filtered Jaccard >= 0.8 self-join, lossless) -> connected
    components -> canonical representative (longest member) -> per-
    source retention report. Every stage is the independently-oracled
    operator (quality_filter_exprs, prefix_filter_pairs,
    dedup_clusters, canonical_keep) composed lazily; only the CC
    iteration materializes between stages (its localCheckpoint round
    contract). Restricted to doc_id < 400 so the ORACLE's brute-force
    pair join stays tractable — the Spark side is df-bounded and runs
    corpus-wide (docs_ppjoin_pairs precedent). Runs with the composed
    pipelines' DEFAULT skew cap (curation_keepers max_bucket=1000,
    VERDICT r6 #5) — inert at every test SF (buckets here are <=400
    postings by the doc_id restriction alone), load-bearing at 100TB;
    the oracle models the uncapped chain, which is identical below the
    cap."""
    from nexusbase_spark.pipeline.dedup import curation_keepers

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400))
    kept, verdicts = curation_keepers(docs, threshold=0.8)
    return (verdicts.filter(F.col("keep"))
            .join(kept.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")))


@register("docs_curation_v3_dsir", _CURATION_KEEP_CTES + """,
    keepers AS (
        SELECT k.doc_id, k.text, k.source
        FROM kept k JOIN r ON r.doc_id = k.doc_id AND r.rn = 1),
    g AS (
        SELECT doc_id, source IN ('src1', 'src2') AS tgt,
               unnest(list_transform(t, x ->
                   CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)
                   % 2147483647 % 1024)
                   || list_transform(range(1, greatest(len(t), 1)), i ->
                   CAST(('0x' || substring(md5(t[i] || ' ' || t[i+1]), 1, 15))
                        AS BIGINT) % 2147483647 % 1024)) AS b
        FROM (SELECT doc_id, source,
                     string_split(trim(lower(text)), ' ') AS t
              FROM keepers)),
    raw AS (SELECT b, count(*) AS cnt_r FROM g GROUP BY b),
    tgtb AS (SELECT b, count(*) AS cnt_t FROM g WHERE tgt GROUP BY b),
    tot AS (SELECT count(*) AS n_r,
                   sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_t FROM g),
    pd AS (
        SELECT g.doc_id,
               sum(ln(coalesce(tgtb.cnt_t, 0) + 1.0) - ln(raw.cnt_r + 1.0))
                   AS lr_sum,
               count(*) AS n_grams
        FROM g JOIN raw USING (b) LEFT JOIN tgtb USING (b)
        GROUP BY g.doc_id),
    sc AS (
        SELECT doc_id, n_grams,
               lr_sum + n_grams * (ln(n_r + 1024.0) - ln(n_t + 1024.0))
                   AS lam,
               floor((lr_sum + n_grams * (ln(n_r + 1024.0) - ln(n_t + 1024.0))
                      - ln(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                     AS BIGINT) % 2147483647 + 1.0)
                               / 2147483648.0))) * 1e6 + 0.5) / 1e6 AS skey
        FROM pd CROSS JOIN tot)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           floor(lam * 1e4 + 0.5) / 1e4 AS lam,
           floor(skey * 1e4 + 0.5) / 1e4 AS sel_key
    FROM sc ORDER BY skey DESC, doc_id LIMIT 25
""")
def q_docs_curation_v3_dsir(spark, sf_dir):
    """Curation v3: the v2 canonical corpus (quality filter -> lossless
    near-dup -> canonical keep) feeds DSIR data selection — fit the
    hashed-ngram importance model on the DEDUPED corpus (dup clusters no
    longer over-weight their n-grams) and Gumbel-top-25 toward the
    src1/src2 target. Three composed stages, one oracle built from the
    SHARED v2 CTE constant + the DSIR CTEs, so neither composition can
    drift from its stage oracles. Uses the composed pipelines' DEFAULT
    skew cap (curation_keepers max_bucket=1000, VERDICT r6 #5) — inert
    at test SFs, see q_docs_curation_v2."""
    from nexusbase_spark.pipeline.dedup import curation_keepers
    from nexusbase_spark.pipeline.importance import dsir_select

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400))
    kept, verdicts = curation_keepers(docs, threshold=0.8)
    keepers = (verdicts.filter(F.col("keep"))
               .join(kept.select("doc_id", "text", "source"), "doc_id")
               .localCheckpoint(eager=True))
    return dsir_select(keepers, F.col("source").isin("src1", "src2"),
                       k=25)


_VECINDEX_CACHE: dict = {}


@register("embed_vecindex_topk", f"""
    WITH {_kmeans_ctes(k=4, iters=3)},
    probe AS (SELECT pos, x AS pv FROM ev WHERE vec_id = 0),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM probe),
    dim AS (
        SELECT cl.cid, e.pos, avg(e.x) AS m
        FROM clusters cl JOIN ev e ON e.vec_id = cl.vec_id
        GROUP BY cl.cid, e.pos),
    cs AS (
        SELECT d.cid, sum(d.m * p.pv) / (sqrt(sum(d.m * d.m)) * any_value(pn.n)) AS c
        FROM dim d JOIN probe p ON p.pos = d.pos, pn GROUP BY d.cid),
    best AS (SELECT cid FROM cs ORDER BY c DESC, cid LIMIT 2),
    m AS (
        SELECT e.vec_id,
               sum(e.x * p.pv) AS dot,
               sqrt(sum(e.x * e.x)) AS vn
        FROM ev e
        JOIN clusters cl ON cl.vec_id = e.vec_id AND cl.cid IN (SELECT cid FROM best)
        JOIN probe p ON p.pos = e.pos
        WHERE e.vec_id <> 0
        GROUP BY e.vec_id)
    SELECT vec_id, round(dot / (vn * (SELECT n FROM pn)), 4) AS cosine FROM m
    ORDER BY dot / (vn * (SELECT n FROM pn)) DESC, vec_id LIMIT 10
""")
def q_embed_vecindex_topk(spark, sf_dir):
    """The MATERIALIZED IVF index end to end: build (deterministic
    k-means -> cluster-partitioned parquet + stored centroids), then
    serve the probe from the index — centroid routing is driver-side
    (nlist rows, no Spark job) and the scan touches only the probed
    clusters' FILES (partition pruning; pipeline/vecindex.py). Must
    hash-match the inline embed_ivf_kmeans_topk oracle exactly: same
    quantizer, same probe, same nprobe — the index changes where the
    work happens, never the answer."""
    import tempfile

    from nexusbase_spark.pipeline.vecindex import VectorIndex

    if sf_dir not in _VECINDEX_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="nexusbase_vecindex_")
        _VECINDEX_CACHE[sf_dir] = VectorIndex.build(
            spark, path, emb, nlist=4, iters=3)
    idx = _VECINDEX_CACHE[sf_dir]
    out = idx.search(_probe_vec(spark, sf_dir), k=10, nprobe=2, exclude_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


@register("docs_temperature_sample", f"""
    WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT sum(n_docs) AS nd FROM per),
    nat AS (SELECT per.source, CAST(per.n_docs AS DOUBLE) / nd AS nat
            FROM per, tot),
    p AS (SELECT source, nat, pow(nat, 0.5) AS pw FROM nat),
    pt AS (SELECT sum(pw) AS pt FROM p),
    r AS (SELECT p.source,
                 least(1.0, 0.5 * round((p.pw / pt) / p.nat, 6)) AS rate
          FROM p, pt)
    SELECT d.doc_id, d.source
    FROM documents d JOIN r ON r.source = d.source
    WHERE {_bucket_sql('d.doc_id', 'sample-v1')}
          < CAST(round(r.rate * 10000) AS BIGINT)
""")
def q_docs_temperature_sample(spark, sf_dir):
    """The mixing loop CLOSED: temperature weights (share ∝ natural^0.5)
    become per-source sampling rates (0.5 * weight_per_doc, capped at 1)
    and feed straight into the deterministic stratified sampler — rare
    sources keep more of their docs, dominant sources are downsampled,
    and the surviving set is exactly reproducible (salted buckets, no
    RNG). The rate card is driver-sized by design (one row per source),
    so collecting it costs one tiny job; at a million strata it would
    stay a broadcast join on the sampler side."""
    from nexusbase_spark.pipeline.split import stratified_sample, temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    w = temperature_weights(docs, "source", alpha=0.5)
    rates = {r["source"]: min(1.0, 0.5 * r["weight_per_doc"])
             for r in w.collect()}
    out = stratified_sample(docs, "doc_id", "source", rates)
    return out.select("doc_id", "source")


_CDC_CHUNKS_SQL = """
    WITH seg AS (
        SELECT doc_id, text,
               list_transform(
                   list_filter(range(1, greatest(length(text) - 7, 0) + 1),
                               p -> md5(substring(text, p, 8)) LIKE '%0'),
                   b -> b + 7) AS cuts
        FROM documents),
    arr AS (
        SELECT doc_id, text,
               list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
               list_append(cuts, length(text)) AS ends
        FROM seg),
    zz AS (SELECT doc_id, unnest(starts) AS s, unnest(ends) AS e, text FROM arr)
    SELECT doc_id, md5(substring(text, s, e - s + 1)) AS chunk_md5
    FROM zz WHERE e - s + 1 > 0
"""


@register("docs_chunk_dedup", f"""
    WITH ch AS ({_CDC_CHUNKS_SQL}),
    nd AS (SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs
           FROM ch GROUP BY chunk_md5)
    SELECT ch.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN nd.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           round(CAST(sum(CASE WHEN nd.n_docs > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS shared_frac
    FROM ch JOIN nd ON nd.chunk_md5 = ch.chunk_md5
    GROUP BY ch.doc_id
""")
def q_docs_chunk_dedup(spark, sf_dir):
    """CHUNK-granular dedup (paragraph/boilerplate removal): per doc, the
    fraction of its content-defined chunks that also appear in OTHER
    docs — the signal that drives boilerplate stripping and partial-dup
    removal where whole-doc dedup is too coarse (shared headers, quoted
    blocks, template sections).

    Scale shape: cdc_chunks is narrow (arrays built in one projection);
    the chunk table shuffles ONCE on chunk_md5 for the distinct-doc
    count, and the count joins back co-partitioned on the same key (no
    second exchange of the chunk table); the per-doc rollup is map-side
    combinable. Nothing is ever quadratic in duplicate-cluster size —
    unlike pairwise chunk matching."""
    from nexusbase_spark.pipeline.pack import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    ch = cdc_chunks(docs, window=8, mask_hex="0").select("doc_id", "chunk_md5")
    nd = (ch.groupBy("chunk_md5")
          .agg(F.count_distinct("doc_id").alias("n_docs")))
    shared = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return (ch.join(nd, "chunk_md5")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(shared).cast("long").alias("n_shared"))
            .select("doc_id", "n_chunks", "n_shared",
                    F.round(F.col("n_shared").cast("double")
                            / F.col("n_chunks"), 4).alias("shared_frac")))


@register("docs_quality_classifier", f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, text, toks,
                 list_transform(range(1, greatest(len(toks), 1)),
                                i -> toks[i] || ' ' || toks[i+1]) AS grams
          FROM t),
    f AS (SELECT doc_id,
                 len(toks) AS n_tokens,
                 len(list_filter(toks, x -> list_contains(
                     [{", ".join(repr(w) for w in _STOP_ALL)}], x)))
                     / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
                 (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                     / CAST(length(text) AS DOUBLE) AS digit_ratio,
                 (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                     / CAST(length(text) AS DOUBLE) AS punct_ratio,
                 CASE WHEN len(grams) = 0 THEN 0.0
                      ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                           / len(grams) END AS rep
          FROM g),
    s AS (SELECT doc_id,
                 -1.0 + 5.0 * stopword_ratio + -6.0 * digit_ratio
                      + -2.0 * punct_ratio + -8.0 * rep
                      + 0.6 * ln(n_tokens + 1.0) AS z
          FROM f)
    SELECT doc_id, round(z, 4) AS margin, z > 0 AS keep FROM s
""")
def q_docs_quality_classifier(spark, sf_dir):
    """Model-based quality filtering: a linear classifier over the
    quality features (the fastText/logreg scoring step of CCNet/Gopher
    curation, with illustrative weights — pipeline/text.py
    QUALITY_CLASSIFIER_WEIGHTS). Margin output (pre-sigmoid: monotone in
    probability, avoids exp()); keep = margin > 0. Every feature derives
    from integer lengths and the dot product is a fixed expression-order
    sum, so both engines compute bit-identical doubles at scan speed with
    zero UDFs."""
    from nexusbase_spark.pipeline.text import classifier_margin, tokens_col

    docs = load_table(spark, sf_dir, "documents")
    # three-level select: tokenize once, score once, then derive both
    # outputs from the scored column (inlined, the plan carried ~30
    # split() copies — one per feature reference per output — r9)
    base = docs.select("doc_id", "text",
                       tokens_col(F.col("text")).alias("__toks"))
    scored = base.select(
        "doc_id",
        classifier_margin(F.col("text"), toks=F.col("__toks")).alias("__z"))
    return scored.select("doc_id", F.round(F.col("__z"), 4).alias("margin"),
                         (F.col("__z") > 0).alias("keep"))


_DOC_LOGPROB_SQL = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS token
        FROM documents),
    t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    uni AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
    tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM uni),
    lp AS (SELECT uni.token,
                  ln((uni.cnt + 1) / (tot.total + tot.vocab)) AS logp
           FROM uni, tot)
    SELECT t.doc_id, round(avg(lp.logp), 4) AS alp
    FROM t JOIN lp ON lp.token = t.token
    GROUP BY t.doc_id
"""


@register("docs_perplexity_filter", f"""
    WITH doc AS ({_DOC_LOGPROB_SQL}),
    th AS (SELECT quantile_cont(alp, 0.10) AS lo,
                  quantile_cont(alp, 0.90) AS hi FROM doc),
    kept AS (SELECT doc.doc_id, doc.alp FROM doc, th
             WHERE doc.alp >= th.lo AND doc.alp <= th.hi)
    SELECT d.lang,
           count(*) AS n_docs,
           round(sum(floor(kept.alp * 10000 + 0.5))
                 / (count(*) * 10000.0), 4) AS avg_logprob
    FROM kept JOIN documents d ON d.doc_id = kept.doc_id
    GROUP BY d.lang
""")
def q_docs_perplexity_filter(spark, sf_dir):
    """Perplexity-band filtering (the CCNet middle-band selection): score
    every doc with the unigram LM, drop the lowest decile (gibberish) and
    the highest decile (boilerplate), report the surviving mix by
    language. Thresholds are two scalars (exact percentiles of the
    rounded per-doc scores) broadcast onto the doc frame — never a global
    sort/ntile, which would single-partition at corpus scale. The kept
    average is computed over 1e-4-quantized scores (integer sums are
    order-exact — see embed_label_centroids)."""
    docs = load_table(spark, sf_dir, "documents")
    t = (docs.select("doc_id", F.explode(
            F.split(F.trim(F.lower(F.col("text"))), " ")).alias("token"))
         .filter(F.col("token") != ""))
    uni = t.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = uni.agg(F.sum("cnt").alias("total"),
                  F.count(F.lit(1)).alias("vocab"))
    lp = (uni.crossJoin(F.broadcast(tot))
          .select("token",
                  F.log((F.col("cnt") + 1) / (F.col("total") + F.col("vocab")))
                  .alias("logp")))
    # checkpoint the per-doc score frame (doc_id, alp — two columns, one
    # row per doc): it feeds both the threshold percentiles and the band
    # filter, and the two consumers prune different columns so their
    # exchanges don't canonicalize equal — ReuseExchange never fired and
    # the whole scan+explode+join+aggregate score pipeline ran TWICE
    # (executed plan, r10). Materializing the tiny frame runs it once.
    doc = (t.join(F.broadcast(lp), "token")
           .groupBy("doc_id")
           .agg(F.round(F.avg("logp"), 4).alias("alp"))
           .localCheckpoint(eager=True))
    th = doc.agg(F.expr("percentile(alp, 0.10)").alias("lo"),
                 F.expr("percentile(alp, 0.90)").alias("hi"))
    kept = (doc.crossJoin(F.broadcast(th))
            .filter((F.col("alp") >= F.col("lo"))
                    & (F.col("alp") <= F.col("hi"))))
    qalp = F.floor(F.col("alp") * 10_000 + F.lit(0.5))
    return (kept.join(load_table(spark, sf_dir, "documents")
                      .select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum(qalp) / (F.count(F.lit(1)) * 10_000.0), 4)
                 .alias("avg_logprob")))


@register("docs_cdc_chunks", """
    WITH seg AS (
        SELECT doc_id, text,
               list_transform(
                   list_filter(range(1, greatest(length(text) - 7, 0) + 1),
                               p -> md5(substring(text, p, 8)) LIKE '%0'),
                   b -> b + 7) AS cuts
        FROM documents),
    arr AS (
        SELECT doc_id, text,
               list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
               list_append(cuts, length(text)) AS ends
        FROM seg),
    z AS (
        SELECT doc_id, text,
               unnest(starts) AS s, unnest(ends) AS e,
               unnest(range(len(starts))) AS chunk_idx
        FROM arr)
    SELECT doc_id, chunk_idx, CAST(s AS BIGINT) AS chunk_start,
           CAST(e - s + 1 AS BIGINT) AS chunk_len,
           md5(substring(text, s, e - s + 1)) AS chunk_md5
    FROM z WHERE e - s + 1 > 0
""")
def q_docs_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (window-hash CDC, 8-char window,
    1/16 boundary probability): shift-resistant chunk boundaries, so an
    edit early in a document changes only the chunk it lands in and
    chunk-level dedup across near-identical docs becomes an exact
    groupBy on chunk_md5 — the rsync/LBFS primitive, and the right
    dedup granularity for large multimodal payloads. Narrow array
    construction, one explode; see pipeline/pack.cdc_chunks."""
    from nexusbase_spark.pipeline.pack import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks(docs, window=8, mask_hex="0")


# ---------------------------------------------------------------------------
# retrieval / frequency mining / semantic pruning (round 3 additions)

# BM25 constants, shared verbatim with the oracle text so both engines do
# the same double arithmetic in the same order
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("vector", "join", "scan")


@register("docs_bm25_topk", f"""
    WITH t AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
               FROM documents),
    s AS (SELECT doc_id, len(toks) AS dl,
                 len(list_filter(toks, x -> x = '{_BM25_TERMS[0]}')) AS tf0,
                 len(list_filter(toks, x -> x = '{_BM25_TERMS[1]}')) AS tf1,
                 len(list_filter(toks, x -> x = '{_BM25_TERMS[2]}')) AS tf2
          FROM t),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl,
                 CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
                 CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                 CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
          FROM s),
    sc AS (SELECT doc_id,
             ln((CAST(n_docs - df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5) + 1.0)
               * tf0 * {_BM25_K1 + 1.0!r}
               / (tf0 + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl))
           + ln((CAST(n_docs - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5) + 1.0)
               * tf1 * {_BM25_K1 + 1.0!r}
               / (tf1 + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl))
           + ln((CAST(n_docs - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5) + 1.0)
               * tf2 * {_BM25_K1 + 1.0!r}
               / (tf2 + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl))
             AS score
           FROM s, g)
    SELECT doc_id, floor(score * 1e4 + 0.5) / 1e4 AS score
    FROM sc
    ORDER BY floor(score * 1e4 + 0.5) / 1e4 DESC, doc_id
    LIMIT 10
""")
def q_docs_bm25_topk(spark, sf_dir):
    """BM25 top-10 for a fixed probe query — the corpus-audit retrieval
    primitive (eval-leakage triage, boosted sampling). One map-side-combined
    stats row broadcast back, per-term tf via filtered array passes (no
    explode), distributed top-k (TakeOrderedAndProject). Scores are
    floor-quantized to 1e-4 BEFORE ranking so rank order is engine-stable;
    ties break on doc_id. See pipeline/search.py."""
    from nexusbase_spark.pipeline.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, list(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B)


_CORPUS_STATS_CACHE: dict = {}


def _bm25_oracle(limit: int = 10, match_only: bool = False) -> str:
    """The docs_bm25_topk oracle body, shared with the served and
    index-backed variants — every path must equal the same full-corpus
    SQL recompute. ``match_only`` restricts candidates to docs containing
    at least one query term (the inverted-index contract: non-matching
    docs never enter the postings join)."""
    t = _BM25_TERMS
    per_term = "\n           + ".join(
        f"ln((CAST(n_docs - df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5) + 1.0)"
        f" * tf{i} * {_BM25_K1 + 1.0!r}"
        f" / (tf{i} + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl))"
        for i in range(len(t)))
    tf_cols = ",\n                 ".join(
        f"len(list_filter(toks, x -> x = '{t[i]}')) AS tf{i}"
        for i in range(len(t)))
    df_cols = ",\n                 ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(t)))
    return f"""
    WITH t AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
               FROM documents),
    s AS (SELECT doc_id, len(toks) AS dl,
                 {tf_cols}
          FROM t),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl,
                 {df_cols}
          FROM s),
    sc AS (SELECT doc_id, {per_term} AS score FROM s, g
           {"WHERE " + " + ".join(f"tf{i}" for i in range(len(t))) + " > 0"
            if match_only else ""})
    SELECT doc_id, floor(score * 1e4 + 0.5) / 1e4 AS score
    FROM sc
    ORDER BY floor(score * 1e4 + 0.5) / 1e4 DESC, doc_id
    LIMIT {limit}
"""


@register("docs_bm25_served", _bm25_oracle(10))
def q_docs_bm25_served(spark, sf_dir):
    """BM25 top-10 SERVED from the incrementally-maintained CorpusStats
    store (pipeline/search.py): the corpus is folded into the stats
    store in TWO separate update() batches (exercising the delta-merge
    path a continuously-ingesting pipeline uses), then retrieval reads
    N/avgdl/df from the store — no full-corpus statistics pass at query
    time. Must equal the one-shot batch recompute, which is exactly the
    oracle (same SQL as docs_bm25_topk)."""
    import tempfile

    from nexusbase_spark.pipeline.search import CorpusStats, bm25_topk_served

    docs = load_table(spark, sf_dir, "documents")
    if sf_dir not in _CORPUS_STATS_CACHE:
        path = tempfile.mkdtemp(prefix="nexusbase_corpus_stats_")
        st = CorpusStats.build(spark, path, None)
        mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
        st.update(docs.filter(F.col("doc_id") <= mid))
        st.update(docs.filter(F.col("doc_id") > mid))
        _CORPUS_STATS_CACHE[sf_dir] = st
    st = _CORPUS_STATS_CACHE[sf_dir]
    return bm25_topk_served(docs, st, list(_BM25_TERMS), k=10,
                            k1=_BM25_K1, b=_BM25_B)


_INV_INDEX_CACHE: dict = {}


@register("docs_bm25_indexed", _bm25_oracle(10, match_only=True))
def q_docs_bm25_indexed(spark, sf_dir):
    """BM25 top-10 through the MATERIALIZED InvertedIndex
    (pipeline/invindex.py): the corpus is tokenized ONCE into a
    bucket-partitioned postings store (built here incrementally — base
    build + one append batch — the continuous-ingest shape); the query
    reads only the query terms' buckets (directory pruning) and scores
    only candidate documents. Oracle = the same BM25 SQL restricted to
    docs matching at least one term (the postings-join contract; the
    scan path's zero-score padding rows never enter an index)."""
    import tempfile

    from nexusbase_spark.pipeline.invindex import InvertedIndex

    docs = load_table(spark, sf_dir, "documents")
    if sf_dir not in _INV_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="nexusbase_inv_ix_")
        mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
        ix = InvertedIndex.build(spark, path,
                                 docs.filter(F.col("doc_id") <= mid))
        ix.append(docs.filter(F.col("doc_id") > mid))
        _INV_INDEX_CACHE[sf_dir] = ix
    ix = _INV_INDEX_CACHE[sf_dir]
    return ix.search(list(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B)


@register("docs_hybrid_rrf_topk", f"""
    WITH lex0 AS ({_bm25_oracle(50)}),
    lex AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS r
            FROM lex0),
    pr AS (SELECT r.i AS pos, CAST(p.embedding[r.i] AS DOUBLE) AS pv
           FROM embeddings p, range(1, 65) r(i) WHERE p.vec_id = 0),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM pr),
    mden AS (SELECT v.vec_id,
                    sum(CAST(v.embedding[pr.pos] AS DOUBLE) * pr.pv) AS dot,
                    sqrt(sum(CAST(v.embedding[pr.pos] AS DOUBLE) ** 2)) AS vn
             FROM embeddings v, pr WHERE v.vec_id <> 0 GROUP BY v.vec_id),
    den0 AS (SELECT vec_id AS doc_id,
                    floor(dot / (vn * (SELECT n FROM pn)) * 1e4 + 0.5) / 1e4 AS qc
             FROM mden
             ORDER BY floor(dot / (vn * (SELECT n FROM pn)) * 1e4 + 0.5) / 1e4
                      DESC, vec_id
             LIMIT 50),
    den AS (SELECT doc_id,
                   row_number() OVER (ORDER BY qc DESC, doc_id) AS r
            FROM den0),
    u AS (SELECT doc_id, 1.0 / (60.0 + r) AS w FROM lex
          UNION ALL SELECT doc_id, 1.0 / (60.0 + r) FROM den)
    SELECT doc_id, floor(sum(w) * 1e6 + 0.5) / 1e6 AS rrf
    FROM u GROUP BY doc_id
    ORDER BY floor(sum(w) * 1e6 + 0.5) / 1e6 DESC, doc_id LIMIT 10
""")
def q_docs_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid lexical+dense retrieval with reciprocal-rank fusion: BM25
    top-50 over the text and exact-cosine top-50 over the document
    embeddings (doc_id == vec_id in the testdata), fused as
    sum(1/(60+rank)) per RRF (Cormack et al. 2009) — the standard hybrid
    search combiner since it needs no score calibration across the two
    retrieval spaces. Both retrievers are corpus-scan shaped
    (distributed top-k, one stats broadcast); fusion touches only the
    two 50-row shortlists. Ranks assigned on floor-quantized scores,
    ties by id — rank-stable across engines (see search.rrf_fuse)."""
    from nexusbase_spark.pipeline.search import bm25_topk, rrf_fuse
    from nexusbase_spark.pipeline.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, list(_BM25_TERMS), k=50, k1=_BM25_K1, b=_BM25_B)
    den = (cosine_topk(emb, _probe_vec(spark, sf_dir), k=50,
                       exclude_id=0, quant=1e4)
           .select(F.col("vec_id").alias("doc_id"),
                   F.col("cosine").alias("score")))
    return rrf_fuse([lex, den], k=10, c=60)


@register("docs_heavy_hitter_bigrams", """
    WITH t AS (SELECT string_split(trim(lower(text)), ' ') AS t
               FROM documents),
    g AS (SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                                       i -> t[i] || ' ' || t[i+1])) AS token
          FROM t)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM g GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
""")
def q_docs_heavy_hitter_bigrams(spark, sf_dir):
    """Top-20 word bigrams via two-phase heavy hitters: per-partition
    Misra-Gries candidates (mapInPandas, capacity 4096) then an EXACT
    recount restricted to the broadcast candidate set — the shuffle
    carries at most capacity x partitions keys instead of the full n-gram
    vocabulary (the thing that kills groupBy(token) at 100 TB). Capacity
    exceeds this corpus's bigram vocabulary (916), so the MG pass never
    evicts and the result equals the exact oracle for any k; the eviction
    path and its n/capacity detection floor are unit-tested at tiny
    capacity. See pipeline/heavyhitters.py."""
    from nexusbase_spark.pipeline.heavyhitters import heavy_hitters_topk

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters_topk(docs, k=20, capacity=4096, ngram=2)


@register("embed_semdedup_prune", """
    WITH aug AS (
        SELECT vec_id, label,
               list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS e
        FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, label,
               list_transform(range(1, 65),
                   i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) * 1.01
                             ELSE CAST(embedding[i] AS DOUBLE) END) AS e
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    pos AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               sum(a.e[r.i] * b.e[r.i]) AS dot,
               sqrt(sum(a.e[r.i] * a.e[r.i])) AS na,
               sqrt(sum(b.e[r.i] * b.e[r.i])) AS nb
        FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id,
             range(1, 65) r(i)
        GROUP BY a.vec_id, b.vec_id
    ),
    removed AS (SELECT DISTINCT id_b FROM pos WHERE dot / (na * nb) >= 0.99)
    SELECT a.label, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN r.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(sum(CASE WHEN r.id_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM aug a LEFT JOIN removed r ON a.vec_id = r.id_b
    GROUP BY a.label
""")
def q_embed_semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic pruning report: same augmented corpus as
    embed_neardup_pairs (synthetic near-dups at id+1000000), cluster-local
    (label-bucketed) cosine pairs, drop every vector with a smaller-id
    near-dup, report per-cluster total/removed/kept. The prune itself
    returns the surviving ROWS (pipeline/embdedup.semdedup_prune); this
    query aggregates so the gate output is small and stable."""
    from nexusbase_spark.pipeline.embdedup import semdedup_prune

    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", "label", as_double.alias("embedding"))
    perturbed = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == 0, x.cast("double") * 1.01).otherwise(x.cast("double")))
    copies = (emb.filter(F.col("vec_id") % 10 == 0)
              .select((F.col("vec_id") + 1000000).alias("vec_id"), "label",
                      perturbed.alias("embedding")))
    # persist the augmented corpus: it feeds FOUR consumers (both sides
    # of the cluster-local pair join, the anti-join left side, and the
    # per-label totals), and unpersisted each consumer re-ran the two
    # parquet scans + the perturbation projection — 8 physical scans of
    # embeddings in the executed plan (r10); with the persist the union
    # materializes once and every consumer reads the cache
    aug = base.unionByName(copies).persist()
    surv = semdedup_prune(aug, threshold=0.99)
    tot = aug.groupBy("label").agg(F.count(F.lit(1)).alias("n_total"))
    kept = surv.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))
    return (tot.join(kept, "label", "left")
            .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0).cast("long")))
            .select("label", "n_total",
                    (F.col("n_total") - F.col("n_kept")).alias("n_removed"),
                    "n_kept"))


def _bpe_oracle(rounds: int) -> str:
    """Generate the n-round BPE merge oracle: each round recounts adjacent
    pairs of the current (delimiter-encoded) corpus, takes the top pair,
    and rewrites via the same greedy non-overlapping replace the Spark
    operator uses (see pipeline/bpe.py for the two-space invariant)."""
    def pcount(src: str, dst: str) -> str:
        return f"""
    {dst} AS (SELECT pr, count(*) AS c FROM (
         SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                i -> t[i] || chr(1) || t[i+1])) AS pr
         FROM (SELECT string_split(trim(s), '  ') AS t FROM {src}))
       GROUP BY pr)"""

    parts = ["""
    WITH s0 AS (SELECT ' ' || array_to_string(string_split(trim(lower(text)), ' '), '  ') || ' ' AS s
            FROM documents)"""]
    for i in range(1, rounds + 1):
        parts.append("," + pcount(f"s{i-1}", f"p{i}"))
        parts.append(f""",
    m{i} AS (SELECT pr, c FROM p{i} ORDER BY c DESC, pr LIMIT 1)""")
        if i < rounds:
            parts.append(f""",
    s{i} AS (SELECT replace(s,
         ' ' || split_part((SELECT pr FROM m{i}), chr(1), 1) || '  ' || split_part((SELECT pr FROM m{i}), chr(1), 2) || ' ',
         ' ' || split_part((SELECT pr FROM m{i}), chr(1), 1) || '_' || split_part((SELECT pr FROM m{i}), chr(1), 2) || ' ') AS s
       FROM s{i-1})""")
    sel = "\n    UNION ALL ".join(
        f"""SELECT CAST({i} AS BIGINT) AS round,
           split_part(pr, chr(1), 1) AS lhs,
           split_part(pr, chr(1), 2) AS rhs,
           CAST(c AS BIGINT) AS pair_count FROM m{i}"""
        for i in range(1, rounds + 1))
    return "".join(parts) + "\n    " + sel


@register("docs_bpe_merges", _bpe_oracle(3))
def q_docs_bpe_merges(spark, sf_dir):
    """First 3 BPE merges over the corpus (pipeline/bpe.py): per round one
    map-side-combined adjacent-pair count + a distributed top-1, then a
    narrow greedy fuse rewrite with eager localCheckpoint (iterative
    lineage rule). The merge table is the vocabulary-induction artifact;
    at 100 TB each round costs one scan-equivalent pass and the rewrite
    never shuffles."""
    from nexusbase_spark.pipeline.bpe import merges_df

    docs = load_table(spark, sf_dir, "documents")
    return merges_df(spark, docs, rounds=3)


def _bpe_encode_oracle(rounds: int) -> str:
    """Mine ``rounds`` merges in SQL (same chain as _bpe_oracle, with
    doc_id threaded through), apply ALL of them, report per-doc token
    stats after encoding."""
    def pcount(src: str, dst: str) -> str:
        return f"""
    {dst} AS (SELECT pr, count(*) AS c FROM (
         SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                i -> t[i] || chr(1) || t[i+1])) AS pr
         FROM (SELECT string_split(trim(s), '  ') AS t FROM {src}))
       GROUP BY pr)"""

    def fuse(src: str, dst: str, m: str) -> str:
        return f""",
    {dst} AS (SELECT doc_id, replace(s,
         ' ' || split_part((SELECT pr FROM {m}), chr(1), 1) || '  ' || split_part((SELECT pr FROM {m}), chr(1), 2) || ' ',
         ' ' || split_part((SELECT pr FROM {m}), chr(1), 1) || '_' || split_part((SELECT pr FROM {m}), chr(1), 2) || ' ') AS s
       FROM {src})"""

    parts = ["""
    WITH s0 AS (SELECT doc_id,
            ' ' || array_to_string(string_split(trim(lower(text)), ' '), '  ') || ' ' AS s
            FROM documents)"""]
    for i in range(1, rounds + 1):
        parts.append("," + pcount(f"s{i-1}", f"p{i}"))
        parts.append(f""",
    m{i} AS (SELECT pr, c FROM p{i} ORDER BY c DESC, pr LIMIT 1)""")
        parts.append(fuse(f"s{i-1}", f"s{i}", f"m{i}"))
    return "".join(parts) + f"""
    SELECT doc_id,
           CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(trim(s), '  '),
                                x -> contains(x, '_'))) AS BIGINT) AS n_fused
    FROM s{rounds}
"""


_BPE_MERGES_CACHE: dict = {}


@register("docs_bpe_encode", _bpe_encode_oracle(3))
def q_docs_bpe_encode(spark, sf_dir):
    """Tokenizer APPLY: encode every document with the first 3 mined BPE
    merges (pipeline/bpe.encode_with_merges) and report per-doc token
    counts after fusing. Mining is the iterative part; encoding is one
    narrow whole-stage-codegen projection of constant replaces — the
    pure map-side pass a 100 TB tokenization job is."""
    from nexusbase_spark.pipeline.bpe import encode_with_merges, learn_merges

    docs = load_table(spark, sf_dir, "documents")
    if sf_dir not in _BPE_MERGES_CACHE:
        _BPE_MERGES_CACHE[sf_dir] = learn_merges(docs, rounds=3)
    enc = encode_with_merges(docs, _BPE_MERGES_CACHE[sf_dir])
    fused = F.size(F.filter(F.col("tokens"),
                            lambda x: x.contains("_")))
    return enc.select("doc_id",
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      fused.cast("long").alias("n_fused"))


@register("docs_per_source_panel", """
    WITH r AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('panel-v1|' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS rk
        FROM documents)
    SELECT source, doc_id FROM r WHERE rk <= 5
""")
def q_docs_per_source_panel(spark, sf_dir):
    """Deterministic exact-5 review panel per source (salted-hash order,
    pipeline/split.per_group_sample_k) — the fixed-size companion to the
    rate-based stratified sampler."""
    from nexusbase_spark.pipeline.split import per_group_sample_k

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    return per_group_sample_k(docs, "source", 5, "doc_id")


@register("docs_weighted_panel", """
    WITH s AS (
        SELECT source, doc_id, n_chars,
               -ln((CAST(('0x' || substring(
                        md5('wsample-v1:' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) + CAST(1 AS DOUBLE))
                   / 1152921504606846977.0)
                 / CAST(n_chars AS DOUBLE) AS key
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
    r AS (SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY key, doc_id) AS rk
          FROM s)
    SELECT source, doc_id, n_chars FROM r WHERE rk <= 5
""")
def q_docs_weighted_panel(spark, sf_dir):
    """Length-weighted exact-5 panel per source (Efraimidis-Spirakis
    reservoir keys, pipeline/split.weighted_sample_k): longer documents
    are proportionally likelier to be inspected — the weighted companion
    to docs_per_source_panel. 16^15+1 = 1152921504606846977 is the
    uniform's denominator on both sides."""
    from nexusbase_spark.pipeline.split import weighted_sample_k

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars")
    return weighted_sample_k(docs, "source", 5, "doc_id", "n_chars")


@register("docs_epoch_mix", """
    WITH card AS (
        SELECT * FROM (VALUES ('src_00', 2.5), ('src_01', 0.5), ('src_02', 0.0))
            AS t(source, e)),
    j AS (
        SELECT d.doc_id, d.source,
               coalesce(c.e, 1.0) AS e,
               CAST(('0x' || substring(md5('epoch-v1:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10000 AS bk
        FROM documents d LEFT JOIN card c USING (source)),
    n AS (
        SELECT source, doc_id,
               CAST(floor(e) AS BIGINT)
                 + CASE WHEN bk < CAST(round((e - floor(e)) * 10000) AS BIGINT)
                        THEN 1 ELSE 0 END AS n_copies
        FROM j)
    SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (SELECT source, doc_id,
                 unnest(range(n_copies)) AS epoch
          FROM n WHERE n_copies > 0)
    GROUP BY source
""")
def q_docs_epoch_mix(spark, sf_dir):
    """Fractional-epoch mixture (pipeline/split.epoch_repeat): src_00 at
    2.5 epochs (every doc twice + a stable half once more), src_01 at
    0.5, src_02 dropped, everything else at 1. Rolled up per source so
    the gate checks every row's copy count through (n_rows, n_docs)."""
    from nexusbase_spark.pipeline.split import epoch_repeat

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = epoch_repeat(docs, "doc_id",
                       {"src_00": 2.5, "src_01": 0.5, "src_02": 0.0})
    return (out.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("doc_id").alias("n_docs")))


_BUDGET_STOPS = "'" + "', '".join(sorted(
    {w for ws in LANG_STOPWORDS.values() for w in ws})) + "'"
_BUDGET_TOKENS = 15_000


@register("docs_budget_select", f"""
    WITH s AS (
        SELECT doc_id, source,
               len(string_split(trim(lower(text)), ' ')) AS cost,
               len(list_filter(string_split(trim(lower(text)), ' '),
                               x -> x IN ({_BUDGET_STOPS})))
                 / len(string_split(trim(lower(text)), ' ')) AS score
        FROM documents),
    b AS (SELECT doc_id, source, cost,
                 CAST(floor(least(greatest(score, 0.0), 0.999999999) * 100)
                      AS BIGINT) AS bin
          FROM s),
    bins AS (SELECT bin, sum(cost) AS c FROM b GROUP BY bin),
    o AS (SELECT bin, c,
                 sum(c) OVER (ORDER BY bin DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
          FROM bins),
    fullsel AS (SELECT b.* FROM b JOIN o USING (bin)
                WHERE o.cum <= {_BUDGET_TOKENS}),
    cut AS (SELECT bin, cum - c AS before FROM o
            WHERE cum > {_BUDGET_TOKENS}
            ORDER BY bin DESC LIMIT 1),
    partial AS (
        SELECT doc_id, source, cost FROM (
            SELECT b.doc_id, b.source, b.cost,
                   sum(b.cost) OVER (
                       ORDER BY md5('budget-v1|' || CAST(b.doc_id AS VARCHAR)),
                                b.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM b JOIN cut ON b.bin = cut.bin)
        WHERE cum <= {_BUDGET_TOKENS} - (SELECT before FROM cut)),
    sel AS (SELECT doc_id, source, cost FROM fullsel
            UNION ALL SELECT doc_id, source, cost FROM partial)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(cost) AS BIGINT) AS n_tokens
    FROM sel GROUP BY source
""")
def q_docs_budget_select(spark, sf_dir):
    """Token-budgeted greedy selection (pipeline/split.budget_select):
    best-stopword-ratio documents until 15k tokens — whole score bins
    best-first (the <=100-row bin table is the only driver-side data),
    the straddling bin filled in deterministic salted-hash order with an
    in-bin running cost sum. Exercises the all-selected path at sf0.001
    (corpus under budget) and the cutoff path at sf0.01/0.1. Rolled up
    per source so the gate hashes every selection decision."""
    from nexusbase_spark.pipeline.split import budget_select
    from nexusbase_spark.pipeline.text import quality_exprs, tokens_col

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "text",
                       tokens_col(F.col("text")).alias("__toks"))
    q = quality_exprs(F.col("text"), toks=F.col("__toks"))
    d = base.select(
        "doc_id", "source",
        F.size(F.col("__toks")).cast("long").alias("cost"),
        q["stopword_ratio"].alias("score"))
    sel = budget_select(d, "score", "cost", _BUDGET_TOKENS, "doc_id")
    return (sel.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("cost").alias("n_tokens")))


_PQ_CACHE: dict = {}


def _pq_trained(spark, sf_dir):
    """Memoized PQ training (m=4, k=4, iters=2) on the sf_dir corpus —
    both PQ gate queries share one codebook fit, mirroring production
    where encode is an index build, not a query cost."""
    if sf_dir not in _PQ_CACHE:
        from nexusbase_spark.pipeline.similarity import pq_encode
        emb = load_table(spark, sf_dir, "embeddings")
        _PQ_CACHE[sf_dir] = pq_encode(emb, m_sub=4, k_codes=4, iters=2)
    return _PQ_CACHE[sf_dir]


# fixed boilerplate injected into every doc_id % 3 == 0 document — long
# enough that CDC (8-char window, '%0' mask, p=1/16 per position) is
# certain to cut inside it, so its tail chunks hash identically across
# docs regardless of where the paste lands
_BOILER = ("subscribe to our newsletter now click here for more offers "
           "terms and conditions apply all rights reserved")

_BOILER_AUG_SQL = f"""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text || ' ' || '{_BOILER}'
                ELSE text END AS text
    FROM documents
"""


@register("docs_boilerplate_scrub", f"""
    WITH aug AS ({_BOILER_AUG_SQL}),
    seg AS (
        SELECT doc_id, text,
               list_transform(
                   list_filter(range(1, greatest(length(text) - 7, 0) + 1),
                               p -> md5(substring(text, p, 8)) LIKE '%0'),
                   b -> b + 7) AS cuts
        FROM aug),
    arr AS (
        SELECT doc_id, text,
               list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
               list_append(cuts, length(text)) AS ends
        FROM seg),
    zz AS (SELECT doc_id, unnest(starts) AS s, unnest(ends) AS e, text FROM arr),
    ch AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx,
               substring(text, s, e - s + 1) AS chunk_text,
               md5(substring(text, s, e - s + 1)) AS chunk_md5
        FROM zz WHERE e - s + 1 > 0),
    freq AS (
        SELECT chunk_md5 FROM ch
        GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 5),
    marked AS (
        SELECT ch.*, (f.chunk_md5 IS NOT NULL) AS boiler
        FROM ch LEFT JOIN freq f USING (chunk_md5))
    SELECT doc_id,
           coalesce(string_agg(chunk_text, '' ORDER BY chunk_idx)
                    FILTER (WHERE NOT boiler), '') AS clean_text,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed
    FROM marked GROUP BY doc_id
""")
def q_docs_boilerplate_scrub(spark, sf_dir):
    """Boilerplate scrubbing end-to-end: a fixed junk sentence is pasted
    onto every third document (both engines build the identical corpus),
    then pipeline/dedup.scrub_frequent_chunks removes every content-
    defined chunk appearing in >= 5 distinct docs and re-concatenates
    the survivors in order — the APPLY step whose SIGNAL twin is
    docs_chunk_dedup. Only the chunk-hash doc-frequency rollup and the
    per-doc reconstruction shuffle; the frequent-chunk set is tiny and
    broadcasts."""
    from nexusbase_spark.pipeline.dedup import scrub_frequent_chunks

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit(" " + _BOILER)))
        .otherwise(F.col("text")).alias("text"))
    return scrub_frequent_chunks(docs, min_docs=5)


@register("docs_duplicate_spans", """
    WITH t AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
               FROM documents),
    ng AS (SELECT doc_id, u - 1 AS s, array_to_string(toks[u:u+7], ' ') AS g
           FROM t, unnest(range(1, greatest(len(toks) - 6, 1))) AS one(u)),
    dup AS (SELECT g FROM ng GROUP BY g HAVING count(*) >= 2),
    sp AS (SELECT doc_id, CAST(s AS BIGINT) AS s, CAST(s + 8 AS BIGINT) AS e
           FROM ng WHERE g IN (SELECT g FROM dup)),
    w AS (SELECT doc_id, s, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS pmax
          FROM sp),
    isl AS (SELECT doc_id, s, e,
                   sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS isl
            FROM w)
    SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
           max(e) - min(s) AS span_tokens
    FROM isl GROUP BY doc_id, isl
""")
def q_docs_duplicate_spans(spark, sf_dir):
    """Exact repeated-substring spans (Lee et al. 2021 n-gram
    formulation): maximal per-doc token regions covered by 8-grams that
    occur >= 2 times anywhere in the corpus — the cut list a
    substring-dedup pass excises before training. Wordcount-shaped
    (posexplode + one gram rollup), island merge windowed per doc.
    See pipeline/dedup.duplicate_ngram_spans."""
    from nexusbase_spark.pipeline.dedup import duplicate_ngram_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_ngram_spans(docs, n=8, min_count=2)


@register("docs_dup_mass_by_source", """
    WITH t AS (SELECT doc_id, source,
                      string_split(trim(lower(text)), ' ') AS toks
               FROM documents),
    ng AS (SELECT doc_id, u - 1 AS s, array_to_string(toks[u:u+7], ' ') AS g
           FROM t, unnest(range(1, greatest(len(toks) - 6, 1))) AS one(u)),
    dup AS (SELECT g FROM ng GROUP BY g HAVING count(*) >= 2),
    sp AS (SELECT doc_id, CAST(s AS BIGINT) AS s, CAST(s + 8 AS BIGINT) AS e
           FROM ng WHERE g IN (SELECT g FROM dup)),
    w AS (SELECT doc_id, s, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS pmax
          FROM sp),
    isl AS (SELECT doc_id, s, e,
                   sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS isl
            FROM w),
    spans AS (SELECT doc_id, max(e) - min(s) AS dup_toks
              FROM isl GROUP BY doc_id, isl),
    per_doc AS (SELECT doc_id, CAST(sum(dup_toks) AS BIGINT) AS dup_toks
                FROM spans GROUP BY doc_id)
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(p.doc_id) AS BIGINT) AS docs_with_dups,
           CAST(coalesce(sum(p.dup_toks), 0) AS BIGINT) AS dup_tokens,
           CAST(sum(len(t.toks)) AS BIGINT) AS total_tokens,
           floor(coalesce(sum(p.dup_toks), 0) * 1e4 / sum(len(t.toks))
                 + 0.5) / 1e4 AS dup_share
    FROM t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    GROUP BY t.source
""")
def q_docs_dup_mass_by_source(spark, sf_dir):
    """Duplicated-token mass per source: the curation signal that ranks
    sources by how much of their token budget sits inside corpus-level
    repeated 8-gram spans (docs_duplicate_spans rolled up) — the input
    to per-source dedup-aggressiveness and mixture decisions. The span
    pass is wordcount-shaped; this adds one doc-level rollup and one
    source-level rollup. dup_share floor-quantized to 1e-4 (ratio of
    exact int64 sums — one division per group)."""
    from nexusbase_spark.pipeline.dedup import duplicate_ngram_spans
    from nexusbase_spark.pipeline.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    spans = duplicate_ngram_spans(docs, n=8, min_count=2)
    per_doc = (spans.groupBy("doc_id")
               .agg(F.sum("span_tokens").alias("dup_toks")))
    base = docs.select("doc_id", "source",
                       F.size(tokens_col(F.col("text"))).alias("__nt"))
    j = base.join(per_doc, "doc_id", "left")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count("dup_toks").alias("docs_with_dups"),
                 F.coalesce(F.sum("dup_toks"), F.lit(0)).cast("long")
                 .alias("dup_tokens"),
                 F.sum("__nt").cast("long").alias("total_tokens"),
                 (F.floor(F.coalesce(F.sum("dup_toks"), F.lit(0))
                          * 1e4 / F.sum("__nt") + F.lit(0.5)) / 1e4)
                 .alias("dup_share")))


@register("docs_dsir_select", """
    WITH g AS (
        SELECT doc_id, source IN ('src1', 'src2') AS tgt,
               unnest(list_transform(t, x ->
                   CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)
                   % 2147483647 % 1024)
                   || list_transform(range(1, greatest(len(t), 1)), i ->
                   CAST(('0x' || substring(md5(t[i] || ' ' || t[i+1]), 1, 15))
                        AS BIGINT) % 2147483647 % 1024)) AS b
        FROM (SELECT doc_id, source,
                     string_split(trim(lower(text)), ' ') AS t
              FROM documents)),
    raw AS (SELECT b, count(*) AS cnt_r FROM g GROUP BY b),
    tgt AS (SELECT b, count(*) AS cnt_t FROM g WHERE tgt GROUP BY b),
    tot AS (SELECT count(*) AS n_r,
                   sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_t FROM g),
    pd AS (
        SELECT g.doc_id,
               sum(ln(coalesce(tgt.cnt_t, 0) + 1.0) - ln(raw.cnt_r + 1.0))
                   AS lr_sum,
               count(*) AS n_grams
        FROM g JOIN raw USING (b) LEFT JOIN tgt USING (b)
        GROUP BY g.doc_id),
    sc AS (
        SELECT doc_id, n_grams,
               lr_sum + n_grams * (ln(n_r + 1024.0) - ln(n_t + 1024.0))
                   AS lam,
               floor((lr_sum + n_grams * (ln(n_r + 1024.0) - ln(n_t + 1024.0))
                      - ln(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                     AS BIGINT) % 2147483647 + 1.0)
                               / 2147483648.0))) * 1e6 + 0.5) / 1e6 AS skey
        FROM pd CROSS JOIN tot)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           floor(lam * 1e4 + 0.5) / 1e4 AS lam,
           floor(skey * 1e4 + 0.5) / 1e4 AS sel_key
    FROM sc ORDER BY skey DESC, doc_id LIMIT 50
""")
def q_docs_dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): choose the 50 docs whose
    hashed-ngram profile looks most like the src1/src2 'curated' target
    — Gumbel-top-k over Laplace-smoothed importance log-weights, with
    the Gumbel noise derived from md5(doc_id) so the resample is seeded
    and the oracle exact. Bucket rollups shuffle m=1024 keys map-combined;
    the fitted models broadcast; no driver collect (see
    pipeline/importance.dsir_select)."""
    from nexusbase_spark.pipeline.importance import dsir_select

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    return dsir_select(docs, F.col("source").isin("src1", "src2"), k=50)


@register("docs_pmi_collocations", """
    WITH t AS (SELECT string_split(trim(lower(text)), ' ') AS t
               FROM documents),
    uni AS (SELECT u AS x, CAST(count(*) AS BIGINT) AS cx
            FROM t, unnest(t.t) AS one(u) GROUP BY u),
    nu AS (SELECT CAST(sum(cx) AS BIGINT) AS n FROM uni),
    bg AS (SELECT t[i] AS x, t[i + 1] AS y
           FROM t, unnest(range(1, greatest(len(t), 1))) AS one(i)),
    bi AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy
           FROM bg GROUP BY x, y HAVING count(*) >= 5),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
    j AS (SELECT b.x, b.y, b.cxy, ux.cx, uy.cx AS cy
          FROM bi b JOIN uni ux ON ux.x = b.x
          JOIN uni uy ON uy.x = b.y)
    SELECT x, y, cxy,
           floor(ln((cxy * 1.0 * (SELECT n FROM nu) * (SELECT n FROM nu))
                    / ((SELECT n FROM nb) * 1.0 * cx * cy))
                 * 1e4 + 0.5) / 1e4 AS pmi
    FROM j
    ORDER BY pmi DESC, x, y LIMIT 20
""")
def q_docs_pmi_collocations(spark, sf_dir):
    """Top-20 collocations by PMI over adjacent token pairs (bigram vs
    unigram MLE marginals, min bigram count 5) — multiword-unit mining
    for tokenizer/vocab decisions. Wordcount-shaped rollups + two
    token-keyed marginal joins + distributed top-k
    (pipeline/text.pmi_collocations)."""
    from nexusbase_spark.pipeline.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, k=20, min_count=5)


@register("docs_top_decile_per_source", """
    WITH s AS (
        SELECT doc_id, source,
               len(string_split(trim(lower(text)), ' ')) AS score,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY len(string_split(trim(lower(text)), ' '))) AS pr
        FROM documents)
    SELECT doc_id, source, CAST(score AS BIGINT) AS score,
           floor(pr * 1e4 + 0.5) / 1e4 AS pr
    FROM s WHERE pr >= 0.9
""")
def q_docs_top_decile_per_source(spark, sf_dir):
    """Per-source rank-normalized quality quota: keep each source's top
    decile by score (token count here; any quality signal slots in).
    Raw scores are incomparable across heterogeneous sources — a global
    threshold would empty the weaker source — so selection normalizes by
    PERCENT RANK within source first: one window over the source
    partitioning, no cross-source shuffle coupling. Ties share a rank on
    both engines (rank depends only on score order)."""
    from nexusbase_spark.pipeline.text import tokens_col
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    score = F.size(tokens_col(F.col("text")))
    w = Window.partitionBy("source").orderBy(score)
    pr = F.percent_rank().over(w)
    # filter on the RAW rank (the oracle filters pre-quantization too —
    # quantize-then-filter would admit 0.89996-ranked rows on one side)
    return (docs.select("doc_id", "source",
                        score.cast("long").alias("score"), pr.alias("__pr"))
            .filter(F.col("__pr") >= 0.9)
            .select("doc_id", "source", "score",
                    (F.floor(F.col("__pr") * 1e4 + F.lit(0.5)) / 1e4)
                    .alias("pr")))


@register("docs_typo_pairs", """
    WITH vocab AS (
        SELECT u AS w, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT string_split(trim(lower(text)), ' ') AS t
              FROM documents),
             unnest(t) AS one(u)
        GROUP BY u),
    corrupt AS (
        SELECT substring(w, 1, 2) || substring(w, 4) AS w,
               CAST(1 AS BIGINT) AS n
        FROM vocab WHERE n >= 20 AND length(w) >= 5),
    aug AS (SELECT w, CAST(sum(n) AS BIGINT) AS n
            FROM (SELECT * FROM vocab UNION ALL SELECT * FROM corrupt)
            GROUP BY w),
    base AS (SELECT w, n FROM aug WHERE length(w) >= 4),
    dels AS (SELECT w, n,
                    CASE WHEN i = 0 THEN w
                         ELSE substring(w, 1, i - 1) || substring(w, i + 1)
                    END AS v
             FROM base, unnest(range(0, length(w) + 1)) AS one(i)),
    cand AS (SELECT DISTINCT a.w AS wa, a.n AS na, b.w AS wb, b.n AS nb
             FROM dels a JOIN dels b ON a.v = b.v AND a.w < b.w),
    pairs AS (SELECT * FROM cand WHERE levenshtein(wa, wb) = 1)
    SELECT CASE WHEN na > nb OR (na = nb AND wa < wb) THEN wb ELSE wa END
               AS rare,
           CASE WHEN na > nb OR (na = nb AND wa < wb) THEN wa ELSE wb END
               AS canon,
           CASE WHEN na > nb OR (na = nb AND wa < wb) THEN nb ELSE na END
               AS rare_n,
           CASE WHEN na > nb OR (na = nb AND wa < wb) THEN na ELSE nb END
               AS canon_n
    FROM pairs
""")
def q_docs_typo_pairs(spark, sf_dir):
    """Typo mining via SymSpell deletion-neighborhood blocking
    (pipeline/text.typo_pairs): edit-distance-1 token pairs mapped
    rare -> canonical. The synthetic vocabulary contains no natural
    typos, so the query INJECTS deterministic corruptions (3rd char
    deleted from every >=20-count word, identically in the oracle) and
    must recover them. Candidates come from a variant-keyed self-join —
    never all-pairs — and only candidates pay levenshtein."""
    from nexusbase_spark.pipeline.text import tokens_col, typo_pairs

    docs = load_table(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(tokens_col(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("n")))
    corrupt = (vocab.filter((F.col("n") >= 20) & (F.length("w") >= 5))
               .select(F.concat(F.col("w").substr(1, 2),
                                F.col("w").substr(F.lit(4),
                                                  F.length("w"))).alias("w"),
                       F.lit(1).cast("long").alias("n")))
    aug = (vocab.unionByName(corrupt)
           .groupBy("w").agg(F.sum("n").alias("n")))
    return typo_pairs(aug, word_col="w", count_col="n", min_len=4)


@register("docs_table_diff", """
    WITH newt AS (
        SELECT doc_id, text, lang, source,
               CASE WHEN doc_id % 31 = 7 THEN n_chars + 1
                    ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 97 <> 3
        UNION ALL
        SELECT doc_id + 1000000, text, lang, source, n_chars
        FROM documents WHERE doc_id % 101 = 5),
    j AS (SELECT o.doc_id AS oid, n.doc_id AS nid,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN NOT (o.text IS NOT DISTINCT FROM n.text
                            AND o.lang IS NOT DISTINCT FROM n.lang
                            AND o.source IS NOT DISTINCT FROM n.source
                            AND o.n_chars IS NOT DISTINCT FROM n.n_chars)
                      THEN 'changed' END AS change
          FROM documents o FULL OUTER JOIN newt n ON n.doc_id = o.doc_id)
    SELECT coalesce(oid, nid) AS doc_id, change
    FROM j WHERE change IS NOT NULL
""")
def q_docs_table_diff(spark, sf_dir):
    """Snapshot diff report: the documents table against a deterministic
    'next version' (drops doc_id%97==3, bumps n_chars where %31==7,
    re-keys %101==5 as additions) — added/removed/changed per row via
    one full-outer join with null-safe column equality
    (pipeline/expectations.table_diff). The migration/replication audit
    primitive; identical rows never leave the join."""
    from nexusbase_spark.pipeline.expectations import table_diff

    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(F.col("doc_id") % 97 != 3)
    changed = kept.withColumn(
        "n_chars", F.when(F.col("doc_id") % 31 == 7,
                          F.col("n_chars") + 1).otherwise(F.col("n_chars")))
    adds = (docs.filter(F.col("doc_id") % 101 == 5)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    "text", "lang", "source", "n_chars"))
    new = changed.unionByName(adds)
    return table_diff(docs, new, "doc_id")


@register("docs_expectations_by_source", """
    WITH g AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS v_text,
               CAST(sum(CASE WHEN lang IS NULL
                             OR lang NOT IN ('en', 'de', 'es', 'fr')
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
               CAST(sum(CASE WHEN n_chars IS NULL
                             OR n_chars < 200 OR n_chars > 1500
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_len
        FROM documents GROUP BY source)
    SELECT source, 'text_not_null' AS check, 'not_null' AS kind,
           'text' AS "column", n_rows, v_text AS violations,
           v_text = 0 AS passed
    FROM g
    UNION ALL
    SELECT source, 'lang_domain', 'in_set', 'lang', n_rows, v_lang,
           v_lang = 0
    FROM g
    UNION ALL
    SELECT source, 'len_range', 'in_range', 'n_chars', n_rows, v_len,
           v_len = 0
    FROM g
""")
def q_docs_expectations_by_source(spark, sf_dir):
    """Per-source contract report: which SOURCE violates the ingest
    contract, not just whether the table does — the trending input for
    per-source quarantine decisions. All checks compile into one
    grouped aggregate (pipeline/expectations.check_expectations_by_group);
    len_range is deliberately tighter than the data so failing rows
    exist."""
    from nexusbase_spark.pipeline.expectations import (
        check_expectations_by_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    return check_expectations_by_group(docs, "source", [
        {"name": "text_not_null", "kind": "not_null", "column": "text"},
        {"name": "lang_domain", "kind": "in_set", "column": "lang",
         "arg": ("en", "de", "es", "fr")},
        {"name": "len_range", "kind": "in_range", "column": "n_chars",
         "arg": (200, 1500)},
    ])


@register("docs_profile", """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    p AS (
        SELECT 'doc_id' AS "column", 'bigint' AS dtype,
               CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
               CAST(min(doc_id) AS DOUBLE) AS num_min,
               CAST(max(doc_id) AS DOUBLE) AS num_max,
               CAST(NULL AS BIGINT) AS len_min, CAST(NULL AS BIGINT) AS len_max
        FROM documents
        UNION ALL
        SELECT 'text', 'string',
               CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT text) AS BIGINT),
               NULL, NULL,
               CAST(min(length(text)) AS BIGINT),
               CAST(max(length(text)) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'lang', 'string',
               CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT lang) AS BIGINT),
               NULL, NULL,
               CAST(min(length(lang)) AS BIGINT),
               CAST(max(length(lang)) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'source', 'string',
               CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT source) AS BIGINT),
               NULL, NULL,
               CAST(min(length(source)) AS BIGINT),
               CAST(max(length(source)) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'n_chars', 'bigint',
               CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT n_chars) AS BIGINT),
               CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
               NULL, NULL
        FROM documents)
    SELECT p."column", p.dtype, n.n AS n_rows, p.n_nulls, p.n_distinct,
           p.num_min, p.num_max, p.len_min, p.len_max
    FROM p, n
""")
def q_docs_profile(spark, sf_dir):
    """Column profile of the documents table — nulls, exact distincts,
    numeric min/max, string length bounds — in ONE aggregate pass
    (pipeline/expectations.profile_table): the first-look report every
    new-table onboarding runs before trusting the data."""
    from nexusbase_spark.pipeline.expectations import profile_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_table(docs)


@register("docs_source_kl", """
    WITH tok AS (SELECT source AS grp,
                        unnest(string_split(trim(lower(text)), ' ')) AS t
                 FROM documents),
    corpus AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS cq FROM tok GROUP BY t),
    sc AS (SELECT grp, t, CAST(count(*) AS BIGINT) AS cs
           FROM tok GROUP BY grp, t),
    gl AS (SELECT CAST(count(*) AS BIGINT) AS v,
                  CAST(sum(cq) AS BIGINT) AS n,
                  sum(ln(cq + 1.0)) AS slncq
           FROM corpus),
    pg AS (SELECT grp, CAST(sum(cs) AS BIGINT) AS ns,
                  CAST(count(*) AS BIGINT) AS vs
           FROM sc GROUP BY grp),
    ag AS (SELECT s.grp, p.ns, p.vs,
                  sum(((s.cs + 1.0) / (p.ns + g.v))
                      * (ln((s.cs + 1.0) / (p.ns + g.v))
                         - (ln(c.cq + 1.0) - ln(g.n + g.v)))) AS s1,
                  sum(ln(c.cq + 1.0) - ln(g.n + g.v)) AS s2,
                  any_value(g.v) AS v, any_value(g.n) AS n,
                  any_value(g.slncq) AS slncq
           FROM sc s JOIN corpus c ON c.t = s.t
           JOIN pg p ON p.grp = s.grp, gl g
           GROUP BY s.grp, p.ns, p.vs)
    SELECT grp AS source, ns AS n_tokens, vs AS vocab_seen,
           floor((s1 + (1.0 / (ns + v))
                  * ((v - vs) * ln(1.0 / (ns + v))
                     - ((slncq - v * ln(n + v)) - s2))) * 1e4 + 0.5) / 1e4
               AS kl
    FROM ag
""")
def q_docs_source_kl(spark, sf_dir):
    """Per-source distribution drift: KL(source unigram LM || corpus
    unigram LM), Laplace-smoothed over the corpus vocabulary — the
    mixture-shift diagnostic behind temperature/mixture re-weighting.
    Absent-token mass closes to a scalar (see importance.source_kl_report)
    so nothing vocab-x-sources materializes; oracle mirrors the exact
    decomposition so both engines fold identical multisets."""
    from nexusbase_spark.pipeline.importance import source_kl_report

    docs = load_table(spark, sf_dir, "documents")
    return source_kl_report(docs, group_col="source")


def _pq_ctes(m_sub: int = 4, k: int = 4, iters: int = 2,
             sub_len: int = 16, include_ev: bool = True,
             src: str = "ev", prefix: str = "") -> str:
    """Per-subspace deterministic k-means + ADC distance tables — the
    exact mirror of pipeline/similarity.pq_encode/pq_topk: each subspace
    runs _kmeans_ctes' unrolled Lloyd loop over its slice (re-indexed
    positions), the probe's distance table is floor-quantized to 6dp
    like the Python side, and codes come from the closing assignment."""
    ctes = [] if not include_ev else [
        "ev AS (SELECT vec_id, r.i - 1 AS pos, CAST(embedding[r.i] AS DOUBLE) AS x"
        " FROM embeddings, range(1, 65) r(i))",
    ]
    pf = prefix
    for s in range(m_sub):
        lo = s * sub_len
        ctes.append(f"{pf}e{s} AS (SELECT vec_id, pos - {lo} AS pos, x FROM {src}"
                    f" WHERE pos >= {lo} AND pos < {lo + sub_len})")
        ctes.append(f"{pf}s{s}c0 AS (SELECT vec_id AS cid, pos, round(x, 6) AS val"
                    f" FROM {pf}e{s} WHERE vec_id < {k})")
        for t in range(1, iters + 2):
            ctes.append(f"""{pf}s{s}d{t} AS (
                SELECT e.vec_id, c.cid,
                       round(sum((e.x - c.val) * (e.x - c.val)), 6) AS dist
                FROM {pf}e{s} e JOIN {pf}s{s}c{t-1} c ON c.pos = e.pos
                GROUP BY e.vec_id, c.cid)""")
            ctes.append(f"""{pf}s{s}a{t} AS (
                SELECT vec_id, cid FROM (
                    SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cid) AS rn
                    FROM {pf}s{s}d{t}) WHERE rn = 1)""")
            if t <= iters:
                ctes.append(f"""{pf}s{s}c{t} AS (
                    SELECT a.cid, e.pos, round(avg(e.x), 6) AS val
                    FROM {pf}s{s}a{t} a JOIN {pf}e{s} e ON e.vec_id = a.vec_id
                    GROUP BY a.cid, e.pos)""")
        # probe subvector (vec_id 0) against the FINAL codebook c{iters}
        ctes.append(f"""{pf}t{s} AS (
            SELECT c.cid,
                   floor(sum((p.x - c.val) * (p.x - c.val)) * 1e6 + 0.5) / 1e6 AS d
            FROM {pf}s{s}c{iters} c JOIN {pf}e{s} p ON p.pos = c.pos AND p.vec_id = 0
            GROUP BY c.cid)""")
    return ",\n    ".join(ctes)


@register("embed_pq_topk", f"""
    WITH {_pq_ctes(m_sub=4, k=4, iters=2, sub_len=16)}
    SELECT a0.vec_id,
           floor((t0.d + t1.d + t2.d + t3.d) * 1e4 + 0.5) / 1e4 AS adist
    FROM s0a3 a0
    JOIN s1a3 a1 USING (vec_id) JOIN s2a3 a2 USING (vec_id)
    JOIN s3a3 a3 USING (vec_id)
    JOIN t0 ON t0.cid = a0.cid JOIN t1 ON t1.cid = a1.cid
    JOIN t2 ON t2.cid = a2.cid JOIN t3 ON t3.cid = a3.cid
    WHERE a0.vec_id <> 0
    ORDER BY t0.d + t1.d + t2.d + t3.d, a0.vec_id LIMIT 10
""")
def q_embed_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011): 4 subspaces x 4
    codes, deterministic per-subspace Lloyd training, asymmetric-distance
    scan — every vector scored by 4 table lookups on codes 64x smaller
    than the raw floats (pipeline/similarity.pq_topk). The memory-bound
    scale path beyond int8: at 100 TB the codes table is ~1.5 GB/billion
    vectors and the codebooks are literals in the plan. Training is
    memoized per sf_dir (an index build, shared with the rerank query)."""
    from nexusbase_spark.pipeline.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, _probe_vec(spark, sf_dir), k=10,
                   m_sub=4, k_codes=4, iters=2, exclude_id=0,
                   encoded=_pq_trained(spark, sf_dir))


@register("embed_pq_rerank_topk", f"""
    WITH {_pq_ctes(m_sub=4, k=4, iters=2, sub_len=16)},
    sc AS (
        SELECT a0.vec_id, t0.d + t1.d + t2.d + t3.d AS adist
        FROM s0a3 a0
        JOIN s1a3 a1 USING (vec_id) JOIN s2a3 a2 USING (vec_id)
        JOIN s3a3 a3 USING (vec_id)
        JOIN t0 ON t0.cid = a0.cid JOIN t1 ON t1.cid = a1.cid
        JOIN t2 ON t2.cid = a2.cid JOIN t3 ON t3.cid = a3.cid
        WHERE a0.vec_id <> 0),
    short AS (SELECT vec_id FROM sc ORDER BY adist, vec_id LIMIT 100),
    ex AS (
        SELECT e.vec_id, sum((e.x - p.x) * (e.x - p.x)) AS dist
        FROM ev e JOIN short USING (vec_id)
        JOIN ev p ON p.vec_id = 0 AND p.pos = e.pos
        GROUP BY e.vec_id)
    SELECT vec_id, floor(dist * 1e4 + 0.5) / 1e4 AS dist
    FROM ex ORDER BY dist, vec_id LIMIT 10
""")
def q_embed_pq_rerank_topk(spark, sf_dir):
    """PQ serving path: ADC shortlist (100 candidates by table-lookup
    distance) re-scored by exact L2 — the two-stage retrieval every PQ
    deployment runs, because tiny codebooks alias vectors to identical
    codes and pure ADC top-k saturates at code resolution (recall
    measured in SCALE.md). Exact math touches 100 rows, not the corpus."""
    from nexusbase_spark.pipeline.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, _probe_vec(spark, sf_dir), k=10,
                   m_sub=4, k_codes=4, iters=2, exclude_id=0, rerank=100,
                   encoded=_pq_trained(spark, sf_dir))


# IVFPQ serving-path CTEs (coarse route -> ADC scan -> 100-candidate
# shortlist -> exact cosine components) — shared verbatim between the
# embed_ivfpq_topk gate query and the composed embed_ivfpq_mmr_topk
# pipeline so the two oracles can never drift apart.
_IVFPQ_SHORTLIST_CTES = f"""{_kmeans_ctes(k=4, iters=3)},
    {_pq_ctes(m_sub=4, k=4, iters=2, sub_len=16, include_ev=False)},
    probe AS (SELECT pos, x AS pv FROM ev WHERE vec_id = 0),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM probe),
    dim AS (
        SELECT cl.cid, e.pos, avg(e.x) AS m
        FROM clusters cl JOIN ev e ON e.vec_id = cl.vec_id
        GROUP BY cl.cid, e.pos),
    cs AS (
        SELECT d.cid, sum(d.m * p.pv) / (sqrt(sum(d.m * d.m)) * any_value(pn.n)) AS c
        FROM dim d JOIN probe p ON p.pos = d.pos, pn GROUP BY d.cid),
    best AS (SELECT cid FROM cs ORDER BY c DESC, cid LIMIT 2),
    adc AS (
        SELECT a0.vec_id, t0.d + t1.d + t2.d + t3.d AS adist
        FROM s0a3 a0
        JOIN s1a3 a1 USING (vec_id) JOIN s2a3 a2 USING (vec_id)
        JOIN s3a3 a3 USING (vec_id)
        JOIN t0 ON t0.cid = a0.cid JOIN t1 ON t1.cid = a1.cid
        JOIN t2 ON t2.cid = a2.cid JOIN t3 ON t3.cid = a3.cid
        JOIN clusters cl ON cl.vec_id = a0.vec_id
                        AND cl.cid IN (SELECT cid FROM best)
        WHERE a0.vec_id <> 0),
    short AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 100),
    m AS (
        SELECT e.vec_id,
               sum(e.x * p.pv) AS dot,
               sqrt(sum(e.x * e.x)) AS vn
        FROM ev e JOIN short USING (vec_id)
        JOIN probe p ON p.pos = e.pos
        GROUP BY e.vec_id)"""


@register("embed_ivfpq_topk", f"""
    WITH {_IVFPQ_SHORTLIST_CTES}
    SELECT vec_id, round(dot / (vn * (SELECT n FROM pn)), 4) AS cosine FROM m
    ORDER BY dot / (vn * (SELECT n FROM pn)) DESC, vec_id LIMIT 10
""")
def q_embed_ivfpq_topk(spark, sf_dir):
    """FAISS-IVFPQ end to end from the materialized index: coarse
    routing prunes cluster FILES, the in-cluster ADC scan reads only the
    stored pq codes (parquet column pruning keeps raw vectors unread),
    the 100-candidate shortlist re-ranks by exact cosine. Same routing
    quantizer as embed_vecindex_topk, same PQ codebooks as
    embed_pq_topk — the composition changes I/O, never the answer
    (pipeline/vecindex.VectorIndex.search_pq)."""
    out = _ivfpq_index(spark, sf_dir).search_pq(
        _probe_vec(spark, sf_dir), k=10, nprobe=2, rerank=100,
        exclude_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


def _ivfpq_index(spark, sf_dir):
    """Memoized IVFPQ VectorIndex build per sf_dir (an index build is a
    pipeline step, not query work — shared by every serving query)."""
    import tempfile

    from nexusbase_spark.pipeline.vecindex import VectorIndex

    key = (sf_dir, "pq")
    if key not in _VECINDEX_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="nexusbase_ivfpq_")
        _VECINDEX_CACHE[key] = VectorIndex.build(
            spark, path, emb, nlist=4, iters=3,
            pq_m=4, pq_codes=4, pq_iters=2)
    return _VECINDEX_CACHE[key]


@register("embed_ivfpq_mmr_topk", _mmr_oracle(
    k=5, n_short=20, pre_ctes=_IVFPQ_SHORTLIST_CTES,
    cand_sql="""cand AS MATERIALIZED (
        SELECT m.vec_id AS id,
               CAST(floor(m.dot / (m.vn * (SELECT n FROM pn)) * 1e4 + 0.5)
                    AS BIGINT) AS rel,
               e.embedding AS emb
        FROM m JOIN embeddings e ON e.vec_id = m.vec_id
        ORDER BY m.dot / (m.vn * (SELECT n FROM pn)) DESC, m.vec_id
        LIMIT 20)"""))
def q_embed_ivfpq_mmr_topk(spark, sf_dir):
    """The serving path composed end to end (VERDICT r4 next #8): IVFPQ
    index (coarse file-pruned routing -> ADC code scan -> exact-cosine
    re-rank) produces the 20-candidate shortlist, MMR (lambda = 1/2)
    diversifies it to the final 5 — retrieval as a deployment runs it,
    oracle-checked as a PIPELINE rather than stage by stage. The MMR
    epilogue stays shortlist-sized by construction (20 ids + 190 pair
    sims on the driver); everything corpus-sized happens in the
    index scan. Oracle = the shared IVFPQ shortlist CTEs + the shared
    unrolled greedy MMR, composed the same way."""
    from nexusbase_spark.pipeline.search import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    sl = _ivfpq_index(spark, sf_dir).search_pq(
        _probe_vec(spark, sf_dir), k=20, nprobe=2, rerank=100,
        exclude_id=0)
    sl = sl.join(emb.select("vec_id", "embedding"), "vec_id")
    return mmr_select(sl, k=5, id_col="vec_id", rel_col="cosine",
                      vec_col="embedding")


@register("embed_ivfpq_residual_topk", f"""
    WITH {_kmeans_ctes(k=4, iters=3)},
    cents6 AS (
        SELECT cl.cid, e.pos, round(avg(e.x), 6) AS v
        FROM clusters cl JOIN ev e ON e.vec_id = cl.vec_id
        GROUP BY cl.cid, e.pos),
    r_ev AS (
        SELECT e.vec_id, e.pos, e.x - c6.v AS x
        FROM ev e JOIN clusters cl ON cl.vec_id = e.vec_id
        JOIN cents6 c6 ON c6.cid = cl.cid AND c6.pos = e.pos),
    {_pq_ctes(m_sub=4, k=4, iters=2, sub_len=16, include_ev=False,
              src="r_ev", prefix="r")},
    probe AS (SELECT pos, x AS pv FROM ev WHERE vec_id = 0),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM probe),
    dim AS (
        SELECT cl.cid, e.pos, avg(e.x) AS m
        FROM clusters cl JOIN ev e ON e.vec_id = cl.vec_id
        GROUP BY cl.cid, e.pos),
    cs AS (
        SELECT d.cid, sum(d.m * p.pv) / (sqrt(sum(d.m * d.m)) * any_value(pn.n)) AS c
        FROM dim d JOIN probe p ON p.pos = d.pos, pn GROUP BY d.cid),
    best AS (SELECT cid FROM cs ORDER BY c DESC, cid LIMIT 2),
    tr0 AS (
        SELECT c6.cid AS rcid, cb.cid AS code,
               floor(sum((p.pv - c6.v - cb.val) * (p.pv - c6.v - cb.val))
                     * 1e6 + 0.5) / 1e6 AS d
        FROM cents6 c6
        JOIN probe p ON p.pos = c6.pos
        JOIN rs0c2 cb ON cb.pos = c6.pos - 0
        WHERE c6.pos >= 0 AND c6.pos < 16
        GROUP BY c6.cid, cb.cid),
    tr1 AS (
        SELECT c6.cid AS rcid, cb.cid AS code,
               floor(sum((p.pv - c6.v - cb.val) * (p.pv - c6.v - cb.val))
                     * 1e6 + 0.5) / 1e6 AS d
        FROM cents6 c6
        JOIN probe p ON p.pos = c6.pos
        JOIN rs1c2 cb ON cb.pos = c6.pos - 16
        WHERE c6.pos >= 16 AND c6.pos < 32
        GROUP BY c6.cid, cb.cid),
    tr2 AS (
        SELECT c6.cid AS rcid, cb.cid AS code,
               floor(sum((p.pv - c6.v - cb.val) * (p.pv - c6.v - cb.val))
                     * 1e6 + 0.5) / 1e6 AS d
        FROM cents6 c6
        JOIN probe p ON p.pos = c6.pos
        JOIN rs2c2 cb ON cb.pos = c6.pos - 32
        WHERE c6.pos >= 32 AND c6.pos < 48
        GROUP BY c6.cid, cb.cid),
    tr3 AS (
        SELECT c6.cid AS rcid, cb.cid AS code,
               floor(sum((p.pv - c6.v - cb.val) * (p.pv - c6.v - cb.val))
                     * 1e6 + 0.5) / 1e6 AS d
        FROM cents6 c6
        JOIN probe p ON p.pos = c6.pos
        JOIN rs3c2 cb ON cb.pos = c6.pos - 48
        WHERE c6.pos >= 48 AND c6.pos < 64
        GROUP BY c6.cid, cb.cid),
    adc AS (
        SELECT a0.vec_id, tr0.d + tr1.d + tr2.d + tr3.d AS adist
        FROM rs0a3 a0
        JOIN rs1a3 a1 USING (vec_id) JOIN rs2a3 a2 USING (vec_id)
        JOIN rs3a3 a3 USING (vec_id)
        JOIN clusters cl ON cl.vec_id = a0.vec_id
                        AND cl.cid IN (SELECT cid FROM best)
        JOIN tr0 ON tr0.rcid = cl.cid AND tr0.code = a0.cid
        JOIN tr1 ON tr1.rcid = cl.cid AND tr1.code = a1.cid
        JOIN tr2 ON tr2.rcid = cl.cid AND tr2.code = a2.cid
        JOIN tr3 ON tr3.rcid = cl.cid AND tr3.code = a3.cid
        WHERE a0.vec_id <> 0),
    short AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 100),
    m AS (
        SELECT e.vec_id,
               sum(e.x * p.pv) AS dot,
               sqrt(sum(e.x * e.x)) AS vn
        FROM ev e JOIN short USING (vec_id)
        JOIN probe p ON p.pos = e.pos
        GROUP BY e.vec_id)
    SELECT vec_id, round(dot / (vn * (SELECT n FROM pn)), 4) AS cosine FROM m
    ORDER BY dot / (vn * (SELECT n FROM pn)) DESC, vec_id LIMIT 10
""")
def q_embed_ivfpq_residual_topk(spark, sf_dir):
    """Canonical IVFADC (residual-coded IVFPQ, Jégou et al. 2011 §IV):
    codes quantize x - centroid(cluster(x)), so the code budget covers
    only within-cluster spread — measurably finer than raw-vector PQ
    (test_ivfpq_residual_serving_and_finer_quantization). The probe's
    distance tables become per-probed-cluster (q - centroid_c residual
    space) — still driver-built literals, nprobe*k_codes entries, one
    map lookup per subspace in the codes-only scan."""
    import tempfile

    from nexusbase_spark.pipeline.vecindex import VectorIndex

    key = (sf_dir, "pq_res")
    if key not in _VECINDEX_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="nexusbase_ivfpq_res_")
        _VECINDEX_CACHE[key] = VectorIndex.build(
            spark, path, emb, nlist=4, iters=3,
            pq_m=4, pq_codes=4, pq_iters=2, pq_residual=True)
    idx = _VECINDEX_CACHE[key]
    out = idx.search_pq(_probe_vec(spark, sf_dir), k=10, nprobe=2,
                        rerank=100, exclude_id=0)
    return out.withColumn("cosine", F.round(F.col("cosine"), 4))


# shared SQL fragment for the eval triad (kappa/calibration/AUC): the
# classifier margin z (docs_quality_classifier), re-derived per doc
def _cls_z_sql() -> str:
    return f"""
    SELECT doc_id,
           -1.0 + 5.0 * stopword_ratio + -6.0 * digit_ratio
                + -2.0 * punct_ratio + -8.0 * rep
                + 0.6 * ln(n_tokens + 1.0) AS z
    FROM (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, x -> list_contains(
                   [{", ".join(repr(w) for w in _STOP_ALL)}], x)))
                   / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
               (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                   / CAST(length(text) AS DOUBLE) AS digit_ratio,
               (length(text)
                - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / CAST(length(text) AS DOUBLE) AS punct_ratio,
               CASE WHEN len(grams) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                         / len(grams) END AS rep
        FROM (
            SELECT doc_id, text, toks,
                   list_transform(range(1, greatest(len(toks), 1)),
                                  i -> toks[i] || ' ' || toks[i+1]) AS grams
            FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
                  FROM documents)))
"""


# gold labels for the kappa/calibration/AUC eval triad: the corpus-tuned
# rule chain (quality_filter_exprs), NOT the published Gopher rules — the
# Gopher min-50-words rule keeps ZERO docs on this short-doc corpus, which
# would algebraically force kappa to 0 and every calibration bin's
# pos_rate to 0 (a gold that can't detect a classifier regression —
# ADVICE r5). docs_gopher_rules still gates the rules themselves.
_QF_KEEP_SQL = _QF_RULES_SQL.format(
    stops=", ".join(repr(w) for w in _STOP_ALL))


@register("docs_quality_kappa", f"""
    WITH gold AS (SELECT doc_id, keep AS keep_gold FROM ({_QF_KEEP_SQL})),
    pred AS (SELECT doc_id, z > 0 AS keep_pred FROM ({_cls_z_sql()})),
    conf AS (
        SELECT count(*) AS n,
               sum(CASE WHEN keep_gold AND keep_pred THEN 1 ELSE 0 END)
                   AS n11,
               sum(CASE WHEN keep_gold AND NOT keep_pred THEN 1 ELSE 0 END)
                   AS n10,
               sum(CASE WHEN NOT keep_gold AND keep_pred THEN 1 ELSE 0 END)
                   AS n01,
               sum(CASE WHEN NOT keep_gold AND NOT keep_pred THEN 1 ELSE 0
                   END) AS n00
        FROM gold JOIN pred USING (doc_id))
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           floor((n * (n11 + n00) - ((n11 + n10) * (n11 + n01)
                                     + (n01 + n00) * (n10 + n00)))
                 / CAST(n * n - ((n11 + n10) * (n11 + n01)
                                 + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                 * 1e4 + 0.5) / 1e4 AS kappa
    FROM conf
""")
def q_docs_quality_kappa(spark, sf_dir):
    """Cohen's kappa agreement between the two quality filters the repo
    ships (the corpus-tuned rule chain vs the model-based classifier
    verdict) -- the rater-agreement check a curation pipeline runs
    before trusting either filter alone, and the standard way to
    compare a cheap heuristic against a learned scorer. Gold is
    quality_filter_exprs, as in docs_quality_auc: the published Gopher
    rules keep zero docs here (min 50 words on a short-doc corpus),
    which would force kappa to exactly 0 regardless of the classifier
    (ADVICE r5). The whole statistic is
    one map-side-combined aggregation over scan-speed expressions (both
    verdicts are integer-compare flags -- quality_filter_exprs /
    classifier_margin); kappa is computed as ONE exact int64 rational
    (N*(n11+n00) - (g1*c1 + g0*c0)) / (N^2 - ...) with a single final
    division, so no float path exists before the 4dp quantize. N^2
    must fit int64 -- fine to ~3e9 docs; beyond that, compute in
    per-shard confusion counts and combine (same formula)."""
    from nexusbase_spark.pipeline.text import (classifier_margin,
                                               quality_filter_exprs,
                                               tokens_col)

    docs = load_table(spark, sf_dir, "documents")
    # pre-project the two verdict booleans below the aggregate: inlined,
    # each of the four confusion sums re-derived BOTH full verdicts and
    # the plan carried 248 split() copies (aggregate-over-project is not
    # collapsed when the aliases are non-cheap and multiply-referenced,
    # same mechanism as simhash/text_quality — r9)
    base = docs.select("text", tokens_col(F.col("text")).alias("__toks"))
    flags = base.select(
        quality_filter_exprs(F.col("text"), toks=F.col("__toks"))["keep"]
        .alias("__gold"),
        (classifier_margin(F.col("text"), toks=F.col("__toks")) > 0)
        .alias("__pred"))
    gold, pred = F.col("__gold"), F.col("__pred")
    b = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    conf = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(b(gold & pred)).alias("n11"),
        F.sum(b(gold & ~pred)).alias("n10"),
        F.sum(b(~gold & pred)).alias("n01"),
        F.sum(b(~gold & ~pred)).alias("n00"))
    agree = F.col("n11") + F.col("n00")
    chance = ((F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
              + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00")))
    kappa = (F.floor((F.col("n") * agree - chance)
                     / (F.col("n") * F.col("n") - chance).cast("double")
                     * 1e4 + F.lit(0.5)) / 1e4)
    return conf.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        kappa.alias("kappa"))


# sigmoid bin edges as logit literals — canonical copy lives in
# pipeline/text.LOGIT_EDGE_LITERALS (shared with the streaming
# quality-mix monitor); comparing the bit-identical margin z against
# shared double literals needs NO exp() for binning
from nexusbase_spark.pipeline.text import LOGIT_EDGE_LITERALS

_LOGIT_EDGES = list(LOGIT_EDGE_LITERALS)


@register("docs_calibration_bins", f"""
    WITH z AS ({_cls_z_sql()}),
    gold AS (SELECT doc_id, keep AS keep_gold FROM ({_QF_KEEP_SQL})),
    b AS (SELECT z.doc_id,
                 CAST({" + ".join(f"(CASE WHEN z.z >= {e} THEN 1 ELSE 0 END)"
                                  for e in _LOGIT_EDGES)} AS BIGINT) AS bin,
                 CAST(floor(1.0 / (1.0 + exp(-z.z)) * 1e6 + 0.5) AS BIGINT)
                     AS pq,
                 CASE WHEN gold.keep_gold THEN 1 ELSE 0 END AS y
          FROM z JOIN gold ON gold.doc_id = z.doc_id)
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           floor(sum(pq) / (count(*) * 1e6) * 1e4 + 0.5) / 1e4 AS mean_p,
           floor(sum(y) / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4
               AS pos_rate
    FROM b GROUP BY bin
""")
def q_docs_calibration_bins(spark, sf_dir):
    """Reliability (calibration) curve for the quality classifier
    against the corpus-tuned rule chain (quality_filter_exprs) as gold
    labels -- the Gopher rules keep zero docs on this short-doc corpus,
    which would pin every bin's pos_rate at 0 (ADVICE r5): 10
    probability bins, each
    with predicted-probability mean vs empirical positive rate -- the
    standard check before using a scorer's probabilities for
    temperature sampling or DSIR weighting rather than just its
    ranking. Binning compares the bit-identical margin z against
    shared logit LITERALS (no exp() on the binning path, so a bin can
    never flip on a libm ulp); only the reported mean_p pays sigmoid,
    integer-lattice summed then 4dp-quantized. One scan, one
    map-side-combined groupBy over <=10 cells."""
    from nexusbase_spark.pipeline.text import (classifier_margin,
                                               quality_filter_exprs,
                                               tokens_col)

    docs = load_table(spark, sf_dir, "documents")
    # three-level select: tokenize once, score once, then derive bin /
    # pq / y from the scored columns — inlined, the 10 bin-edge
    # comparisons each re-derived the whole margin and the plan carried
    # 166 split() copies (r9)
    base = docs.select("text", tokens_col(F.col("text")).alias("__toks"))
    scored = base.select(
        classifier_margin(F.col("text"), toks=F.col("__toks")).alias("__z"),
        quality_filter_exprs(F.col("text"),
                             toks=F.col("__toks"))["keep"].alias("__gold"))
    z, gold = F.col("__z"), F.col("__gold")
    bin_ = sum((F.when(z >= float(e), 1).otherwise(0)
                for e in _LOGIT_EDGES), F.lit(0)).cast("long")
    pq = F.floor(1.0 / (1.0 + F.exp(-z)) * 1e6 + F.lit(0.5)).cast("long")
    y = F.when(gold, 1).otherwise(0)
    b = scored.select(bin_.alias("bin"), pq.alias("pq"), y.alias("y"))
    return (b.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 (F.floor(F.sum("pq") / (F.count(F.lit(1)) * 1e6) * 1e4
                          + F.lit(0.5)) / 1e4).alias("mean_p"),
                 (F.floor(F.sum("y") / F.count(F.lit(1)).cast("double")
                          * 1e4 + F.lit(0.5)) / 1e4).alias("pos_rate")))


@register("docs_heaps_law", """
    WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
    d AS (SELECT doc_id,
                 CAST(doc_id * 10 // (SELECT m FROM mx) AS BIGINT) AS tile,
                 string_split(trim(lower(text)), ' ') AS toks
          FROM documents),
    per_tile AS (SELECT tile, sum(len(toks)) AS toks_in_tile
                 FROM d GROUP BY tile),
    firsts AS (SELECT min(tile) AS first_tile
               FROM (SELECT unnest(toks) AS token, tile FROM d)
               GROUP BY token),
    news AS (SELECT first_tile AS tile, count(*) AS new_in_tile
             FROM firsts GROUP BY first_tile),
    cum AS (SELECT p.tile,
                   sum(p.toks_in_tile) OVER (ORDER BY p.tile) AS cum_tokens,
                   sum(coalesce(nw.new_in_tile, 0)) OVER (ORDER BY p.tile)
                       AS cum_vocab
            FROM per_tile p LEFT JOIN news nw ON nw.tile = p.tile),
    lat AS (SELECT tile, cum_tokens, cum_vocab,
                   CAST(floor(ln(cum_tokens) * 1e6 + 0.5) AS BIGINT) AS lx,
                   CAST(floor(ln(cum_vocab) * 1e6 + 0.5) AS BIGINT) AS ly
            FROM cum),
    ols AS (SELECT count(*) AS k, sum(lx) AS sx, sum(ly) AS sy,
                   sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
            FROM lat)
    SELECT lat.tile, CAST(lat.cum_tokens AS BIGINT) AS cum_tokens,
           CAST(lat.cum_vocab AS BIGINT) AS cum_vocab,
           floor((ols.k * ols.sxy - ols.sx * ols.sy)
                 / CAST(ols.k * ols.sxx - ols.sx * ols.sx AS DOUBLE)
                 * 1e4 + 0.5) / 1e4 AS heaps_beta
    FROM lat, ols
""")
def q_docs_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary growth: cumulative distinct tokens vs
    cumulative token count at 10 corpus checkpoints, plus the fitted
    Heaps exponent (log-log OLS slope) -- the curve a tokenizer-budget
    or vocab-size decision reads before training. Scale shape: docs
    are bucketed into 10 STATIC doc_id ranges (no global row ordering
    anywhere); per-bucket token sums and per-token first-bucket are
    two wordcount-shaped rollups; the cumulative window and the OLS
    run over exactly 10 rows. 'Cumulative distinct' never materializes
    running sets -- a token's first occurrence is min(bucket), so the
    vocab delta per bucket is a count. OLS is integer-lattice
    (quantized lns summed as int64 -- order-exact), one division at
    the end."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    m = docs.agg((F.max("doc_id") + 1).alias("m")).collect()[0]["m"]
    d = docs.select(
        "doc_id",
        F.floor(F.col("doc_id") * 10 / F.lit(int(m))).cast("long")
        .alias("tile"),
        F.split(F.trim(F.lower(F.col("text"))), " ").alias("toks"))
    per_tile = d.groupBy("tile").agg(
        F.sum(F.size("toks")).alias("toks_in_tile"))
    firsts = (d.select("tile", F.explode("toks").alias("token"))
              .groupBy("token").agg(F.min("tile").alias("first_tile")))
    news = firsts.groupBy(F.col("first_tile").alias("tile")).agg(
        F.count(F.lit(1)).alias("new_in_tile"))
    w = Window.orderBy("tile").rowsBetween(Window.unboundedPreceding, 0)
    cum = (per_tile.join(news, "tile", "left")
           .select("tile",
                   F.sum("toks_in_tile").over(w).alias("cum_tokens"),
                   F.sum(F.coalesce(F.col("new_in_tile"), F.lit(0)))
                   .over(w).alias("cum_vocab")))
    # 10-row checkpoint: the OLS aggregate and the checkpoint-row output
    # both reference lat — without it each reference re-runs both
    # corpus-wide rollups
    lat = cum.select(
        "tile", F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
        F.floor(F.log(F.col("cum_tokens")) * 1e6 + F.lit(0.5)).cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("cum_vocab")) * 1e6 + F.lit(0.5)).cast("long")
        .alias("ly")).localCheckpoint(eager=True)
    ols = lat.agg(F.count(F.lit(1)).alias("k"), F.sum("lx").alias("sx"),
                  F.sum("ly").alias("sy"),
                  F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
                  F.sum(F.col("lx") * F.col("lx")).alias("sxx"))
    beta = (F.floor((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / (F.col("k") * F.col("sxx")
                       - F.col("sx") * F.col("sx")).cast("double")
                    * 1e4 + F.lit(0.5)) / 1e4)
    # lint: k-row (10 checkpoint rows x 1 OLS row)
    return (lat.crossJoin(ols.select(beta.alias("heaps_beta")))
            .select("tile", "cum_tokens", "cum_vocab", "heaps_beta"))


@register("embed_centroid_drift", """
    WITH mx AS (SELECT max(vec_id) + 1 AS m FROM embeddings),
    q AS (SELECT CAST(vec_id * 8 // (SELECT m FROM mx) AS BIGINT) AS batch,
                 unnest(range(len(embedding))) AS pos,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e4 + 0.5)
                      AS BIGINT) AS eq
          FROM embeddings),
    s AS (SELECT batch, pos, sum(eq) AS s FROM q GROUP BY batch, pos),
    n AS (SELECT batch, count(*) AS n
          FROM (SELECT DISTINCT CAST(vec_id * 8 // (SELECT m FROM mx)
                                     AS BIGINT) AS batch, vec_id
                FROM embeddings)
          GROUP BY batch),
    pairs AS (SELECT a.batch AS batch_from, b.batch AS batch_to,
                     sum(a.s * b.s) AS sxy,
                     sum(a.s * a.s) AS sxx,
                     sum(b.s * b.s) AS syy
              FROM s a JOIN s b ON b.batch = a.batch + 1 AND b.pos = a.pos
              GROUP BY a.batch, b.batch)
    SELECT p.batch_from, p.batch_to,
           CAST(na.n AS BIGINT) AS n_from, CAST(nb.n AS BIGINT) AS n_to,
           floor(p.sxy / (sqrt(CAST(p.sxx AS DOUBLE)) * sqrt(p.syy))
                 * 1e4 + 0.5) / 1e4 AS cosine
    FROM pairs p
    JOIN n na ON na.batch = p.batch_from
    JOIN n nb ON nb.batch = p.batch_to
""")
def q_embed_centroid_drift(spark, sf_dir):
    """Embedding centroid drift: cosine similarity between the mean
    vectors of consecutive ingestion batches (vec_id bucketed into 8
    static ranges) -- the embedding-space analogue of the PSI drift
    monitor, catching encoder-version skew or upstream distribution
    shift before it poisons ANN recall. Scale shape: posexplode +
    groupBy(batch, pos) is the same map-side-combined distributed mean
    as embed_label_centroids (the shuffle carries one row per
    batch*dim, never vectors); the consecutive-batch join is over
    8*dim rows. Cosine is computed on INT64 lattice sums (elements
    floor-quantized at 1e-4; the per-batch count cancels in the
    ratio), so both engines feed sqrt identical integers -- order-exact
    with two sqrts and one division, 4dp-quantized. Int64 headroom:
    sum(S^2) <= dims*(n_batch*1e4)^2 -- fine to ~1M vectors/batch at 64
    dims; beyond that drop the lattice to 1e3 or fold in doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.agg((F.max("vec_id") + 1).alias("m")).collect()[0]["m"]
    batch = F.floor(F.col("vec_id") * 8 / F.lit(int(m))).cast("long")
    q = emb.select(batch.alias("batch"),
                   F.posexplode("embedding").alias("pos", "e"))
    # batch x dim rollup, eagerly checkpointed: both join sides and the
    # per-batch counts derive from it — ONE embeddings scan. Every
    # vector contributes one element per pos, so count per (batch, pos)
    # IS the batch's vector count (no separate counting scan).
    s = (q.select("batch", "pos",
                  F.floor(F.col("e").cast("double") * 1e4 + F.lit(0.5))
                  .cast("long").alias("eq"))
         .groupBy("batch", "pos").agg(F.sum("eq").alias("s"),
                                      F.count(F.lit(1)).alias("cnt"))
         .localCheckpoint(eager=True))
    n = s.groupBy("batch").agg(F.first("cnt").alias("n"))
    a, b = s.alias("a"), s.alias("b")
    pairs = (a.join(b, (F.col("b.batch") == F.col("a.batch") + 1)
                    & (F.col("b.pos") == F.col("a.pos")))
             .groupBy(F.col("a.batch").alias("batch_from"),
                      F.col("b.batch").alias("batch_to"))
             .agg(F.sum(F.col("a.s") * F.col("b.s")).alias("sxy"),
                  F.sum(F.col("a.s") * F.col("a.s")).alias("sxx"),
                  F.sum(F.col("b.s") * F.col("b.s")).alias("syy")))
    cos = (F.floor(F.col("sxy") / (F.sqrt(F.col("sxx").cast("double"))
                                   * F.sqrt(F.col("syy").cast("double")))
                   * 1e4 + F.lit(0.5)) / 1e4)
    na = n.select(F.col("batch").alias("batch_from"),
                  F.col("n").cast("long").alias("n_from"))
    nb = n.select(F.col("batch").alias("batch_to"),
                  F.col("n").cast("long").alias("n_to"))
    # lint: k-row (8 batches -> 7 consecutive pairs)
    return (pairs.join(na, "batch_from").join(nb, "batch_to")
            .select("batch_from", "batch_to", "n_from", "n_to",
                    cos.alias("cosine")))


@register("embed_ivf_recall", """
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
    pr AS MATERIALIZED (SELECT r.i AS pos, CAST(p[r.i] AS DOUBLE) AS pv
          FROM probe, range(1, 65) r(i)),
    pn AS (SELECT sqrt(sum(pv * pv)) AS n FROM pr),
    brute AS (
        SELECT v.vec_id,
               sum(CAST(v.embedding[pr.pos] AS DOUBLE) * pr.pv)
                   / (sqrt(sum(CAST(v.embedding[pr.pos] AS DOUBLE) ** 2))
                      * any_value(pn.n)) AS c
        FROM embeddings v, pr, pn
        WHERE v.vec_id <> 0
        GROUP BY v.vec_id),
    btop AS (SELECT vec_id FROM brute ORDER BY c DESC, vec_id LIMIT 10),
    dim AS (SELECT label, r.i AS pos,
                   avg(CAST(embedding[r.i] AS DOUBLE)) AS m
            FROM embeddings, range(1, 65) r(i) GROUP BY label, r.i),
    cs AS (SELECT d.label,
                  sum(d.m * pr.pv)
                      / (sqrt(sum(d.m * d.m)) * any_value(pn.n)) AS c
           FROM dim d JOIN pr ON pr.pos = d.pos, pn GROUP BY d.label),
    best AS (SELECT label FROM cs ORDER BY c DESC, label LIMIT 2),
    iv AS (
        SELECT v.vec_id,
               sum(CAST(v.embedding[pr.pos] AS DOUBLE) * pr.pv)
                   / (sqrt(sum(CAST(v.embedding[pr.pos] AS DOUBLE) ** 2))
                      * any_value(pn.n)) AS c
        FROM embeddings v, pr, pn
        WHERE v.vec_id <> 0 AND v.label IN (SELECT label FROM best)
        GROUP BY v.vec_id),
    itop AS (SELECT vec_id FROM iv ORDER BY c DESC, vec_id LIMIT 10)
    SELECT CAST(10 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           floor(count(*) / 10.0 * 1e4 + 0.5) / 1e4 AS recall
    FROM btop JOIN itop USING (vec_id)
""")
def q_embed_ivf_recall(spark, sf_dir):
    """ANN recall measured IN-ENGINE: the IVF-pruned top-10 joined
    against the exact brute-force top-10 for the same probe, reported
    as recall@10 — the eval a serving deployment runs continuously to
    catch recall regressions from partition drift (the offline
    recall-vs-regime table lives in SCALE.md; this makes the metric a
    gate-checked query). Both shortlists reuse the exact constructions
    already gated as embed_cosine_topk / embed_ivf_topk (identical tie
    order: cosine DESC, vec_id), so the intersection is deterministic;
    the join is 10x10 rows. Cost = one brute pass + one pruned pass —
    this is an EVAL query run on samples, not a serving path."""
    from nexusbase_spark.pipeline.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    p = _probe_vec(spark, sf_dir)
    btop = cosine_topk(emb, p, k=10, exclude_id=0).select("vec_id")
    itop = ivf_topk(emb, p, k=10, nprobe=2, exclude_id=0).select("vec_id")
    hits = btop.join(itop, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits"))
    return hits.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.floor(F.col("n_hits") / 10.0 * 1e4 + F.lit(0.5)) / 1e4)
        .alias("recall"))


@register("docs_quality_auc", f"""
    WITH z AS ({_cls_z_sql()}),
    gold AS (SELECT doc_id, keep AS keep_gold FROM ({_QF_KEEP_SQL})),
    g AS (SELECT z.z AS score,
                 CASE WHEN gold.keep_gold THEN 1 ELSE 0 END AS y
          FROM z JOIN gold ON gold.doc_id = z.doc_id),
    n AS (SELECT sum(y) AS n1, count(*) - sum(y) AS n0 FROM g),
    v AS (SELECT score, sum(y) AS c1, count(*) AS c
          FROM g GROUP BY score),
    w AS (SELECT score, c1, c,
                 coalesce(sum(c) OVER (ORDER BY score
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS before
          FROM v),
    s AS (SELECT sum(c1 * (2 * before + c + 1)) AS r2 FROM w)
    SELECT CAST(n.n1 AS BIGINT) AS n_pos,
           CAST(n.n0 AS BIGINT) AS n_neg,
           CASE WHEN n.n1 = 0 OR n.n0 = 0 THEN NULL
                ELSE floor((s.r2 - n.n1 * (n.n1 + 1))
                     / (2.0 * n.n1 * n.n0) * 1e4 + 0.5) / 1e4 END AS auc
    FROM s, n
""")
def q_docs_quality_auc(spark, sf_dir):
    """Exact ROC AUC of the quality classifier's margin against the
    corpus-tuned rule chain (quality_filter_exprs) as gold labels — the
    ranking-quality member of the eval triad (kappa = agreement,
    calibration = probabilities, AUC = ordering), deciding whether the
    cheap scorer can REPLACE the rule filter at a chosen threshold.
    (The published Gopher rules keep zero docs on this short-doc corpus
    — min 50 words — so they'd make a degenerate gold; the tuned chain
    keeps both classes populated.) AUC via the rank-sum identity (the
    Mann-Whitney construction on documents): per-score value counts
    collapse map-side, the cumulative window is score-cardinality-
    bounded, DOUBLED rank sums stay exact int64 (tie groups contribute
    average rank), one final division; NULL when a class is empty. The
    margin is a fixed-expression-order double — bit-identical in both
    engines — so tie groups match exactly."""
    from pyspark.sql import Window

    from nexusbase_spark.pipeline.text import (classifier_margin,
                                               quality_filter_exprs,
                                               tokens_col)

    docs = load_table(spark, sf_dir, "documents")
    # tokenize once below the score/label projection (was ~31 split()
    # copies across the two verdict expressions — r9)
    base = docs.select("text", tokens_col(F.col("text")).alias("__toks"))
    g = base.select(
        classifier_margin(F.col("text"), toks=F.col("__toks")).alias("score"),
        F.when(quality_filter_exprs(F.col("text"),
                                    toks=F.col("__toks"))["keep"], 1)
        .otherwise(0).alias("y"))
    tot = g.agg(F.sum("y").alias("n1"),
                (F.count(F.lit(1)) - F.sum("y")).alias("n0")) \
        .collect()[0]
    n1, n0 = int(tot["n1"]), int(tot["n0"])
    v = g.groupBy("score").agg(F.sum("y").alias("c1"),
                               F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    s = (v.withColumn("__b", F.coalesce(F.sum("c").over(w), F.lit(0)))
         .agg(F.sum(F.col("c1") * (2 * F.col("__b") + F.col("c") + 1))
              .alias("r2")))
    if n1 == 0 or n0 == 0:
        auc = F.lit(None).cast("double")
    else:
        auc = (F.floor((F.col("r2") - F.lit(n1 * (n1 + 1)))
                       / F.lit(2.0 * n1 * n0) * 1e4 + F.lit(0.5)) / 1e4)
    return s.select(F.lit(n1).cast("long").alias("n_pos"),
                    F.lit(n0).cast("long").alias("n_neg"),
                    auc.alias("auc"))


@register("docs_ngram_novelty", """
    WITH t AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
               FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                     AS gram
          FROM t WHERE len(toks) >= 3),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
    per AS (SELECT g.doc_id,
                   count(*) AS n_grams,
                   sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                       AS novel
            FROM g JOIN firsts f ON f.gram = g.gram
            GROUP BY g.doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(novel AS BIGINT) AS novel,
           floor(novel / CAST(n_grams AS DOUBLE) * 1e4 + 0.5) / 1e4
               AS novelty
    FROM per
""")
def q_docs_ngram_novelty(spark, sf_dir):
    """Per-document n-gram NOVELTY score: the fraction of a doc's
    distinct word-3-grams never seen in any earlier doc (doc_id order
    as ingestion time) — the curriculum/dedup signal that separates
    fresh content from recombinations, and the per-doc complement of
    the corpus-level Heaps curve. Wordcount-shaped end to end: distinct
    grams per doc (one explode + distinct), gram -> min(doc_id) (one
    rollup), and a join back keyed on the gram — 'seen before'
    never materializes running sets. At 100 TB the gram join is the
    same shape as docs_duplicate_spans' mark join: hash-partitioned on
    the gram, candidates only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " ")
    t = docs.select("doc_id", toks.alias("toks")) \
        .filter(F.size("toks") >= 3)
    gram = F.concat_ws(
        " ",
        F.expr("toks[pos]"), F.expr("toks[pos+1]"), F.expr("toks[pos+2]"))
    g = (t.select("doc_id",
                  F.posexplode(F.slice("toks", 1,
                                       F.greatest(F.size("toks") - 2,
                                                  F.lit(1))))
                  .alias("pos0", "tok"), "toks")
         .select("doc_id", F.col("pos0").alias("pos"), "toks")
         .select("doc_id", gram.alias("gram"))
         .distinct())
    firsts = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per = (g.join(firsts, "gram")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                      .otherwise(0)).alias("novel")))
    return per.select(
        "doc_id", F.col("n_grams").cast("long").alias("n_grams"),
        F.col("novel").cast("long").alias("novel"),
        (F.floor(F.col("novel") / F.col("n_grams").cast("double") * 1e4
                 + F.lit(0.5)) / 1e4).alias("novelty"))


_LP_KNN_SQL = """
    e AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(range(1, 65),
                              i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id < 200),
    pairs AS (
        SELECT a.vec_id AS id, b.vec_id AS nbr,
               floor(sum(a.v[r.i] * b.v[r.i])
                     / (sqrt(sum(a.v[r.i] * a.v[r.i]))
                        * sqrt(sum(b.v[r.i] * b.v[r.i]))) * 1e4 + 0.5) / 1e4
                   AS c
        FROM e a JOIN e b ON a.vec_id <> b.vec_id, range(1, 65) r(i)
        GROUP BY a.vec_id, b.vec_id),
    knn AS MATERIALIZED (
        SELECT id, nbr FROM (
            SELECT id, nbr, row_number() OVER (PARTITION BY id
                            ORDER BY c DESC, nbr) AS rn
            FROM pairs) WHERE rn <= 3),
    seeds AS MATERIALIZED (SELECT vec_id AS id, label FROM e
                           WHERE vec_id % 3 = 0),
    nodes AS MATERIALIZED (SELECT vec_id AS id FROM e)
"""


def _lp_round_sql(prev: str, t: int) -> str:
    return f"""
    v{t} AS (SELECT k.id AS to_id, {prev}.lbl, count(*) AS c
             FROM knn k JOIN {prev} ON {prev}.id = k.nbr
             WHERE {prev}.lbl IS NOT NULL
             GROUP BY k.id, {prev}.lbl),
    p{t} AS (SELECT to_id, lbl FROM (
                 SELECT to_id, lbl,
                        row_number() OVER (PARTITION BY to_id
                                 ORDER BY c DESC, lbl ASC) AS rn
                 FROM v{t}) WHERE rn = 1),
    s{t} AS MATERIALIZED (
        SELECT n.id, coalesce(s.label, p{t}.lbl) AS lbl
        FROM nodes n
        LEFT JOIN seeds s ON s.id = n.id
        LEFT JOIN p{t} ON p{t}.to_id = n.id)
"""


@register("embed_label_propagation", f"""
    WITH {_LP_KNN_SQL},
    s0 AS MATERIALIZED (
        SELECT n.id, s.label AS lbl
        FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
    {_lp_round_sql('s0', 1)},
    {_lp_round_sql('s1', 2)}
    SELECT id AS vec_id, CAST(lbl AS INTEGER) AS label FROM s2
""")
def q_embed_label_propagation(spark, sf_dir):
    """Semi-supervised label propagation over the sample's kNN graph:
    every third vector keeps its true label as a SEED, the rest start
    unlabeled, and two synchronous rounds of neighbor majority vote
    (ties -> smallest label) spread labels across the graph — the cheap
    transductive labeler that stretches a small labeled set over an
    embedding corpus (pipeline/graph.label_propagation; hard-label Zhu
    & Ghahramani). All-integer state and votes, so no lattice is
    needed; the kNN edges reuse the gated knn_graph construction with a
    constant partition (bounded 200-vector sample -> pair space 200^2
    by construction, broadcast-planned). At corpus scale the edges come
    from the IVF/LSH-bucketed kNN builder instead — the propagation
    rounds themselves shuffle only (id, label, count) rows."""
    from nexusbase_spark.pipeline.graph import label_propagation
    from nexusbase_spark.pipeline.similarity import knn_graph

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200))
    sample = emb.withColumn("__all", F.lit(1))
    knn = knn_graph(sample, k=3, part_col="__all")
    edges = knn.select(F.col("nbr").alias("src"), F.col("id").alias("dst"))
    seeds = (emb.filter(F.col("vec_id") % 3 == 0)
             .select(F.col("vec_id").alias("id"), "label"))
    nodes = emb.select(F.col("vec_id").alias("id"))
    out = label_propagation(edges, seeds, nodes, iters=2)
    return out.select(F.col("id").alias("vec_id"),
                      F.col("label").cast("int").alias("label"))


def _purity_sql() -> str:
    return """
    WITH RECURSIVE e AS (
        SELECT vec_id, label,
               list_transform(range(1, 65),
                              i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id < 200),
    pairs AS (
        SELECT a.vec_id AS id, b.vec_id AS nbr,
               floor(sum(a.v[r.i] * b.v[r.i])
                     / (sqrt(sum(a.v[r.i] * a.v[r.i]))
                        * sqrt(sum(b.v[r.i] * b.v[r.i]))) * 1e4 + 0.5) / 1e4
                   AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id, range(1, 65) r(i)
        GROUP BY a.vec_id, b.vec_id),
    ranked AS (
        SELECT id, nbr, cosine,
               row_number() OVER (PARTITION BY id
                                  ORDER BY cosine DESC, nbr) AS rank
        FROM pairs),
    knn AS (SELECT id, nbr, cosine FROM ranked WHERE rank <= 3),
    mutual AS (
        SELECT a.id AS src, a.nbr AS dst FROM knn a
        JOIN knn b ON b.id = a.nbr AND b.nbr = a.id
        WHERE a.cosine >= 0.2),
    edges AS (SELECT src, dst FROM mutual
              UNION SELECT dst AS src, src AS dst FROM mutual),
    reach(node, lbl) AS (
        SELECT DISTINCT src AS node, src AS lbl FROM edges
        UNION
        SELECT edges.src, reach.lbl FROM edges
        JOIN reach ON reach.node = edges.dst),
    assigned AS MATERIALIZED (
        SELECT node AS vec_id, min(lbl) AS cluster_id
        FROM reach GROUP BY node),
    lab AS MATERIALIZED (
        SELECT a.cluster_id, e.label, count(*) AS c
        FROM assigned a JOIN e ON e.vec_id = a.vec_id
        GROUP BY a.cluster_id, e.label),
    m AS (SELECT cluster_id, max(c) AS best FROM lab GROUP BY cluster_id),
    t AS (SELECT sum(c) AS n_nodes FROM lab)
    SELECT CAST(t.n_nodes AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_clusters,
           floor(sum(m.best) / CAST(t.n_nodes AS DOUBLE) * 1e4 + 0.5)
               / 1e4 AS purity
    FROM m, t GROUP BY t.n_nodes
"""


@register("embed_cluster_purity", _purity_sql())
def q_embed_cluster_purity(spark, sf_dir):
    """Cluster-quality eval: PURITY of a mutual-kNN clustering against
    the label column — sum over clusters of the majority-label count,
    over all clustered nodes. The standard external clustering metric,
    turning 'the clusterer ran' into 'the clusterer agrees with ground
    truth X%'. Unlike embed_mutual_knn_clusters (whose kNN is
    label-partition-local, making purity vacuously 1), the clustering
    here runs over a CONSTANT partition on the bounded 200-vector
    sample, so edges can cross labels and purity actually measures
    agreement; at corpus scale the edges come from the IVF/LSH-bucketed
    kNN builder. One label join + two k-row rollups on a checkpointed
    cluster frame; counts are integers, purity pays one division,
    4dp-quantized."""
    from nexusbase_spark.pipeline.dedup import dedup_clusters
    from nexusbase_spark.pipeline.similarity import knn_graph

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200))
    sample = emb.withColumn("__all", F.lit(1))
    knn = knn_graph(sample, k=3, part_col="__all")
    rev = knn.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
    mutual = (knn.join(rev, ["id", "nbr"], "left_semi")
              .filter(F.col("cosine") >= 0.2)
              .select(F.col("id").alias("id_a"), F.col("nbr").alias("id_b")))
    # max_iters=200: unlike dup-chain graphs (tiny diameter), a
    # cross-label mutual-kNN graph can carry a long path — at sf0.01 its
    # diameter exceeds dedup_clusters' default 20 rounds, which silently
    # returns unconverged labels (one split component, observed). The
    # loop breaks at fixpoint, so the bound only pays actual-diameter
    # rounds, and the 200-vector sample keeps each round sub-second at
    # ANY corpus SF.
    clusters = (dedup_clusters(mutual, max_iters=200)
                .select(F.col("doc_id").alias("vec_id"),
                        F.col("canonical_id").alias("cluster_id"))
                .localCheckpoint(eager=True))
    lab = (clusters.join(emb.select("vec_id", "label"), "vec_id")
           .groupBy("cluster_id", "label")
           .agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint(eager=True))
    m = lab.groupBy("cluster_id").agg(F.max("c").alias("best"))
    t = lab.agg(F.sum("c").alias("n_nodes"))
    # lint: k-row (per-cluster maxima x 1 totals row)
    return (m.crossJoin(t)
            .agg(F.first("n_nodes").cast("long").alias("n_nodes"),
                 F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 (F.floor(F.sum("best") / F.first("n_nodes").cast("double")
                          * 1e4 + F.lit(0.5)) / 1e4).alias("purity")))


_RECALL_KEEP = ("({c} < 400 OR ({c} >= 1000000 AND {c} < 1000400))")


@register("doc_minhash_recall", f"""
    WITH {MINHASH_CTES},
    lshr AS (SELECT id_a, id_b FROM jpairs
             WHERE {_RECALL_KEEP.format(c="id_a")}
               AND {_RECALL_KEEP.format(c="id_b")}),
    rsh AS (SELECT doc_id, shingle FROM sh
            WHERE {_RECALL_KEEP.format(c="doc_id")}),
    rsz AS (SELECT doc_id, count(*) AS s FROM rsh GROUP BY doc_id),
    ri AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
           FROM rsh a JOIN rsh b ON a.shingle = b.shingle
                              AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    truth AS (SELECT ri.id_a, ri.id_b
              FROM ri JOIN rsz za ON za.doc_id = ri.id_a
                      JOIN rsz zb ON zb.doc_id = ri.id_b
              WHERE ri.i * 10 >= (za.s + zb.s - ri.i) * 3),
    hits AS (SELECT count(*) AS h
             FROM truth JOIN lshr USING (id_a, id_b)),
    t AS (SELECT count(*) AS n_true FROM truth),
    l AS (SELECT count(*) AS n_lsh FROM lshr)
    SELECT CAST(t.n_true AS BIGINT) AS n_true,
           CAST(l.n_lsh AS BIGINT) AS n_lsh,
           CASE WHEN t.n_true = 0 THEN NULL
                ELSE floor(hits.h / CAST(t.n_true AS DOUBLE) * 1e4 + 0.5)
                     / 1e4 END AS recall
    FROM hits, t, l
""")
def q_doc_minhash_recall(spark, sf_dir):
    """MinHash-LSH recall measured IN-ENGINE: the LSH-found verified
    pairs against the brute-force ground truth (ALL pairs with shingle
    Jaccard >= 0.3), as recall — the dedup-family twin of
    embed_ivf_recall, quantifying what the banding probability
    (1-(1-s^r)^b) actually delivers on this corpus. The LSH side is the
    exact gated doc_dedup_minhash_lsh construction run corpus-wide;
    recall is scored on the doc_id < 400 slice (+ their synthetic
    copies) where the quadratic TRUTH join stays tractable — the
    docs_exact_dedup_index_probe precedent. Truth verdicts are integer
    cross-multiplied (inter*10 >= uni*3); recall pays one division,
    NULL if the truth set is empty."""
    from nexusbase_spark.pipeline.dedup import near_dup_pairs, shingle_sets

    aug = _docs_aug(spark, sf_dir)
    keep = lambda c: ((F.col(c) < 400)  # noqa: E731
                      | ((F.col(c) >= 1000000) & (F.col(c) < 1000400)))
    lsh = (near_dup_pairs(aug, num_hashes=8, bands=4, threshold=0.3)
           .filter(keep("id_a") & keep("id_b"))
           .select("id_a", "id_b")
           .localCheckpoint(eager=True))
    rsh = shingle_sets(aug.filter(keep("doc_id")))
    rsz = rsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    a, b = rsh.alias("a"), rsh.alias("b")
    ri = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                 & (F.col("a.doc_id") < F.col("b.doc_id")))
          .groupBy(F.col("a.doc_id").alias("id_a"),
                   F.col("b.doc_id").alias("id_b"))
          .agg(F.count(F.lit(1)).alias("i")))
    za = rsz.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    zb = rsz.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    truth = (ri.join(za, "id_a").join(zb, "id_b")
             .filter(F.col("i") * 10
                     >= (F.col("sa") + F.col("sb") - F.col("i")) * 3)
             .select("id_a", "id_b")
             .localCheckpoint(eager=True))
    hits = truth.join(lsh, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("h"))
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    ln = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    recall = F.when(F.col("n_true") == 0, F.lit(None).cast("double")) \
        .otherwise(F.floor(F.col("h") / F.col("n_true").cast("double")
                           * 1e4 + F.lit(0.5)) / 1e4)
    # lint: k-row (three single-row count frames)
    return (hits.crossJoin(t).crossJoin(ln)
            .select(F.col("n_true").cast("long").alias("n_true"),
                    F.col("n_lsh").cast("long").alias("n_lsh"),
                    recall.alias("recall")))


@register("embed_norm_profile", """
    WITH q AS (SELECT vec_id, label,
                      unnest(range(len(embedding))) AS pos,
                      CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e4
                                 + 0.5) AS BIGINT) AS eq
               FROM embeddings),
    n AS (SELECT vec_id, label, sum(eq * eq) AS nq
          FROM q GROUP BY vec_id, label),
    v AS (SELECT label, sqrt(nq / 1e8) AS nrm,
                 CASE WHEN nq = 0 THEN 1 ELSE 0 END AS z
          FROM n)
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           floor(min(nrm) * 1e4 + 0.5) / 1e4 AS min_norm,
           floor(sum(CAST(floor(nrm * 1e6 + 0.5) AS BIGINT))
                 / (count(*) * 1e6) * 1e4 + 0.5) / 1e4 AS mean_norm,
           floor(max(nrm) * 1e4 + 0.5) / 1e4 AS max_norm,
           CAST(sum(z) AS BIGINT) AS n_zero
    FROM v GROUP BY label
""")
def q_embed_norm_profile(spark, sf_dir):
    """Embedding-norm QC per label: min/mean/max L2 norm and the count
    of zero vectors — the sanity gate an ANN index build runs first
    (a zero/near-zero norm makes cosine undefined and silently poisons
    IVF centroids; a norm-scale mismatch across labels betrays a mixed
    encoder version — the static companion of embed_centroid_drift).
    Per-vector squared norms are exact int64 lattice sums (elements
    quantized at 1e-4; one posexplode + map-side-combined rollup, the
    shuffle carries one int per vector); the zero flag compares the
    INTEGER norm so it can never flip on a sqrt ulp; the mean is an
    integer-lattice mean over per-vector quantized norms."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "label",
                   F.posexplode("embedding").alias("pos", "e"))
    eq = F.floor(F.col("e").cast("double") * 1e4 + F.lit(0.5)) \
        .cast("long")
    n = (q.select("vec_id", "label", eq.alias("eq"))
         .groupBy("vec_id", "label")
         .agg(F.sum(F.col("eq") * F.col("eq")).alias("nq")))
    v = n.select("label", F.sqrt(F.col("nq") / 1e8).alias("nrm"),
                 F.when(F.col("nq") == 0, 1).otherwise(0).alias("z"))
    q4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (v.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 q4(F.min("nrm")).alias("min_norm"),
                 q4(F.sum(F.floor(F.col("nrm") * 1e6 + F.lit(0.5))
                          .cast("long")) / (F.count(F.lit(1)) * 1e6))
                 .alias("mean_norm"),
                 q4(F.max("nrm")).alias("max_norm"),
                 F.sum("z").cast("long").alias("n_zero")))


@register("embed_pq_distortion", f"""
    WITH {_pq_ctes(m_sub=4, k=4, iters=2, sub_len=16)},
    err AS (
        {" UNION ALL ".join(f'''
        SELECT {s} AS sub, e.vec_id,
               CAST(floor(sum((e.x - c.val) * (e.x - c.val)) * 1e6 + 0.5)
                    AS BIGINT) AS eq
        FROM e{s} e
        JOIN s{s}a3 a ON a.vec_id = e.vec_id
        JOIN s{s}c2 c ON c.cid = a.cid AND c.pos = e.pos
        GROUP BY e.vec_id''' for s in range(4))})
    SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs,
           floor(sum(eq) / (count(*) * 1e6) * 1e4 + 0.5) / 1e4 AS mse,
           floor(max(eq) / 1e6 * 1e4 + 0.5) / 1e4 AS max_se
    FROM err GROUP BY sub
""")
def q_embed_pq_distortion(spark, sf_dir):
    """PQ reconstruction distortion per subspace: mean and max squared
    L2 error between each subvector and its assigned codebook centroid
    — the compression-quality eval of the PQ family (ADC distances are
    only as good as this quantization error; a subspace with outsized
    MSE is where to spend more codebook bits, the diagnostic behind
    OPQ's bit allocation). Shares the memoized codebook fit with the
    PQ gate queries (an index build, not a query cost); reconstruction
    centroids enter the plan as LITERALS (k*sub_len doubles per
    subspace), so the scan does zip_with arithmetic against constants —
    no join. Per-vector errors are floor-quantized to int64 before the
    order-free rollup sums."""
    enc, books = _pq_trained(spark, sf_dir)
    # one checkpoint: the four per-subspace branches below union over
    # this frame — without it each branch re-runs the encode join from
    # the scan (8 FileScans observed)
    emb = (load_table(spark, sf_dir, "embeddings").join(
        enc.select("vec_id", *[f"code_{s}" for s in range(4)]), "vec_id")
        .localCheckpoint(eager=True))
    parts = []
    for s in range(4):
        sub = F.transform(F.slice("embedding", s * 16 + 1, 16),
                          lambda x: x.cast("double"))
        cents = F.array(*[
            F.array(*[F.lit(float(v)) for v in books[(s, c)]])
            for c in range(4)])
        cent = F.element_at(cents, F.col(f"code_{s}") + 1)
        err = F.aggregate(
            F.zip_with(sub, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        parts.append(emb.select(
            F.lit(s).alias("sub"),
            F.floor(err * 1e6 + F.lit(0.5)).cast("long").alias("eq")))
    from functools import reduce
    err_df = reduce(lambda a, b: a.unionByName(b), parts)
    q4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (err_df.groupBy("sub")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 q4(F.sum("eq") / (F.count(F.lit(1)) * 1e6)).alias("mse"),
                 q4(F.max("eq") / 1e6).alias("max_se")))


@register("docs_dedup_rate_curve", """
    WITH aug AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 400
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(t[1:greatest(CAST(floor(len(t) * 0.6)
                                                 AS INT), 3)], ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents WHERE doc_id % 5 = 0 AND doc_id < 400)),
    tk AS (SELECT DISTINCT doc_id,
                  unnest(string_split(trim(lower(text)), ' ')) AS tok
           FROM aug),
    sz AS (SELECT doc_id, count(*) AS s FROM tk GROUP BY doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    pairs AS MATERIALIZED (
        SELECT i.id_a, i.id_b, i.inter,
               sa.s + sb.s - i.inter AS uni
        FROM i JOIN sz sa ON sa.doc_id = i.id_a
               JOIN sz sb ON sb.doc_id = i.id_b
        WHERE i.inter * 10 >= (sa.s + sb.s - i.inter) * 5),
    th AS (SELECT unnest([5, 6, 7, 8, 9]) AS t10),
    at_t AS (SELECT th.t10, p.id_a, p.id_b FROM th
             JOIN pairs p ON p.inter * 10 >= p.uni * th.t10),
    d AS (SELECT t10, doc_id FROM (
              SELECT t10, id_a AS doc_id FROM at_t
              UNION SELECT t10, id_b FROM at_t))
    SELECT th.t10 / 10.0 AS threshold,
           CAST(coalesce(np.n, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(nd.n, 0) AS BIGINT) AS n_dup_docs
    FROM th
    LEFT JOIN (SELECT t10, count(*) AS n FROM at_t GROUP BY t10) np
           ON np.t10 = th.t10
    LEFT JOIN (SELECT t10, count(*) AS n FROM d GROUP BY t10) nd
           ON nd.t10 = th.t10
""")
def q_docs_dedup_rate_curve(spark, sf_dir):
    """Dedup threshold-tuning curve: exact near-dup pair counts and the
    number of docs touched, at Jaccard thresholds 0.5-0.9 — the readout
    that decides WHERE to set the dedup threshold before committing to
    a full run (too low eats distinct content, too high leaves
    near-dups in). ONE exact pair computation at the loosest threshold
    (PPJoin prefix filtering at 0.5 — lossless, so every stricter
    threshold is a subset) feeds all five points via integer
    cross-multiplied verdicts (inter*10 >= uni*t10 — no float can flip
    a curve point); zero-pair thresholds still emit rows. Scored on the
    doc_id < 400 slice + synthetic copies (the recall-query precedent);
    the operator itself (prefix_filter_pairs) runs corpus-wide."""
    from nexusbase_spark.pipeline.dedup import prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < 400).select("doc_id", "text")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    # mirror of _docs_aug restricted to the slice (copies of %5 docs)
    tks = F.split(F.col("text"), " ")
    ncut = F.greatest(F.floor(F.size(tks) * 0.6).cast("int"), F.lit(3))
    copies = (base.filter(F.col("doc_id") % 5 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.array_join(F.slice(tks, 1, ncut), " ")
                      .alias("text")))
    aug = base.unionByName(copies)
    pairs = (prefix_filter_pairs(aug, threshold=0.5)
             .select("id_a", "id_b", "inter", "uni")
             .localCheckpoint(eager=True))
    th = spark.createDataFrame([(t,) for t in (5, 6, 7, 8, 9)],
                               "t10 long")
    # lint: k-row (5 threshold literals)
    at_t = (pairs.crossJoin(F.broadcast(th))
            .filter(F.col("inter") * 10 >= F.col("uni") * F.col("t10"))
            .select("t10", "id_a", "id_b")
            .localCheckpoint(eager=True))
    np_ = at_t.groupBy("t10").agg(F.count(F.lit(1)).alias("n_pairs"))
    d = (at_t.select("t10", F.col("id_a").alias("doc_id"))
         .union(at_t.select("t10", F.col("id_b").alias("doc_id")))
         .distinct()
         .groupBy("t10").agg(F.count(F.lit(1)).alias("n_dup_docs")))
    return (th.join(np_, "t10", "left").join(d, "t10", "left")
            .select((F.col("t10") / 10.0).alias("threshold"),
                    F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.coalesce(F.col("n_dup_docs"), F.lit(0)).cast("long")
                    .alias("n_dup_docs")))


@register("docs_token_budget_curve", f"""
    WITH z AS ({_cls_z_sql()}),
    t AS (SELECT doc_id, len(string_split(trim(lower(text)), ' ')) AS n_tok
          FROM documents),
    b AS (SELECT CAST({" + ".join(
              f"(CASE WHEN z.z >= {e} THEN 1 ELSE 0 END)"
              for e in _LOGIT_EDGES)} AS BIGINT) AS bin,
                 t.n_tok
          FROM z JOIN t ON t.doc_id = z.doc_id),
    g AS (SELECT bin, count(*) AS n_docs, sum(n_tok) AS toks
          FROM b GROUP BY bin),
    tot AS (SELECT sum(toks) AS all_toks FROM g)
    SELECT g.bin,
           CAST(g.n_docs AS BIGINT) AS n_docs,
           CAST(sum(g.toks) OVER (ORDER BY g.bin DESC) AS BIGINT)
               AS cum_tokens,
           floor(sum(g.toks) OVER (ORDER BY g.bin DESC)
                 / CAST(tot.all_toks AS DOUBLE) * 1e4 + 0.5) / 1e4
               AS cum_share
    FROM g, tot
""")
def q_docs_token_budget_curve(spark, sf_dir):
    """Token-budget curve: how many TOKENS survive if the corpus is cut
    at each quality-score decile, reading from the best bin down — the
    data-mixing dashboard behind 'can we hit the token budget at
    quality >= X' decisions (docs_budget_select picks one operating
    point; this shows the whole menu). Bins reuse the calibration
    query's logit LITERALS (bit-identical margin vs constants — no
    float threshold can flip a bin); token counts are exact integers;
    the cumulative window runs over <=10 bin rows. One scan + one
    10-cell rollup."""
    from nexusbase_spark.pipeline.text import classifier_margin

    docs = load_table(spark, sf_dir, "documents")
    z = classifier_margin(F.col("text"))
    bin_ = sum((F.when(z >= float(e), 1).otherwise(0)
                for e in _LOGIT_EDGES), F.lit(0)).cast("long")
    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), " "))
    g = (docs.select(bin_.alias("bin"), n_tok.alias("n_tok"))
         .groupBy("bin")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n_tok").alias("toks"))
         .localCheckpoint(eager=True))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("bin").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    tot = g.agg(F.sum("toks").alias("all_toks"))
    # lint: k-row (<=10 bin rows x 1 totals row)
    return (g.crossJoin(tot)
            .select("bin", F.col("n_docs").cast("long").alias("n_docs"),
                    F.sum("toks").over(w).cast("long").alias("cum_tokens"),
                    (F.floor(F.sum("toks").over(w)
                             / F.col("all_toks").cast("double") * 1e4
                             + F.lit(0.5)) / 1e4).alias("cum_share")))


@register("docs_ppjoin_capped_pairs", """
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(trim(lower(text)), ' '))) AS tok
        FROM documents WHERE doc_id < 400),
    df AS (SELECT tok, count(*) AS dfc FROM t GROUP BY tok),
    sz AS (SELECT doc_id, count(*) AS s FROM t GROUP BY doc_id),
    pos AS (SELECT t.doc_id, t.tok,
                   row_number() OVER (PARTITION BY t.doc_id
                                      ORDER BY df.dfc, t.tok) AS pos
            FROM t JOIN df USING (tok)),
    pref AS (SELECT pos.doc_id, pos.tok
             FROM pos JOIN sz USING (doc_id)
             WHERE pos.pos <= sz.s - ((8000 * sz.s + 9999) // 10000) + 1),
    keep AS (SELECT tok FROM pref GROUP BY tok HAVING count(*) <= 100),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM pref a JOIN keep USING (tok)
             JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT c.id_a, c.id_b, CAST(i.inter AS BIGINT) AS inter,
           CAST(sa.s + sb.s - i.inter AS BIGINT) AS uni,
           floor(i.inter / (sa.s + sb.s - i.inter) * 1e4 + 0.5) / 1e4 AS jaccard
    FROM cand c
    JOIN i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sz sa ON sa.doc_id = c.id_a
    JOIN sz sb ON sb.doc_id = c.id_b
    WHERE i.inter * 10000 >= (sa.s + sb.s - i.inter) * 8000
""")
def q_docs_ppjoin_capped_pairs(spark, sf_dir):
    """The PPJoin skew guard's CAPPED path under the oracle (NOTES r6
    backlog #5): prefix_filter_pairs with max_bucket=100 on the gated
    corpus, chosen so the gate is non-degenerate BOTH ways at every SF
    (measured sf0.001/0.01/0.1: 181-313 pairs survive the cap vs ~20k
    lossless — hot buckets genuinely drop, survivors genuinely verify;
    a cap of 10 passed trivially with ZERO surviving pairs). The capped
    semantics are fully deterministic — hot buckets are a pure function
    of document frequency — so the oracle reproduces the whole pipeline
    in SQL: the same global (df, tok) token order, the same all-integer
    prefix length sz - ceil(0.8*sz) + 1, the same bucket-size cutoff,
    then candidates from SURVIVING prefix tokens only, verified against
    brute-force intersection counts. A pair is emitted iff it shares at
    least one sub-cap prefix token AND jaccard >= 0.8 — exactly
    drop_hot_prefix_buckets' contract (pipeline/dedup.py:633).
    Same doc_id < 400 oracle-tractability cap as docs_ppjoin_pairs."""
    import warnings as _w

    from nexusbase_spark.pipeline.dedup import prefix_filter_pairs

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400))
    with _w.catch_warnings():
        _w.simplefilter("ignore", RuntimeWarning)  # the cap WARNs by design
        return prefix_filter_pairs(docs, threshold=0.8, max_bucket=100)


@register("docs_token_fertility_by_lang", """
    WITH m AS (
        SELECT lang,
               len(string_split(trim(lower(text)), ' ')) AS n_words,
               len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe
        FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
           floor(CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
                 * 1e4 + 0.5) / 1e4 AS fertility
    FROM m GROUP BY lang
""")
def q_docs_token_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility per language (NOTES r6 backlog #5): BPE-ish
    tokens emitted per whitespace word, the standard 'how expensive is
    this language under this tokenizer' diagnostic that drives per-lang
    token budgets and sampling temperatures in multilingual mixes (a
    high-fertility language consumes its token budget in fewer docs).
    Both token counts are exact integers summed per lang (map-side
    combinable wordcount shape, one scan, one k-row rollup — k = number
    of languages); fertility is ONE exactly-rounded double division of
    two int64 sums, the established lattice idiom, identical in Spark
    and DuckDB. The BPE regex is the shared Java/RE2 subset
    (pipeline/text.py BPE_PATTERN)."""
    n_words = F.size(F.split(F.trim(F.lower(F.col("text"))), " "))
    n_bpe = token_count_bpe(F.col("text"))
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("lang", n_words.alias("__w"), n_bpe.alias("__b"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__w").cast("long").alias("n_words"),
                 F.sum("__b").cast("long").alias("n_bpe_tokens"),
                 (F.floor(F.sum("__b").cast("double")
                          / F.sum("__w").cast("double") * 1e4 + F.lit(0.5))
                  / 1e4).alias("fertility")))


_SIMHASH_V_SQL = ", ".join(
    f"sum(CASE WHEN strpos('0123456789abcdef', substr(md5(tok), {i+1}, 1)) "
    f"- 1 >= 8 THEN 1 ELSE -1 END) AS v{i}" for i in range(16))
_SIMHASH_SIG_SQL = " + ".join(
    f"CASE WHEN v{i} > 0 THEN {2**i} ELSE 0 END" for i in range(16))


@register("docs_simhash_recall_curve", f"""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(trim(lower(text)), ' '))) AS tok
        FROM documents WHERE doc_id < 400),
    sz AS (SELECT doc_id, count(*) AS s FROM t GROUP BY doc_id),
    i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    truth AS (
        SELECT i.id_a, i.id_b
        FROM i JOIN sz sa ON sa.doc_id = i.id_a
               JOIN sz sb ON sb.doc_id = i.id_b
        WHERE i.inter * 10000 >= (sa.s + sb.s - i.inter) * 8000),
    rt AS (SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS tok
           FROM documents WHERE doc_id < 400),
    v AS (SELECT doc_id, {{_SIMHASH_V_SQL}} FROM rt GROUP BY doc_id),
    sh AS (SELECT doc_id, ({{_SIMHASH_SIG_SQL}})::BIGINT AS simhash FROM v),
    ham AS (SELECT bit_count(xor(ha.simhash, hb.simhash)) AS d
            FROM truth tr JOIN sh ha ON ha.doc_id = tr.id_a
                          JOIN sh hb ON hb.doc_id = tr.id_b),
    tot AS (SELECT count(*) AS n FROM ham),
    cut AS (SELECT unnest(range(0, 9)) AS ham_cutoff)
    SELECT CAST(c.ham_cutoff AS BIGINT) AS ham_cutoff,
           CAST(count(h.d) AS BIGINT) AS n_captured,
           floor(count(h.d) * 1e4 / CAST(tot.n AS DOUBLE) + 0.5) / 1e4
               AS recall
    FROM cut c CROSS JOIN tot
    LEFT JOIN ham h ON h.d <= c.ham_cutoff
    GROUP BY c.ham_cutoff, tot.n
""".replace("{_SIMHASH_V_SQL}", _SIMHASH_V_SQL)
   .replace("{_SIMHASH_SIG_SQL}", _SIMHASH_SIG_SQL))
def q_docs_simhash_recall_curve(spark, sf_dir):
    """SimHash recall measured IN-ENGINE against EXACT ground truth — the
    companion of doc_minhash_recall for the other near-dup signature
    family: ground truth = the lossless prefix-filter join (every token-
    Jaccard >= 0.8 pair, doc_id < 400 oracle-tractability cap), and the
    curve reports what fraction of those true pairs a 16-bit SimHash
    captures at each hamming cutoff 0..8. Measured here (stable across
    SFs): hamming distances of true pairs spread 0-12, so cutoff 3 — a
    typical bit-band setting — captures only ~40% of j>=0.8 pairs, the
    honest 'SimHash-16 is a coarse prefilter, not a recall-safe dedup'
    number a pipeline owner needs before trusting simhash-only dedup
    (the MinHash family measured 0.767 at its gate settings). One
    lossless pair pass + one wordcount-shaped signature pass + a 9-row
    cutoff rollup; the pair frame is eagerly checkpointed (scan-once:
    referenced by the totals row and the cutoff join)."""
    from nexusbase_spark.pipeline.dedup import prefix_filter_pairs, simhash

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400))
    truth = prefix_filter_pairs(docs, threshold=0.8).select("id_a", "id_b")
    sig = simhash(docs, bits=16)
    ham = (truth
           .join(sig.select(F.col("doc_id").alias("id_a"),
                            F.col("simhash").alias("__ha")), "id_a")
           .join(sig.select(F.col("doc_id").alias("id_b"),
                            F.col("simhash").alias("__hb")), "id_b")
           .select(F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
                   .alias("d"))
           .localCheckpoint(eager=True))
    cuts = spark.createDataFrame([(c,) for c in range(9)], "ham_cutoff long")
    tot = ham.agg(F.count(F.lit(1)).alias("__n"))
    # lint: k-row (9 cutoffs x 1 totals row)
    return (cuts.crossJoin(F.broadcast(tot))
            .join(ham, F.col("d") <= F.col("ham_cutoff"), "left")
            .groupBy("ham_cutoff", "__n")
            .agg(F.count("d").alias("n_captured"))
            .select("ham_cutoff",
                    F.col("n_captured").cast("long").alias("n_captured"),
                    (F.floor(F.col("n_captured") * 1e4
                             / F.col("__n").cast("double") + F.lit(0.5))
                     / 1e4).alias("recall")))
