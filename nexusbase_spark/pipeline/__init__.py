"""Large-scale training-data pipeline operators (beyond the reference's own
surface — BASELINE.json north star): deduplication, similarity search,
text analysis, multimodal column plumbing.

Everything is built from pyspark.sql.functions (JVM-side, whole-stage
codegen) except the deliberate Arrow/mapInPandas paths in multimodal.py.
md5 hex strings are the portable deterministic hash primitive (identical in
Spark and the DuckDB oracle).
"""

from nexusbase_spark.pipeline.text import (  # noqa: F401
    tokens_col,
    word_shingles,
    token_count_bpe,
    lang_id_expr,
    quality_exprs,
    fingerprint_mink,
)
from nexusbase_spark.pipeline.dedup import (  # noqa: F401
    exact_dedup_groups,
    shingle_sets,
    near_dup_pairs,
    simhash,
)
from nexusbase_spark.pipeline.similarity import (  # noqa: F401
    cosine_sim_expr,
    cosine_topk,
    ivf_topk,
)
from nexusbase_spark.pipeline.split import (  # noqa: F401
    assign_split,
    corpus_mix,
    split_bucket,
    stratified_sample,
)
from nexusbase_spark.pipeline.pack import (  # noqa: F401
    interleave_by_weight,
    pack_assignments,
)
