"""The shared store lifecycle (nexusbase_spark.store.ParquetStore) on the
four doc-keyed indexes: build, an idle streaming trigger, a streamed
batch that leaves nothing cached, a base deletion seen as stale, and
resync healing it."""

from __future__ import annotations

import os

import pytest


def _files(path):
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(path)
                  for f in fs if f.endswith(".parquet"))


# one partition per frame: a dozen rows spread over every local core
# would make each of the lifecycle's jobs schedule dozens of empty tasks


def _texts(spark, ids):
    # disjoint vocabularies: no doc near-duplicates another, so the
    # dedup sink admits every streamed doc
    return spark.createDataFrame(
        [(i, " ".join(f"doc{i}word{j}" for j in range(8))) for i in ids],
        "doc_id long, text string").coalesce(1)


def _vectors(spark, ids):
    rows = []
    for i in ids:
        v = [0.1 * ((i + d) % 3) for d in range(4)]
        v[i % 4] += 10.0 + 0.01 * i
        rows.append((i, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").coalesce(1)


def _build(kind, spark, path, base):
    if kind == "dedup":
        from nexusbase_spark.pipeline.dedup_index import DedupIndex
        return DedupIndex.build(spark, path, base)
    if kind == "exact":
        from nexusbase_spark.pipeline.ppjoin_index import ExactDupIndex
        return ExactDupIndex.build(spark, path, base)
    if kind == "inverted":
        from nexusbase_spark.pipeline.invindex import InvertedIndex
        return InvertedIndex.build(spark, path, base, n_buckets=4)
    from nexusbase_spark.pipeline.vecindex import VectorIndex
    return VectorIndex.build(spark, path, base, nlist=4, iters=2)


@pytest.mark.parametrize("kind", ["dedup", "exact", "inverted", "vector"])
def test_doc_keyed_store_lifecycle(spark, tmp_path, kind):
    make, id_col = ((_vectors, "vec_id") if kind == "vector"
                    else (_texts, "doc_id"))
    base = make(spark, range(10))
    batch = make(spark, [10, 11])
    path = str(tmp_path / kind)
    ix = _build(kind, spark, path, base)
    sink = ix.for_each_batch()

    before = _files(path)
    sink(batch.limit(0), 0)             # idle trigger: nothing written
    assert _files(path) == before

    # a long-lived stream must not pin a cached frame per micro-batch
    spark.catalog.clearCache()
    sink(batch, 1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    corpus = base.union(batch)
    assert ix.verify(corpus)["ok"]

    shrunk = corpus.filter(f"{id_col} != 3")
    report = ix.verify(shrunk)
    assert report["stale"] == 1 and not report["ok"]

    ix.resync(shrunk)
    assert ix.verify(shrunk)["ok"]
