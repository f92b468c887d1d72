"""Materialized IVF vector index — the embedding-side analog of the
engine's continuous aggregates: build once, serve many ANN queries from a
cluster-partitioned layout instead of re-deriving the coarse quantizer
per query (pipeline/similarity.ivf_topk recomputes centroids every call;
fine for one query, wrong for a standing retrieval service).

Layout on disk:

    <path>/vectors/cluster=<c>/...   vectors partitioned by their coarse
                                     cluster -> probing N clusters is
                                     FILE-LEVEL pruning, the real IVF
                                     promise at corpus scale
    <path>/centroids/                nlist x dim, tiny
    <path>/meta.json                 nlist, iters, n_vectors

Search path: centroids are read driver-side (nlist rows by definition),
the probe ranks them with plain Python (no Spark job), and one pruned
scan + exact cosine rescore over the probed clusters returns top-k.
Incremental ingest: ``append`` assigns new vectors to the existing
centroids (PQ-encoding them against the stored codebooks) and lands them
under their cluster partitions — ``for_each_batch`` wires it as a
Structured-Streaming sink; retrain (build) when ``verify`` mismatches
grow or the assignment distribution drifts.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexusbase_spark.pipeline.similarity import (
    centroids, cosine_topk, kmeans_assign,
)
from nexusbase_spark.store import ParquetStore


def _residual(vec, cents: dict[int, list[float]]):
    """``vec - centroid(cluster)`` elementwise, from a driver-side table of
    the (6dp-rounded) cluster centroids."""
    centmap = F.create_map(*[
        part for c in sorted(cents)
        for part in (F.lit(c), F.array(*[F.lit(float(v)) for v in cents[c]]))])
    return F.zip_with(vec, centmap[F.col("cluster")],
                      lambda x, y: x.cast("double") - y)


class VectorIndex(ParquetStore):
    _layout = {"vectors": ("cluster", None)}

    # ---------------------------------------------------------------- build

    @classmethod
    def build(cls, spark: SparkSession, path: str, df: DataFrame,
              nlist: int = 8, iters: int = 3, id_col: str = "vec_id",
              vec_col: str = "embedding", pq_m: int = 0,
              pq_codes: int = 16, pq_iters: int = 2,
              pq_residual: bool = False) -> "VectorIndex":
        """Train the coarse quantizer (deterministic Lloyd k-means) and
        materialize vectors partitioned by their cluster.

        ``pq_m > 0`` additionally PQ-encodes every vector (``pq_m``
        subspaces x ``pq_codes`` centroids, pipeline/similarity.pq_encode)
        and stores the codes beside it — the FAISS-IVFPQ layout: routing
        prunes cluster FILES, the in-cluster scan reads m small ints per
        row instead of the vector, and only the re-rank shortlist touches
        raw floats. Codebooks (driver-sized) land in meta.json.

        ``pq_residual=True`` encodes RESIDUALS ``x - centroid(cluster(x))``
        instead of raw vectors — the canonical IVFPQ (IVFADC) coding:
        after routing removes the coarse component, the codebook only has
        to cover the within-cluster spread, so the same code budget
        quantizes far finer. Residual centroids are 6dp-rounded before
        the subtraction so training inputs are bit-identical in the
        DuckDB oracle; the rounded table is stored in meta.json for the
        per-cluster probe tables search_pq needs."""
        assigned = kmeans_assign(df, k=nlist, iters=iters,
                                 id_col=id_col, vec_col=vec_col)
        books, res_cents = None, None
        cols = [id_col, vec_col, "cluster"]
        if pq_m:
            from nexusbase_spark.pipeline.similarity import pq_encode
            dim = len(df.select(vec_col).first()[0])
            enc_src_col = vec_col
            if pq_residual:
                c6_rows = (assigned.select(
                               "cluster",
                               F.posexplode(F.col(vec_col)).alias("pos", "x"))
                           .groupBy("cluster", "pos")
                           .agg(F.round(F.avg(F.col("x").cast("double")), 6)
                                .alias("v"))
                           .collect())
                by_c: dict[int, dict[int, float]] = {}
                for r in c6_rows:
                    by_c.setdefault(int(r["cluster"]), {})[int(r["pos"])] = \
                        float(r["v"])
                res_cents = {c: [d[p] for p in sorted(d)]
                             for c, d in by_c.items()}
                assigned = assigned.withColumn(
                    "__res", _residual(F.col(vec_col), res_cents))
                enc_src_col = "__res"
            assigned, bk = pq_encode(assigned, m_sub=pq_m, k_codes=pq_codes,
                                     iters=pq_iters, dim=dim, id_col=id_col,
                                     vec_col=enc_src_col)
            assigned = assigned.drop("__res")
            books = {f"{s}:{c}": v for (s, c), v in bk.items()}
            cols += [f"code_{s}" for s in range(pq_m)]
        ix = cls(spark, path)
        ix._write_layer(assigned.select(*cols), "vectors", "overwrite")
        ix._write_layer(centroids(assigned, "cluster", vec_col), "centroids",
                        "overwrite")
        ix._write_meta({"nlist": nlist, "iters": iters,
                        "n_vectors": assigned.count(),
                        "id_col": id_col, "vec_col": vec_col,
                        "pq_m": pq_m, "pq_codes": pq_codes,
                        "pq_iters": pq_iters, "pq_books": books,
                        "pq_residual": bool(pq_residual),
                        "residual_centroids":
                            ({str(c): v for c, v in res_cents.items()}
                             if res_cents else None)})
        return ix

    # --------------------------------------------------------------- search

    def _centroids_local(self) -> list[tuple[int, list[float]]]:
        rows = self._layer("centroids").collect()
        return sorted((int(r["cluster"]), [float(x) for x in r["centroid"]])
                      for r in rows)

    def _probed(self, probe: list[float], nprobe: int) -> list[int]:
        """The ``nprobe`` clusters whose centroids are most cosine-similar
        to ``probe``, ranked driver-side (nlist rows — no Spark job).
        Ties break by cluster id (deterministic)."""
        pn = math.sqrt(sum(x * x for x in probe))
        scored = []
        for cid, c in self._centroids_local():
            cn = math.sqrt(sum(x * x for x in c))
            cs = (sum(a * b for a, b in zip(probe, c)) / (cn * pn)
                  if cn > 0 and pn > 0 else -2.0)
            scored.append((-cs, cid))
        return [cid for _, cid in sorted(scored)[:nprobe]]

    def search(self, probe: list[float], k: int = 10, nprobe: int = 2,
               exclude_id: int | None = None) -> DataFrame:
        """ANN top-k: rank centroids driver-side (nlist rows — no Spark
        job), scan ONLY the probed clusters' files, exact cosine rescore.
        Ties in centroid ranking break by cluster id (deterministic)."""
        meta = self._meta()
        pruned = self._layer("vectors").filter(
            F.col("cluster").isin(self._probed(probe, nprobe)))
        return cosine_topk(pruned, probe, k, meta["id_col"],
                           meta["vec_col"], exclude_id)

    def search_pq(self, probe: list[float], k: int = 10, nprobe: int = 2,
                  rerank: int = 100,
                  exclude_id: int | None = None) -> DataFrame:
        """IVFPQ serving: route to ``nprobe`` clusters (file pruning),
        ADC-score the pruned rows from their stored codes (the scan
        reads pq_m ints per row — the raw vector column is never
        touched until re-rank, and parquet's column pruning makes that
        real I/O savings), shortlist ``rerank`` candidates, exact cosine
        re-rank. Requires an index built with ``pq_m > 0``."""
        meta = self._meta()
        if not meta.get("pq_m"):
            raise ValueError("index was built without PQ codes")
        books = {tuple(int(p) for p in key.split(":")): vec
                 for key, vec in meta["pq_books"].items()}
        m_sub = meta["pq_m"]
        sub_len = len(probe) // m_sub
        probed = self._probed(probe, nprobe)
        pruned = self._layer("vectors").filter(F.col("cluster").isin(probed))
        # residual coding: the probe's distance table differs per probed
        # cluster (q - centroid_c is the query in that cluster's residual
        # space), so table keys become cluster * k_codes + code — still
        # one map lookup per subspace, nprobe * k_codes entries
        res_cents = ({int(c): v for c, v in
                      (meta.get("residual_centroids") or {}).items()}
                     if meta.get("pq_residual") else None)
        k_codes = meta["pq_codes"]
        q6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
        adist = F.lit(0.0)
        for s in range(m_sub):
            qs = probe[s * sub_len:(s + 1) * sub_len]
            keys, vals = [], []
            for (sub, cid), cvec in sorted(books.items()):
                if sub != s:
                    continue
                if res_cents is None:
                    keys.append(F.lit(cid))
                    vals.append(F.lit(q6(sum(
                        (qv - cv) * (qv - cv)
                        for qv, cv in zip(qs, cvec)))))
                else:
                    for rc in probed:
                        cc = res_cents[rc][s * sub_len:(s + 1) * sub_len]
                        keys.append(F.lit(rc * k_codes + cid))
                        vals.append(F.lit(q6(sum(
                            (qv - ccv - cv) * (qv - ccv - cv)
                            for qv, ccv, cv in zip(qs, cc, cvec)))))
            lookup = (F.col(f"code_{s}") if res_cents is None else
                      F.col("cluster").cast("int") * k_codes
                      + F.col(f"code_{s}"))
            adist = adist + F.map_from_arrays(
                F.array(*keys), F.array(*vals))[lookup]
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        # two passes so the ADC scan PRUNES the vector column at the
        # parquet reader (codes are m ints vs dim floats); the second,
        # rerank-sized pass reads vectors only for the broadcast-joined
        # shortlist ids
        codes_only = pruned.select(id_col, adist.alias("__adist"))
        if exclude_id is not None:
            codes_only = codes_only.filter(F.col(id_col) != exclude_id)
        short_ids = (codes_only.orderBy(F.col("__adist").asc(), F.col(id_col))
                     .limit(rerank).select(id_col))
        cand = pruned.join(F.broadcast(short_ids), id_col)
        return cosine_topk(cand, probe, k, id_col, vec_col)

    def probed_files(self, probe: list[float], nprobe: int = 2) -> tuple[int, int]:
        """(files the search actually reads, total index files) — the
        pruning evidence: cluster is a PARTITION column, so the filter
        prunes whole directories. Measured with input_file_name() over
        the EXECUTED pruned scan (DataFrame.inputFiles() reports the
        relation's full listing, pre-pushdown, and would show no
        pruning)."""
        vecs = self._layer("vectors")
        total = len(vecs.inputFiles())
        touched = (vecs.filter(F.col("cluster").isin(
                       self._probed(probe, nprobe)))
                   .select(F.input_file_name().alias("f"))
                   .distinct().count())
        return touched, total

    # ---------------------------------------------------------------- audit

    def verify(self, df: DataFrame, sample: int | None = None,
               salt: str = "verify-v1") -> dict:
        """Consistency audit against the base embedding table (the
        ``verify_rollup`` treatment for the vector store): a retention
        sweep or corpus rewrite must not leave the index serving deleted
        or drifted vectors. Checks:

        - ``stale``: ids in the index with no base row;
        - ``missing``: base ids the index never absorbed;
        - ``mismatched``: for a deterministic salted-md5 ``sample`` of
          shared ids, the stored vector must EQUAL the base vector and
          its stored cluster must equal ``assign_to`` under the CURRENT
          centroids (a drifted vector in the wrong partition silently
          corrupts pruned search).

        Returns {"n_store", "n_base", "stale", "missing", "checked",
        "mismatched", "ok"}."""
        meta = self._meta()
        idc, vc = meta["id_col"], meta["vec_col"]
        vecs = self._layer("vectors").withColumnRenamed(idc, "doc_id")
        base_ids = self._ids(df, idc)
        store_ids = self._ids(vecs)
        stale, missing = self._stale_missing(store_ids, base_ids)
        shared, checked = self._pinned_sample(store_ids, base_ids, sample,
                                              salt)
        mismatched = 0
        if checked:
            st = (vecs.join(shared, "doc_id")
                  .select("doc_id", F.col(vc).alias("__sv"),
                          F.col("cluster").alias("__sc")))
            bs = (self.assign_to(df.join(
                      shared.withColumnRenamed("doc_id", idc), idc), vc)
                  .select(F.col(idc).alias("doc_id"),
                          F.col(vc).alias("__bv"),
                          F.col("cluster").alias("__bc")))
            mismatched = (st.join(bs, "doc_id", "full_outer")
                          .filter(F.col("__sv").isNull()
                                  | F.col("__bv").isNull()
                                  | (F.col("__sv") != F.col("__bv"))
                                  | (F.col("__sc") != F.col("__bc")))
                          .count())
        return {"n_store": store_ids.count(), "n_base": base_ids.count(),
                "stale": stale, "missing": missing, "checked": checked,
                "mismatched": mismatched,
                "ok": stale == 0 and missing == 0 and mismatched == 0}

    def resync(self, df: DataFrame) -> dict:
        """Re-sync after a corpus rewrite without retraining: stale rows
        are dropped by rewriting the vector store (narrow columnar
        rewrite), missing base vectors are assigned to the EXISTING
        centroids and appended under their cluster partitions. The
        quantizer is untouched — retrain (``build``) when ``verify``
        mismatches grow or the assignment distribution drifts. Returns
        {"dropped_stale", "assigned_missing"}."""
        meta = self._meta()
        idc, vc = meta["id_col"], meta["vec_col"]
        base_ids = self._ids(df, idc)
        n_stale = self._drop_ids(
            self._ids(self._layer("vectors"), idc)
            .join(base_ids, "doc_id", "left_anti")
            .withColumnRenamed("doc_id", idc), "vectors")
        missing = (base_ids.join(self._ids(self._layer("vectors"), idc),
                                 "doc_id", "left_anti")
                   .withColumnRenamed("doc_id", idc))
        n_missing = missing.count()
        if n_missing:
            self._write_vectors(self.assign_to(df.join(missing, idc), vc),
                                meta)
        meta["n_vectors"] = self._layer("vectors").count()
        self._write_meta(meta)
        return {"dropped_stale": n_stale, "assigned_missing": n_missing}

    # ----------------------------------------------------------- incremental

    def _encode_codes(self, df: DataFrame, meta: dict) -> DataFrame:
        """PQ-encode rows against the STORED codebooks (no retraining) —
        the apply half of pq_encode, mirroring kmeans_assign's assignment
        arithmetic exactly (squared L2 rounded 6dp, argmin ties by code
        id) so appended rows encode as a rebuild over the same books
        would. Residual mode subtracts the stored 6dp cluster centroid
        first. Requires a ``cluster`` column (from assign_to)."""
        books: dict[tuple[int, int], list[float]] = {}
        for key, vec in meta["pq_books"].items():
            s, c = (int(x) for x in key.split(":"))
            books[(s, c)] = [float(v) for v in vec]
        m_sub = meta["pq_m"]
        sub_len = len(next(iter(books.values())))
        src = F.col(meta["vec_col"])
        if meta.get("pq_residual"):
            src = _residual(src, {int(c): v for c, v in
                                  meta["residual_centroids"].items()})
        df = df.withColumn("__enc", src)
        for s in range(m_sub):
            entries = []
            for (bs, bc) in sorted(books):
                if bs != s:
                    continue
                c = F.array(*[F.lit(v) for v in books[(bs, bc)]])
                sub = F.slice(F.col("__enc"), s * sub_len + 1, sub_len)
                d = F.aggregate(
                    F.zip_with(sub, c,
                               lambda x, y: (x.cast("double") - y)
                               * (x.cast("double") - y)),
                    F.lit(0.0), lambda acc, v: acc + v)
                entries.append(F.struct(F.round(d, 6).alias("d"),
                                        F.lit(bc).alias("c")))
            df = df.withColumn(f"code_{s}",
                               F.array_min(F.array(*entries))["c"])
        return df.drop("__enc")

    def append(self, df: DataFrame) -> int:
        """Incremental ingest: assign new vectors to the EXISTING
        centroids, PQ-encode them with the STORED codebooks (when the
        index carries codes), and append under their cluster partitions.
        No retraining — retrain (build) when verify() mismatches grow or
        the assignment distribution drifts. Returns rows appended."""
        meta = self._meta()
        assigned = (self.assign_to(df, meta["vec_col"])
                    .localCheckpoint(eager=True))
        n = assigned.count()
        if not n:
            return 0
        self._write_vectors(assigned, meta)
        meta["n_vectors"] = int(meta.get("n_vectors") or 0) + n
        self._write_meta(meta)
        return n

    def _write_vectors(self, assigned: DataFrame, meta: dict) -> None:
        """Append cluster-assigned rows, PQ-encoded when the index
        carries codes: without re-encoding, appended rows would carry
        NULL code_* columns and silently vanish from the ADC scan."""
        cols = [meta["id_col"], meta["vec_col"], "cluster"]
        if meta.get("pq_m"):
            assigned = self._encode_codes(assigned, meta)
            cols += [f"code_{s}" for s in range(meta["pq_m"])]
        self._write_layer(assigned.select(*cols), "vectors")

    def for_each_batch(self):
        """Structured-Streaming sink: fold each embedding micro-batch
        into the index. Serving sees new vectors as soon as their batch
        lands; no rebuild."""
        return self._sink(lambda batch, _: self.append(batch))

    def assign_to(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Assign NEW vectors to the existing centroids (the incremental
        ingest path: append these rows under their cluster partitions
        without retraining; retrain when the assignment distribution
        drifts). Distance arithmetic mirrors kmeans_assign: squared L2,
        argmin ties by cluster id."""
        cents = self._centroids_local()
        pairs = [
            F.struct(
                F.round(F.aggregate(
                    F.zip_with(F.col(vec_col),
                               F.array(*[F.lit(x) for x in c]),
                               lambda a, b: (a.cast("double") - b)
                               * (a.cast("double") - b)),
                    F.lit(0.0), lambda acc, v: acc + v), 6).alias("dist"),
                F.lit(cid).alias("cid"))
            for cid, c in cents
        ]
        best = F.array_min(F.array(*pairs))
        return df.withColumn("cluster", best["cid"])
