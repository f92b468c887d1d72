"""Streaming distribution-drift monitor: PSI against a frozen reference.

The population stability index (PSI) is the industry-standard "has this
feature's distribution moved since training" alarm:

    PSI = sum over bins of (p_i - q_i) * ln(p_i / q_i)

with q the REFERENCE bin distribution (frozen when the model/corpus was
built) and p the CURRENT one; < 0.1 stable, 0.1-0.25 drifting, > 0.25
alarm. This module freezes the reference histogram once, then folds each
ingest micro-batch into a running current histogram and appends a
(batch ordinal, rows seen, psi) row to a report table.

Scale shape: the reference fit is one agg (lo/hi) + one binned rollup;
each batch update appends O(bins) rows; the PSI read sums two
bins-sized tables. Bin edges and the Laplace smoothing are exact
arithmetic on driver-scalar anchors, so a batch recompute on the union
of all ingested rows produces the identical PSI (parity-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexusbase_spark.store import ParquetStore


def _bin_expr(col, lo: float, width: float, bins: int):
    """Equal-width bin index with edge clamping (out-of-range values
    land in the boundary bins, so drift OUTSIDE the reference range is
    visible as edge-bin mass, not silently dropped)."""
    raw = F.floor((col - F.lit(lo)) / F.lit(width)).cast("long")
    return F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))


def histogram(df: DataFrame, value_col: str, lo: float, width: float,
              bins: int) -> DataFrame:
    """(bin, cnt) rollup of non-null values — map-side combined."""
    return (df.filter(F.col(value_col).isNotNull())
            .select(_bin_expr(F.col(value_col), lo, width, bins)
                    .alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")))


def psi_of_counts(ref: list[int], cur: list[int]) -> float:
    """PSI from two aligned count vectors with +1 Laplace smoothing
    (pure driver arithmetic on bins-sized lists; exact given the
    counts, so cross-engine parity reduces to integer-count parity)."""
    import math

    b = len(ref)
    nr, nc = sum(ref) + b, sum(cur) + b
    psi = 0.0
    for r, c in zip(ref, cur):
        q = (r + 1) / nr
        p = (c + 1) / nc
        psi += (p - q) * math.log(p / q)
    return psi


class DriftMonitor(ParquetStore):
    """Frozen-reference PSI monitor with a parquet store.

    Layout: ``meta.json`` (value_col, bins, lo, width, reference
    counts); ``cur/`` append-only per-batch (bin, cnt) deltas that
    readers SUM.
    """

    @classmethod
    def build(cls, spark, path: str, reference: DataFrame, *,
              value_col: str = "value", bins: int = 10) -> "DriftMonitor":
        st = cls(spark, path)
        g = (reference.filter(F.col(value_col).isNotNull())
             .agg(F.min(value_col).alias("lo"),
                  F.max(value_col).alias("hi"),
                  F.count(F.lit(1)).alias("n")).collect()[0])
        if not g["n"]:
            raise ValueError("reference must contain non-null values")
        lo, hi = float(g["lo"]), float(g["hi"])
        width = (hi - lo) / bins if hi > lo else 1.0
        counts = {int(r["bin"]): int(r["cnt"]) for r in
                  histogram(reference, value_col, lo, width,
                            bins).collect()}
        ref = [counts.get(i, 0) for i in range(bins)]
        st._write_meta({"value_col": value_col, "bins": bins, "lo": lo,
                        "width": width, "ref": ref})
        st._write_layer(spark.createDataFrame([], "bin long, cnt long")
                        .coalesce(1), "cur", "overwrite")
        return st

    def update(self, batch: DataFrame) -> None:
        """Fold one micro-batch into the current histogram — appends
        O(bins) rows, never reads or rewrites history."""
        m = self._meta()
        self._write_layer(histogram(batch, m["value_col"], m["lo"],
                                    m["width"], m["bins"]).coalesce(1), "cur")

    def current_counts(self) -> list[int]:
        m = self._meta()
        rows = (self._layer("cur")
                .groupBy("bin").agg(F.sum("cnt").alias("cnt")).collect())
        got = {int(r["bin"]): int(r["cnt"]) for r in rows}
        return [got.get(i, 0) for i in range(m["bins"])]

    def psi(self) -> float:
        """PSI of everything ingested so far vs the frozen reference."""
        return psi_of_counts(self._meta()["ref"], self.current_counts())

    def for_each_batch(self, report_path: str):
        """Structured-Streaming sink: fold the batch, then append one
        (batch_id, n_seen, psi) report row — the drift trendline an
        alert rule reads (same ingest-gate shape as expectations_sink)."""
        def fold(batch: DataFrame, batch_id: int) -> None:
            self.update(batch)
            cur = self.current_counts()
            row = [(int(batch_id), int(sum(cur)),
                    float(psi_of_counts(self._meta()["ref"], cur)))]
            (self.spark.createDataFrame(
                row, "batch_id long, n_seen long, psi double")
             .coalesce(1).write.mode("append").parquet(report_path))
        return self._sink(fold)
