"""MVCC last-write-wins dedup and tombstone anti-semantics.

Reference: duplicates (same series_key+ts) resolve to the highest seq
(``iterator/iterator.go:61-62, 270-289``); deletes are tombstone entries —
point ``'D'``, series ``'S'``, and range tombstones — each carrying a seq
cutoff, so data re-written AFTER a delete (higher seq) is visible again
(``engine2/adapter.go:2773-2791``, ``iterator/skipping_*_iterator.go``).

Spark mapping: dedup is a max(seq) window per (series_key, ts); deletes
are small tombstone tables applied as broadcast LEFT ANTI joins
(seq-aware). At 100TB the tombstone tables are tiny relative to data, so
the anti-joins stay broadcast — no shuffle of the fact table.
``visible`` composes the two and is what ``NexusEngine.points`` returns.

Tombstone table schemas:
    point_deletes(series_key string, ts long, seq long)
    series_deletes(series_key string, seq long)
    range_deletes(series_key string, min_ts long, max_ts long, seq long)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def dedup_latest(df: DataFrame) -> DataFrame:
    """Keep every row of the highest-seq version per (series_key, ts) —
    last write wins, for the WHOLE point (iterator/iterator.go:244-294,
    270-289). One version can span several rows: on the long layout a
    point is one row per field plus its marker, all sharing one seq, so
    an older version's rows all go and the winner's all stay. On a wide
    frame (one row per version) this is one row per (series_key, ts).

    Scale note: this shuffles on (series_key, ts), the same key the merge
    heap uses; at 100TB dedup-on-ingest (per partition file compaction)
    amortizes it, exactly like the reference's LSM compaction does.
    """
    w = Window.partitionBy("series_key", "ts")
    return (df.withColumn("__maxseq", F.max("seq").over(w))
            .filter(F.col("seq") == F.col("__maxseq")).drop("__maxseq"))


def visible(df: DataFrame, tombs: dict[str, DataFrame]) -> DataFrame:
    """The MVCC-visible rows of ``df``: ``dedup_latest``, then the
    anti-join of each tombstone kind in ``tombs`` (``"point"``,
    ``"series"``, ``"range"`` -> a frame of the schema above). Kinds
    absent from ``tombs`` are skipped: an empty broadcast join still
    costs a job, and a fresh warehouse has no tombstones."""
    df = dedup_latest(df)
    for kind, apply in (("point", apply_point_deletes),
                        ("series", apply_series_deletes),
                        ("range", apply_range_deletes)):
        if kind in tombs:
            df = apply(df, tombs[kind])
    return df


def apply_point_deletes(points: DataFrame, deletes: DataFrame) -> DataFrame:
    """Drop a point iff a point tombstone exists at (series_key, ts) with
    tombstone.seq >= point.seq (later re-push resurrects)."""
    d = broadcast(deletes.select(
        F.col("series_key").alias("__dsk"),
        F.col("ts").alias("__dts"),
        F.col("seq").alias("__dseq"),
    ))
    cond = (
        (points["series_key"] == d["__dsk"])
        & (points["ts"] == d["__dts"])
        & (points["seq"] <= d["__dseq"])
    )
    return points.join(d, cond, "left_anti")


def apply_series_deletes(points: DataFrame, deletes: DataFrame) -> DataFrame:
    """Drop a point iff its whole series was deleted at a seq >= the point's
    seq (engine2/adapter.go:950-1030 — marker + max-seqNum cutoff)."""
    d = broadcast(deletes.select(
        F.col("series_key").alias("__dsk"),
        F.col("seq").alias("__dseq"),
    ))
    cond = (points["series_key"] == d["__dsk"]) & (points["seq"] <= d["__dseq"])
    return points.join(d, cond, "left_anti")


def apply_range_deletes(points: DataFrame, deletes: DataFrame) -> DataFrame:
    """Drop a point iff min_ts <= ts <= max_ts (inclusive) on its series with
    point.seq <= tombstone.seq (engine2/adapter.go:2773-2791)."""
    d = broadcast(deletes.select(
        F.col("series_key").alias("__dsk"),
        F.col("min_ts").alias("__dmin"),
        F.col("max_ts").alias("__dmax"),
        F.col("seq").alias("__dseq"),
    ))
    cond = (
        (points["series_key"] == d["__dsk"])
        & (points["ts"] >= d["__dmin"])
        & (points["ts"] <= d["__dmax"])
        & (points["seq"] <= d["__dseq"])
    )
    return points.join(d, cond, "left_anti")
