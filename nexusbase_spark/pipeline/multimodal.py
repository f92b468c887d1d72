"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with typed
metadata structs. The Spark-side machinery here is REAL and tested:
schemas, Arrow-batched mapInPandas with a bounded batch size, partition
behavior. The actual codec work (JPEG decode, resampling, frame sampling)
is STUBBED — the decode libraries are not in this container — behind
``NotImplementedError`` plus a deterministic fake used by tests/oracles.

Design for 100TB: payloads stay columnar (parquet binary), metadata
extraction streams through mapInPandas in Arrow batches (no per-row Python
calls, no payload ever collected to the driver), and downstream filters on
the extracted metadata columns get normal Catalyst treatment.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("sha256", StringType()),
    StructField("fake_width", LongType()),
    StructField("fake_height", LongType()),
])


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic stand-in payload: the utf-8 bytes of the text column.
    In production this column comes straight from the source parquet."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8").cast(BinaryType()))


def decode_image(payload: bytes) -> object:
    """Real decoder entry point — deliberately unimplemented here."""
    raise NotImplementedError(
        "image codecs are not available in this environment; "
        "extract_meta derives deterministic stand-in metadata instead"
    )


def extract_meta(df: DataFrame, id_col: str = "doc_id",
                 payload_col: str = "payload") -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.

    mapInPandas (not a scalar UDF) so one Python invocation handles a whole
    Arrow batch, and wide rows never round-trip more than once.
    """
    id_name, payload_name = id_col, payload_col
    # single-file sources arrive as one partition -> one Python worker;
    # spread across the cluster before the Arrow exchange — size-aware, so
    # a tiny input keeps one partition (each extra one costs a Python
    # worker spin-up) while a 100TB source already arrives wide (no-op).
    from nexusbase_spark.plans import spread
    df = spread(df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_name]
            n = payloads.map(len)
            yield pd.DataFrame({
                "doc_id": pdf[id_name],
                "n_bytes": n.astype("int64"),
                "sha256": payloads.map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                "fake_width": (1 + n % 640).astype("int64"),
                "fake_height": (1 + n * 7 % 480).astype("int64"),
            })

    return df.select(id_col, payload_col).mapInPandas(run, META_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", LongType()),
    StructField("frame_bytes", LongType()),
    StructField("frame_sha", StringType()),
])


def sample_frames(df: DataFrame, frame_size: int = 1024, every: int = 2,
                  id_col: str = "doc_id",
                  payload_col: str = "payload") -> DataFrame:
    """Frame sampling over video-shaped binary payloads: the payload is
    treated as consecutive `frame_size`-byte frames and every `every`-th
    frame is emitted as its own row (doc_id, frame_idx, frame_bytes,
    frame_sha).

    The Spark-side plumbing is the real thing — a ROW-EXPANDING
    mapInPandas (one input row -> many frame rows) in Arrow batches, the
    same shape a real video codec integration needs; only the per-frame
    decode is the stub (byte slicing stands in for keyframe extraction —
    decode_image raises in this container). Payloads never leave the
    executors and never round-trip to the driver.
    """
    from nexusbase_spark.plans import spread
    df = spread(df)
    id_name, payload_name = id_col, payload_col

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, shas = [], [], [], []
            for did, payload in zip(pdf[id_name], pdf[payload_name]):
                b = bytes(payload)
                n_frames = max(1, (len(b) + frame_size - 1) // frame_size)
                for i in range(0, n_frames, every):
                    fr = b[i * frame_size:(i + 1) * frame_size]
                    ids.append(did)
                    idxs.append(i)
                    sizes.append(len(fr))
                    shas.append(hashlib.sha256(fr).hexdigest())
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs,
                                "frame_bytes": sizes, "frame_sha": shas})

    return df.select(id_col, payload_col).mapInPandas(run, FRAME_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("payload", BinaryType()),
    StructField("n_bytes", LongType()),
])


def resize_payload(df: DataFrame, out_bytes: int = 256,
                   id_col: str = "doc_id",
                   payload_col: str = "payload") -> DataFrame:
    """Resize stub: every payload is deterministically resampled to
    exactly `out_bytes` bytes (tile-and-truncate — the stand-in for
    bilinear resampling; a real codec slots into the same batch loop).
    Output schema/batching mirror what an image-resize stage feeds to a
    feature extractor: fixed-size binary + size column, Arrow both ways.
    """
    from nexusbase_spark.plans import spread
    df = spread(df)
    id_name, payload_name = id_col, payload_col

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for payload in pdf[payload_name]:
                b = bytes(payload) or b"\x00"
                reps = (out_bytes + len(b) - 1) // len(b)
                outs.append((b * reps)[:out_bytes])
            yield pd.DataFrame({"doc_id": pdf[id_name], "payload": outs,
                                "n_bytes": [len(o) for o in outs]})

    return df.select(id_col, payload_col).mapInPandas(run, RESIZE_SCHEMA)


def extract_features(df: DataFrame, dim: int = 8, id_col: str = "doc_id",
                     payload_col: str = "payload") -> DataFrame:
    """Feature-extraction stub: a deterministic `dim`-float vector from
    the payload's sha256 (byte j scaled to [0,1] at 1/255) — the
    embedding-model stand-in. The plumbing is the production shape: Arrow
    batch in, array<double> column out, ready for the similarity/dedup
    operators downstream; only the model call is faked (and the fake is
    oracle-expressible, so the contract is hash-checked end to end).
    """
    from pyspark.sql.types import ArrayType, DoubleType
    from nexusbase_spark.plans import spread
    df = spread(df)
    id_name, payload_name = id_col, payload_col
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                [b / 255.0 for b in hashlib.sha256(bytes(p)).digest()[:dim]]
                for p in pdf[payload_name]
            ]
            yield pd.DataFrame({"doc_id": pdf[id_name], "features": feats})

    return df.select(id_col, payload_col).mapInPandas(run, schema)
