"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

Feature extraction runs ``_fake_decode``, a deterministic stand-in for a
real decoder that DuckDB can recompute.  Everything around that hook is
the real 100 TB-shape plumbing:

- payloads travel as ``binary`` columns with a metadata struct (never
  exploded into rows);
- feature extraction is ``mapInPandas`` over Arrow record batches — the
  executor-side pattern that a real decoder (PIL/ffmpeg) would slot into
  without touching the plan;
- batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  so decoded tensors fit executor memory.

``multimodal_bytes`` (the oracle-checked query) pushes real bytes through
the mapInPandas path and emits per-doc byte metadata that DuckDB can
recompute from the source text — proving the Arrow plumbing preserves
payloads exactly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..sources.tables import read_table

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("content_md5", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


FRAME_BYTES = 256
FRAME_STRIDE = 4

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame_off", T.LongType(), False),
        T.StructField("frame_bytes", T.LongType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ]
)


def sample_frames(media: DataFrame, frame_bytes: int = FRAME_BYTES, stride: int = FRAME_STRIDE) -> DataFrame:
    """Frame sampling over opaque payloads: split each payload into
    fixed-size byte frames (a stand-in for video GOP/frame boundaries a
    real demuxer would produce), keep every ``stride``-th frame.

    One payload row fans out to ~n_bytes/frame_bytes/stride rows inside
    ``mapInPandas`` — the fan-out happens executor-side per Arrow batch,
    never through a driver loop, and the output is a narrow (ids + md5)
    relation, so the heavy binary column does NOT survive into the result
    (the shape that matters when the payloads are GB-scale video)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_off": [], "frame_bytes": [], "frame_md5": [],
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(content)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    off = i * frame_bytes
                    frame = b[off : off + frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_off"].append(off)
                    out["frame_bytes"].append(len(frame))
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, FRAME_SCHEMA)


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked frame sampling: real bytes through mapInPandas fan-out."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return sample_frames(attach_binary(docs))


def _fake_decode(content: bytes) -> list[float]:
    """Deterministic stand-in for decode+feature-extract: first 4 bytes as
    floats (stable across engines and runs)."""
    head = content[:4].ljust(4, b"\0")
    return [float(b) for b in head]


def attach_binary(docs: DataFrame) -> DataFrame:
    """Model documents as multimodal rows: utf-8 payload bytes + metadata."""
    content = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        content.alias("content"),
        F.lit("text/plain").alias("media_type"),
        F.octet_length(content).cast("long").alias("n_bytes"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": content.map(len).astype("int64"),
                    "content_md5": content.map(lambda b: hashlib.md5(b).hexdigest()),
                    "feature": content.map(_fake_decode),
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked query: real bytes through the mapInPandas path."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return extract_features(attach_binary(docs)).select(
        "doc_id", "n_bytes", "content_md5", F.element_at("feature", 1).cast("double").alias("first_byte")
    )

