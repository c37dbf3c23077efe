"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The decode libraries (PIL/ffmpeg/etc.) are not in this container, so the
decode step is STUBBED: :func:`register_decoder` accepts a real decoder when
available; the default is a clearly-marked deterministic fake
(:func:`fake_decode`) so the Spark-side plumbing — schema, partitioning, UDF
signature, Arrow batch shape — is real and tested. Swapping in a real decoder
changes one function, not the plan.

Scale notes: payloads ride as Arrow binary buffers through mapInPandas;
feature extraction is per-batch numpy; the caller repartitions size-skewed
payloads (videos) before the operator, as it does giant web pages.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),  # 16-dim
    ]
)


def real_decode(payload: bytes, modality: str) -> np.ndarray:
    """Placeholder for the real decoder (PIL.Image.open / soundfile / ffmpeg
    frame sampling). Not available in this container."""
    raise NotImplementedError(
        "media decode requires image/audio libs not present in this environment; "
        "register a decoder with register_decoder()"
    )


def fake_decode(payload: bytes, modality: str) -> np.ndarray:
    """DETERMINISTIC FAKE decode: byte histogram over 16 buckets, L1-normed.
    Stands in for decoded-pixel/sample features so the pipeline shape is
    fully exercised."""
    if not payload:
        return np.zeros(16, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=16).astype(np.float32)
    return hist / max(hist.sum(), 1.0)


_DECODER: Callable[[bytes, str], np.ndarray] = fake_decode


def register_decoder(fn: Callable[[bytes, str], np.ndarray]) -> None:
    global _DECODER
    _DECODER = fn


def synthesize_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic media table from the documents corpus: payload = UTF-8
    bytes of the text (opaque binary as far as the pipeline is concerned),
    modality round-robins, meta derived from sizes."""
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col(id_col), F.lit(3)) + 1).cast("int"),
    )
    return docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        modality.alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            (F.pmod(F.col(id_col), F.lit(640)) + 32).cast("int").alias("width"),
            (F.pmod(F.col(id_col), F.lit(480)) + 32).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(F.col(id_col), F.lit(300)) + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """Decode (stub) + featurize each payload; one numpy pass per Arrow batch."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decoder = _DECODER
        for pdf in batches:
            if pdf.empty:
                continue
            feats = [
                decoder(payload, modality).astype(np.float32).tolist()
                for payload, modality in zip(pdf["payload"], pdf["modality"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return media.select("media_id", "modality", "payload").mapInPandas(
        featurize, FEATURES_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: expands (media_id, frame_idx) rows for
    every_n-th frame from metadata only — the decode of each sampled frame is
    the stubbed step. Shows the explode-then-process partitioning shape."""
    return (
        media.where(F.col("modality") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """DETERMINISTIC FAKE resize standing in for the decode->scale->encode
    round trip (PIL.Image.resize): nearest-neighbor sampling of the payload
    byte stream to exactly width*height bytes. Deterministic, size-exact, and
    cheap — the Spark-side plumbing (schema, Arrow batching, meta rewrite) is
    what this exercises."""
    n_out = width * height
    if not payload:
        return bytes(n_out)
    arr = np.frombuffer(payload, dtype=np.uint8)
    idx = (np.arange(n_out, dtype=np.int64) * len(arr)) // n_out
    return arr[idx].tobytes()


def resize_media(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Resize every image payload to width x height (audio/video pass through
    untouched); one numpy pass per Arrow batch via mapInPandas. Swapping
    :func:`fake_resize` for a real decoder-backed resize changes one
    function, not the plan."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = []
            metas = []
            for payload, modality, meta in zip(
                pdf["payload"], pdf["modality"], pdf["meta"]
            ):
                if modality == "image":
                    payloads.append(fake_resize(payload, width, height))
                    metas.append(
                        {
                            "width": width,
                            "height": height,
                            "sample_rate": meta["sample_rate"],
                            "n_frames": meta["n_frames"],
                        }
                    )
                else:
                    payloads.append(payload)
                    metas.append(meta)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return media.select("media_id", "modality", "payload", "meta").mapInPandas(
        do_resize, RESIZED_SCHEMA
    )
