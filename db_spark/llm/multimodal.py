"""Multimodal column handling: image/audio/video as opaque binary columns
with typed metadata structs.

The Spark-side plumbing (schemas, Arrow-batched mapInPandas pipelines,
partition sizing) is real and tested, and so is the default decode:
``codecs`` installs zero-dependency image (PNG/PPM/BMP), audio (WAV) and
video (y4m) decoders on import, preferring PIL/PyAV when importable.
Compressed video without PyAV keeps an honest NotImplementedError.
Register your own with ``register_decoder``; the deterministic fake
decoder lets tests exercise the pipeline shape format-independently.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Standard multimodal record layout: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),  # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("content_hash", T.StringType(), True),
    T.StructField("features", T.ArrayType(T.FloatType()), True),
])


def _fake_decode(payload: bytes, modality: str) -> list[float]:
    """Deterministic stand-in for a real decoder: 8 bucket-normalized
    byte-histogram features. Replace via register_decoder()."""
    if payload is None:
        return []
    hist = [0] * 8
    for b in payload:
        hist[b >> 5] += 1
    n = max(len(payload), 1)
    return [round(h / n, 6) for h in hist]


def _real_decode(payload: bytes, modality: str) -> list[float]:
    raise NotImplementedError(
        "no decoder registered for this modality; register one with "
        "register_decoder('<modality>', fn)"
    )


DECODERS: dict[str, Callable[[bytes, str], list[float]]] = {
    "fake": _fake_decode,
    "image": _real_decode,  # replaced by codecs.install_default_decoders()
    "audio": _real_decode,  # replaced by codecs.install_default_decoders()
    "video": _real_decode,  # replaced by codecs.install_default_decoders()
}


def register_decoder(modality: str, fn: Callable[[bytes, str], list[float]]) -> None:
    DECODERS[modality] = fn


def extract_features(
    df: DataFrame, decoder: str | None = None, batch_hint: int = 256,
) -> DataFrame:
    """Arrow-batched feature extraction over the opaque payload column.

    mapInPandas keeps payload bytes inside executor-local Arrow batches —
    no driver collection, no per-row Python dispatch. ``decoder`` forces
    a specific DECODERS entry (tests use 'fake'); by default each row's
    ``modality`` picks its decoder.
    """
    forced = decoder

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            # Column-vectorized for everything except the decoder call:
            # n_bytes/content_hash are cheap per-row closures over the
            # payload Series (no iterrows Series construction per row —
            # ~2x less per-row overhead on small payloads; decode still
            # dominates for real media).
            payloads = pdf["payload"]
            out = pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "modality": pdf["modality"].to_numpy(),
                # nullable Int64: a NULL payload has no byte count
                # (octet_length(NULL) is NULL on any SQL engine; the
                # old 0 diverged from the oracle on NULL-text docs)
                "n_bytes": payloads.map(
                    lambda p: len(p) if p is not None else None)
                .astype("Int64"),
                "content_hash": payloads.map(
                    lambda p: hashlib.sha256(p).hexdigest()
                    if p is not None else None),
            })
            if forced:
                fn = DECODERS[forced]
                out["features"] = [
                    fn(p, m) for p, m in zip(payloads, pdf["modality"])]
            else:
                out["features"] = [
                    DECODERS[m](p, m) for p, m in zip(payloads, pdf["modality"])]
            yield out

    return df.select("media_id", "modality", "payload").mapInPandas(_map, FEATURE_SCHEMA)


def media_stats(df: DataFrame) -> DataFrame:
    """Pure-Column metadata statistics (no decode): per-modality counts
    and payload sizes — runs at scan speed."""
    return df.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length(F.col("payload")).cast("long")).alias("total_bytes"),
        F.max(F.length(F.col("payload")).cast("long")).alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# Transform plumbing: resize (images) and frame sampling (video/audio).
# The byte-level transform is stubbed like decode (codec libs absent);
# the Spark side — schema preservation, Arrow batching, meta update,
# one-row-to-many explosion for frames — is real and tested.
# ---------------------------------------------------------------------------

TRANSFORMS: dict[str, Callable[[bytes, dict, int, int], bytes]] = {}


def register_transform(name: str, fn: Callable[[bytes, dict, int, int], bytes]) -> None:
    TRANSFORMS[name] = fn


def _fake_resize(payload: bytes, meta: dict, w: int, h: int) -> bytes:
    # deterministic stand-in: proportionally subsample the payload bytes
    n = max(1, int(len(payload) * min(1.0, (w * h) / 4096.0)))
    return payload[:n]


TRANSFORMS["fake_resize"] = _fake_resize


def resize_media(
    df: DataFrame, width: int, height: int, transform: str = "fake_resize",
) -> DataFrame:
    """MEDIA_SCHEMA -> MEDIA_SCHEMA with resized payloads and updated
    meta.width/height. Payload bytes never leave executor Arrow batches."""
    fn = TRANSFORMS[transform]

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [
                fn(p, m, width, height) if p is not None else None
                for p, m in zip(pdf["payload"], pdf["meta"])
            ]
            pdf["meta"] = [
                {**(m or {}), "width": width, "height": height}
                for m in pdf["meta"]
            ]
            yield pdf

    return df.mapInPandas(_map, MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.LongType(), False),
    T.StructField("frame_ms", T.LongType(), True),
    T.StructField("payload", T.BinaryType(), True),
])

#: Named frame extractors for sample_frames: fn(payload, meta, every_ms,
#: max_frames) -> [(frame_ms, frame_bytes)]. codecs registers the real
#: 'video_frames' (y4m/PyAV decode -> PNG frames) on import.
FRAME_EXTRACTORS: dict[
    str, Callable[[bytes, dict, int, int], list[tuple[int, bytes]]]] = {}


def register_frame_extractor(
    name: str,
    fn: Callable[[bytes, dict, int, int], list[tuple[int, bytes]]],
) -> None:
    FRAME_EXTRACTORS[name] = fn


def sample_frames(
    df: DataFrame, every_ms: int = 1000, max_frames: int = 16,
    extractor: str | None = None,
) -> DataFrame:
    """One media row -> N frame rows at a fixed time stride (video frame
    sampling / audio chunking). By default frame extraction is byte
    slicing (format-agnostic placeholder); pass
    ``extractor='video_frames'`` for the REAL decode path — y4m (and
    PyAV-covered containers) are decoded and each sampled luma frame is
    re-encoded as PNG. Either way the one-to-many Arrow-batched
    explosion and the (media_id, frame_idx) output contract are the same
    real plumbing."""
    fx = FRAME_EXTRACTORS[extractor] if extractor is not None else None

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ms": [], "payload": []}
            # zip over raw columns — no per-row pandas Series construction
            # (iterrows builds one Series per row, ~10x the iteration cost
            # on small payloads; the slicing below is the real work)
            for media_id, payload, meta in zip(
                    pdf["media_id"], pdf["payload"], pdf["meta"]):
                if payload is None:
                    continue
                meta = meta or {}
                if fx is not None:
                    for i, (ms, frame) in enumerate(
                            fx(payload, meta, every_ms, max_frames)):
                        out["media_id"].append(media_id)
                        out["frame_idx"].append(i)
                        out["frame_ms"].append(ms)
                        out["payload"].append(frame)
                    continue
                duration = meta.get("duration_ms") or every_ms * max_frames
                n = min(max_frames, max(1, int(duration // every_ms)))
                step = max(1, len(payload) // n)
                for i in range(n):
                    out["media_id"].append(media_id)
                    out["frame_idx"].append(i)
                    out["frame_ms"].append(i * every_ms)
                    out["payload"].append(payload[i * step:(i + 1) * step])
            yield pd.DataFrame(out)

    return df.select("media_id", "payload", "meta").mapInPandas(_map, FRAME_SCHEMA)


# Install the real (stdlib-backed, PIL/PyAV-preferred) image/audio/video
# decoders on import; compressed video without PyAV raises the honest
# NotImplementedError inside codecs.decode_video.
from db_spark.llm import codecs as _codecs  # noqa: E402  (cycle-safe: lazy inside)

DECODER_IMPLS = _codecs.install_default_decoders()
