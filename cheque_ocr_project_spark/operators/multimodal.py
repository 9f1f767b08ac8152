"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, Arrow batch shape,
partition-friendly mapInPandas signatures, deterministic behavior. The
actual codec work is STUBBED (pillow/librosa/av are not in this container):
each stage tries the real library on the payload and falls back to a
clearly-marked deterministic stub on ImportError OR decode failure — the
job can never crash on a codec path (the real decode of a non-image payload
degrades to the stub row, labeled in ``decoder``).

Stub feature spec (shared with the DuckDB oracle in plans/flagship.py):
``seed = polyhash(payload-as-utf8-text)`` — the same 31-bit polynomial hash
as the dedup operators — and every stub feature is an exact integer formula
of (seed, meta), so the driver recomputes all three feature tables.

Schema:
    media(media_id long, kind string, payload binary,
          meta struct<mime string, width int, height int,
                      sample_rate int, duration_ms int>)
"""

from __future__ import annotations

import io

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cheque_ocr_project_spark.operators.dedup import batch_polyhash


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents table: payload
    = utf-8 bytes of the text; metadata derived from sizes. Lets every
    multimodal stage run on the driver-provided testdata without external
    files."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode(F.col("text"), "utf-8")
    n = F.octet_length(payload)
    meta = F.struct(
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        (F.pmod(n, F.lit(640)) + 32).cast("int").alias("width"),
        (F.pmod(n * 7, F.lit(480)) + 32).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.pmod(n * 31, F.lit(60000)) + 1000).cast("int").alias("duration_ms"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"), kind.alias("kind"),
        payload.alias("payload"), meta.alias("meta"),
    )


def _payload_seeds(payloads) -> np.ndarray:
    """Stub decode seed per payload: polyhash of the utf-8-decoded bytes
    (vectorized across the batch; SQL twin hashes the source text)."""
    texts = [
        (bytes(p) if p is not None else b"").decode("utf-8", "replace")
        for p in payloads
    ]
    return batch_polyhash(texts)


try:  # pragma: no cover - not present in this container
    from PIL import Image

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False


IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_luma", T.DoubleType()),
    T.StructField("edge_density", T.DoubleType()),
    T.StructField("decoder", T.StringType()),
])


def _pil_image_features(payload: bytes) -> tuple[int, int, float, float]:
    """Real decode path (runs when pillow is installed AND the payload is a
    decodable image; raises otherwise and the caller falls back)."""
    img = Image.open(io.BytesIO(payload)).convert("L")  # pragma: no cover
    px = np.asarray(img, dtype=np.uint8)  # pragma: no cover
    grad = np.abs(np.diff(px.astype(np.int16), axis=1)).mean()  # pragma: no cover
    return (px.shape[1], px.shape[0], float(px.mean()) / 255.0,  # pragma: no cover
            float(grad) / 255.0)


def image_features_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch of image rows → feature rows. Module-level so tests
    can exercise both decode branches in-process (the pil branch via
    monkeypatch, the stub branch as shipped)."""
    seeds = _payload_seeds(pdf["payload"])
    out = {k: [] for k in ("media_id", "width", "height",
                           "mean_luma", "edge_density", "decoder")}
    for mid, payload, meta, seed in zip(
        pdf["media_id"], pdf["payload"], pdf["meta"], seeds
    ):
        w, h = int(meta["width"]), int(meta["height"])
        luma = edge = None
        decoder = "stub"
        if HAVE_PIL:
            try:
                w, h, luma, edge = _pil_image_features(bytes(payload or b""))
                decoder = "pil"
            except Exception:
                luma = edge = None
        if luma is None:
            s = int(seed)
            luma = ((s + 31 * w + 7 * h) % 256) / 255.0
            edge = ((s * 13 + w + h) % 100) / 100.0
        out["media_id"].append(mid)
        out["width"].append(w)
        out["height"].append(h)
        out["mean_luma"].append(luma)
        out["edge_density"].append(edge)
        out["decoder"].append(decoder)
    return pd.DataFrame(out)


def image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract stage (Arrow-batched).

    Real plumbing: binary payload + struct meta in, flat features out. The
    decode tries pillow when available and NEVER poisons the job: any
    decode failure (or pillow absent) degrades to the deterministic stub
    features ``mean_luma = ((seed + 31w + 7h) % 256)/255``,
    ``edge_density = ((seed*13 + w + h) % 100)/100``."""

    def batches(pdf_iter):
        for pdf in pdf_iter:
            yield image_features_pdf(pdf)

    return media.filter(F.col("kind") == "image").mapInPandas(
        batches, schema=IMAGE_FEATURES_SCHEMA
    )


def resize_images(media: DataFrame, scale_percent: int = 50) -> DataFrame:
    """Graft of the reference's 50% downscale (tiff_processor.py:6-7, 84-99).

    STUB: payload passthrough-truncated deterministically; real impl resizes
    the decoded image and re-encodes."""
    w = (F.col("meta.width") * scale_percent / 100).cast("int")
    h = (F.col("meta.height") * scale_percent / 100).cast("int")
    return media.filter(F.col("kind") == "image").select(
        "media_id", w.alias("width"), h.alias("height"),
        F.expr("substring(payload, 1, greatest(cast(octet_length(payload) * "
               f"{scale_percent} / 100 as int), 1))").alias("payload"),
    )


FRAME_SAMPLE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("ts_ms", T.IntegerType()),
    T.StructField("frame_luma", T.DoubleType()),
])


def sample_frames(media: DataFrame, fps: float = 1.0) -> DataFrame:
    """Video frame sampling: one output row per sampled frame (explode
    shape). STUB frame decode (``frame_luma = ((seed >> (i % 24)) & 255)
    / 255``); real impl seeks with PyAV."""

    def batches(pdf_iter):
        for pdf in pdf_iter:
            seeds = _payload_seeds(pdf["payload"])
            out = {k: [] for k in ("media_id", "frame_idx", "ts_ms", "frame_luma")}
            for mid, meta, seed in zip(pdf["media_id"], pdf["meta"], seeds):
                duration = int(meta["duration_ms"])
                n_frames = max(1, int(duration / 1000 * fps))
                s = int(seed)
                for i in range(n_frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(int(i * 1000 / fps))
                    out["frame_luma"].append(((s >> (i % 24)) & 0xFF) / 255.0)
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "video").mapInPandas(
        batches, schema=FRAME_SAMPLE_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_crossings", T.IntegerType()),
])


def audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction over STUB samples: ``rms = ((seed*17 + n)
    % 1000)/1000``, ``zero_crossings = (seed*7 + n*3) % 1000`` with n =
    payload bytes; real impl decodes with librosa/soundfile (same
    fall-back-never-crash structure as image_features)."""

    def batches(pdf_iter):
        for pdf in pdf_iter:
            seeds = _payload_seeds(pdf["payload"])
            out = {k: [] for k in ("media_id", "sample_rate", "rms", "zero_crossings")}
            for mid, payload, meta, seed in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"], seeds
            ):
                n = len(bytes(payload or b""))
                s = int(seed)
                out["media_id"].append(mid)
                out["sample_rate"].append(int(meta["sample_rate"]))
                out["rms"].append(((s * 17 + n) % 1000) / 1000.0)
                out["zero_crossings"].append(int((s * 7 + n * 3) % 1000))
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "audio").mapInPandas(
        batches, schema=AUDIO_FEATURES_SCHEMA
    )
