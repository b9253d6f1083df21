"""Multimodal column plumbing (SURVEY.md §2.10 L5; driver north star).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. The Spark-side plumbing — schema, Arrow batch shape,
mapInPandas signatures, partitioning — is real and tested; the actual
codec step is STUBBED (this container has no image/audio libs): decode
either raises NotImplementedError (strict mode) or produces a
deterministic fake derived from the payload bytes (test mode), clearly
marked below.

At 100 TB: payloads dominate row size, so the frame is repartitioned by
byte budget before any mapInPandas (maxRecordsPerBatch keeps Arrow
batches bounded), and metadata-only queries never touch the binary
column thanks to parquet column pruning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # image | audio | video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("content_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("source_uri", T.StringType()),
    ]), True),
])

DECODED_IMAGE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def _fake_decode(payload: bytes | None) -> tuple[int, int, int, list[float]]:
    # STUB: deterministic fake "decode" — dimensions and an 8-dim feature
    # derived purely from payload bytes. Replace with PIL/libav decode in
    # a real deployment; the Spark plumbing around it is unchanged.
    if not payload:
        return (0, 0, 0, [0.0] * 8)
    n = len(payload)
    width = 1 + n % 640
    height = 1 + (n // 640) % 480
    feature = [float(payload[i % n]) / 255.0 for i in range(8)]
    return (width, height, 3, feature)


#: Session conf governing Arrow INPUT batch row counts for every
#: mapInPandas in the session — the only place an input-batch cap can
#: actually take effect (see decode_images docstring).
ARROW_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def decode_images(media: DataFrame, strict: bool = False,
                  batch_rows: int = 64,
                  warn_input_batch_rows: int = 4096) -> DataFrame:
    """Decode/feature-extract images with mapInPandas. ``strict=True``
    raises NotImplementedError (no codec libs here); ``strict=False``
    runs the deterministic fake so the pipeline shape is testable
    end-to-end.

    Batch bounding: OUTPUT batches are chunked to ``batch_rows`` inside
    the generator (decoded feature rows are wide). The INPUT Arrow batch
    size is governed by the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — deliberately NOT
    mutated here: the plan is lazy, so a set-here/restore-later around a
    transformation either leaks the setting into the whole session or
    restores it before execution reads it. Callers feeding multi-MB
    payloads should cap that conf at session-build time
    (``spark.conf.set(ARROW_BATCH_CONF, "256")``); if the session value
    exceeds ``warn_input_batch_rows`` a warning fires here so the risk
    is surfaced where the payload source is built, not just
    documented."""
    try:
        conf_rows = int(media.sparkSession.conf.get(ARROW_BATCH_CONF))
    except Exception:
        conf_rows = 10_000  # Spark's default when unset/unreadable
    if conf_rows > warn_input_batch_rows:
        import warnings
        warnings.warn(
            f"decode_images: {ARROW_BATCH_CONF}={conf_rows} exceeds "
            f"{warn_input_batch_rows}; with multi-MB payloads each Arrow "
            f"input batch can reach GBs per task. Cap it at session build "
            f"time, e.g. spark.conf.set({ARROW_BATCH_CONF!r}, '256').",
            ResourceWarning,
            stacklevel=2)

    def run(batches):
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "image decode requires codec libraries not present in "
                    "this environment; see _fake_decode for the test path")
            for lo in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[lo:lo + batch_rows]
                out = {"media_id": [], "width": [], "height": [],
                       "n_channels": [], "feature": []}
                for _, row in chunk.iterrows():
                    w, h, c, feat = _fake_decode(row["payload"])
                    out["media_id"].append(row["media_id"])
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_channels"].append(c)
                    out["feature"].append(feat)
                yield pd.DataFrame(out)

    media = media.select("media_id", "payload")
    return media.mapInPandas(run, DECODED_IMAGE_SCHEMA)


RESIZED_IMAGE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("payload", T.BinaryType()),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("frame_payload", T.BinaryType()),
])


def resize_images(media: DataFrame, width: int = 224, height: int = 224,
                  strict: bool = False, batch_rows: int = 64) -> DataFrame:
    """Resize images to a fixed (width, height) with mapInPandas — the
    standard normalize-before-embed step of a multimodal training
    pipeline. ``strict=True`` raises NotImplementedError (no codec libs
    in this container); ``strict=False`` runs a deterministic fake
    (payload truncated/cycled to width*height bytes) so the Spark-side
    plumbing — schema, Arrow batching, binary output column — is
    testable end-to-end. Same input-batch-cap contract as
    decode_images: cap Arrow batches at session build time."""

    def run(batches):
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "image resize requires codec libraries not present "
                    "in this environment; the fake path exercises the "
                    "plumbing")
            for lo in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[lo:lo + batch_rows]
                out = {"media_id": [], "width": [], "height": [],
                       "payload": []}
                target = width * height
                for _, row in chunk.iterrows():
                    p = row["payload"] or b""
                    # STUB: cycle/truncate bytes to the target size —
                    # a real deployment swaps in PIL.Image.resize here.
                    resized = ((p * (target // max(1, len(p)) + 1))[:target]
                               if p else bytes(target))
                    out["media_id"].append(row["media_id"])
                    out["width"].append(width)
                    out["height"].append(height)
                    out["payload"].append(resized)
                yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, RESIZED_IMAGE_SCHEMA)


def sample_frames(media: DataFrame, frame_interval_ms: int = 40,
                  strict: bool = False, batch_rows: int = 64) -> DataFrame:
    """Sample frames from video payloads with mapInPandas — one input
    row fans out to n_frames output rows, the shape that matters at
    scale (a 100 TB video corpus explodes ~100x on frame extraction, so
    output batches must stay bounded regardless of input batch size —
    hence the chunked generator). ``strict=True`` raises (no libav
    here); the fake path is DETERMINISTIC in the byte length:
    n_frames = 1 + len(payload) % 4, frame k carries every n_frames-th
    byte starting at k and ts_ms = k * frame_interval_ms — so the
    (media_id, frame_idx, ts_ms) lattice is exactly reproducible by an
    external oracle even though the payload stub is fake."""

    def run(batches):
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "frame sampling requires video codec libraries not "
                    "present in this environment; the fake path "
                    "exercises the fan-out plumbing")
            out = {"media_id": [], "frame_idx": [], "ts_ms": [],
                   "frame_payload": []}
            n_out = 0
            for _, row in pdf.iterrows():
                p = row["payload"] or b""
                n_frames = 1 + len(p) % 4
                for k in range(n_frames):
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(k)
                    out["ts_ms"].append(k * frame_interval_ms)
                    out["frame_payload"].append(p[k::n_frames])
                    n_out += 1
                    if n_out >= batch_rows:
                        yield pd.DataFrame(out)
                        out = {"media_id": [], "frame_idx": [],
                               "ts_ms": [], "frame_payload": []}
                        n_out = 0
            if n_out:
                yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, FRAME_SCHEMA)


def synthetic_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a MEDIA_SCHEMA frame from the documents table (UTF-8 bytes
    as payload) — the deterministic test corpus for the decode path."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("content_type"),
            F.col("n_chars").alias("n_bytes"),
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("source_uri"),
        ).alias("meta"),
    )
