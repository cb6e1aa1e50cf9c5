"""Multimodal columns: opaque binary payloads + typed metadata (north
star; reference analogue is the PDF blob path S1–S3, Q15 image search —
core/supabase_utils.py:150-200, core/views.py:496-731).

Design for 100 TB of media:
  - media is an opaque `binary` column with typed metadata alongside —
    never parsed by Catalyst, only by Arrow-batched Python stages;
  - decode / feature-extract / resize / frame-sample run in mapInPandas:
    schema, batch shape and partitioning are real Spark plumbing; the
    pixel-level decode is import-gated (PIL/av are not in this
    container) with a DETERMINISTIC byte-level fake, so the pipeline is
    testable end-to-end and oracle-checkable;
  - binaryFile is the ingest source for real files
    (spark.read.format("binaryFile").option("pathGlobFilter", "*.pdf") —
    S1, embed_pdfs.py:67).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "media_id bigint, kind string, byte_len bigint, width int, height int, "
    "n_frames int, ok boolean"
)


def scan_binary_dir(spark: SparkSession, path: str, glob: str = "*.pdf") -> DataFrame:
    """S1 (embed_pdfs.py:67): directory scan → (path, modificationTime,
    length, content binary)."""
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )


def media_table(documents: DataFrame) -> DataFrame:
    """Derive a media-shaped table from the fixture text corpus: the text
    bytes stand in for encoded media payloads (deterministic on both
    engines: content = UTF-8 bytes of text)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
    )


def _real_decode_available() -> bool:
    try:  # pragma: no cover - container has no PIL
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _fake_decode(media_id: int, kind: str, content: bytes) -> dict:
    """Deterministic byte-level stand-in for a real decoder: dimensions
    derived from payload length so the DuckDB oracle can replicate them.
    A real deployment replaces this with PIL/av decode — same schema."""
    n = len(content)
    return {
        "media_id": media_id,
        "kind": kind,
        "byte_len": n,
        "width": n % 640,
        "height": (n * 7) % 480,
        "n_frames": (n % 100) if kind == "video" else 1,
        "ok": True,
    }


def decode_media(media: DataFrame) -> DataFrame:
    """Decode / feature-extract via mapInPandas: Arrow batches of binary
    payloads stream through Python once, partition-parallel. With PIL
    installed this is where pixels would be decoded; without it the
    deterministic fake keeps the plumbing (schema, batching, null
    handling) fully exercised."""
    use_real = _real_decode_available()

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if use_real:  # pragma: no cover - not available in this container
            raise NotImplementedError(
                "real decode path: implement PIL/av decoding here; the "
                "container ships without imaging libraries"
            )
        for pdf in batches:
            rows = [
                _fake_decode(m, k, c)
                for m, k, c in zip(pdf["media_id"], pdf["kind"], pdf["content"])
            ]
            yield pd.DataFrame(rows, columns=[
                "media_id", "kind", "byte_len", "width", "height", "n_frames", "ok",
            ])

    return media.mapInPandas(_decode, schema=DECODED_SCHEMA)


def binary_features(media: DataFrame) -> DataFrame:
    """JVM-side features over the binary column — no Python hop: byte
    length, md5, 4-byte header hex. Proves binary columns flow through
    Catalyst expressions untouched."""
    return media.select(
        "media_id",
        "kind",
        F.length("content").alias("byte_len"),
        F.md5("content").alias("content_md5"),
        F.hex(F.expr("substring(content, 1, 4)")).alias("header_hex"),
    )


RESIZED_SCHEMA = "media_id bigint, kind string, width int, height int, out_w int, out_h int"
FRAMES_SCHEMA = "media_id bigint, frame_idx int, frame_off bigint, frame_sig int"


def resize_media(decoded: DataFrame) -> DataFrame:
    """Thumbnail/resize stage via mapInPandas. With an imaging lib this is
    where pixels get resampled; here the geometry is real (integer
    floor-scaling to fit 64 x 64, never upscaling) and the payload
    transform is the import-gated stub — so the batch shape, schema and
    scaling arithmetic are all exercised and oracle-checked."""
    use_real = _real_decode_available()

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if use_real:  # pragma: no cover - not available in this container
            raise NotImplementedError("real resample path (PIL.Image.thumbnail)")
        for pdf in batches:
            w = pdf["width"].astype("int64").clip(lower=0)
            h = pdf["height"].astype("int64").clip(lower=0)
            pct = pd.concat(
                [
                    (64 * 1000) // w.clip(lower=1),
                    (64 * 1000) // h.clip(lower=1),
                ],
                axis=1,
            ).min(axis=1).clip(upper=1000)
            out = pdf[["media_id", "kind", "width", "height"]].copy()
            out["out_w"] = ((w * pct) // 1000).astype("int32")
            out["out_h"] = ((h * pct) // 1000).astype("int32")
            yield out

    return decoded.mapInPandas(_resize, schema=RESIZED_SCHEMA)


def sample_frames(decoded: DataFrame) -> DataFrame:
    """Frame-sampling stage via mapInPandas: every 10th frame of
    each video payload, with its byte offset (uniform frame stride over
    the payload) and a deterministic per-frame signature standing in for
    the decoded-frame feature. Non-video rows and zero-frame payloads are
    filtered JVM-side BEFORE the Python hop — pushdown keeps the Arrow
    transfer to the rows that matter."""
    use_real = _real_decode_available()
    vids = decoded.filter((F.col("kind") == "video") & (F.col("n_frames") > 0))

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if use_real:  # pragma: no cover - not available in this container
            raise NotImplementedError("real frame decode path (av.open)")
        for pdf in batches:
            rows = []
            for m, blen, nf in zip(pdf["media_id"], pdf["byte_len"], pdf["n_frames"]):
                stride = int(blen) // int(nf)
                for idx in range(0, int(nf), 10):
                    rows.append(
                        (int(m), idx, idx * stride, (int(m) * 31 + idx) % 997)
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_off", "frame_sig"]
            )

    return vids.mapInPandas(_sample, schema=FRAMES_SCHEMA)
