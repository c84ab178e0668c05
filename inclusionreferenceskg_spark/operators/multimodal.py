"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with typed
metadata; the decode / feature-extraction step is a Pandas-UDF boundary
(Arrow ships the bytes batch-wise, one Python worker call per batch, never
per row).  The actual codecs (PIL / torchaudio / ffmpeg) are not available
in this container, so the decode body is stubbed behind an import-try with
a deterministic fallback — the Spark-side contract (schema, batching,
partition behavior) is real and tested; swapping in a real decoder touches
only ``_decode_image_bytes``.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

try:  # pragma: no cover - not installed in this environment
    from PIL import Image  # noqa: F401
    _HAVE_PIL = True
except Exception:
    _HAVE_PIL = False

IMAGE_META = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("sha256", T.StringType(), False),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def _decode_image_bytes(payload: bytes):
    """Decode + featurize one image payload.

    With PIL present this would open the image and compute (width, height,
    channel-mean feature).  Deterministic fake in this sandbox: dimensions
    derived from the payload hash, feature = 8 hash-derived floats.
    """
    if _HAVE_PIL:  # pragma: no cover - PIL absent in this container
        try:
            import io

            with Image.open(io.BytesIO(payload)) as img:
                width, height = img.size
                small = img.convert("RGB").resize((8, 8))
                pixels = list(small.getdata())
                n = len(pixels)
                feature = [round(sum(p[c] for p in pixels) / n / 255.0, 6)
                           for c in range(3)]
                return width, height, feature
        except Exception:
            pass  # not a decodable image -> deterministic fallback below
    digest = hashlib.sha256(payload or b"").digest()
    width = 64 + digest[0]
    height = 64 + digest[1]
    feature = [round(b / 255.0, 6) for b in digest[2:10]]
    return width, height, feature


def image_metadata(pages: DataFrame,
                   binary_col: str = "html") -> DataFrame:
    """binary column -> typed metadata + feature vector (Arrow-batched)."""

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf[binary_col]):
                blob = bytes(payload) if payload is not None else b""
                width, height, feature = _decode_image_bytes(blob)
                rows.append((url, len(blob),
                             hashlib.sha256(blob).hexdigest(),
                             width, height, feature))
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_META.fields])

    return pages.select("url", binary_col).mapInPandas(run, IMAGE_META)


def pdf_to_text(pages: DataFrame, binary_col: str = "html") -> DataFrame:
    """S1 PDF scan (pdf_parser.py:4-21 analog): binary PDF payloads ->
    extracted text, via the self-contained extractor in
    ``functions/pdftext.py`` (no Tika / PDF library in this container).
    Arrow-batched ``mapInPandas`` — bytes never leave the executor, one
    Python call per batch."""
    from inclusionreferenceskg_spark.functions.pdftext import (
        pdf_to_text as _extract,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.StringType()),
    ])

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf[binary_col]):
                blob = bytes(payload) if payload is not None else b""
                try:
                    text = _extract(blob) if blob.startswith(b"%PDF") else None
                except Exception:
                    text = None
                rows.append((url, text))
            yield pd.DataFrame(rows, columns=["url", "extracted_text"])

    return pages.select("url", binary_col).mapInPandas(run, schema)


def html_to_text(pages: DataFrame, binary_col: str = "html") -> DataFrame:
    """Fallback text extraction from the raw ``html`` payload (the S1
    equivalent: the pipeline normally consumes the pre-extracted ``text``
    column; this exists for rows where only ``html`` is populated).
    JVM-side: decode + strip tags/scripts + collapse whitespace."""
    raw = F.decode(F.col(binary_col), "UTF-8")
    no_script = F.regexp_replace(
        raw, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    no_tags = F.regexp_replace(no_script, r"(?s)<[^>]+>", " ")
    text = F.trim(F.regexp_replace(no_tags, r"\s+", " "))
    return pages.select("url", text.alias("extracted_text"))


#: one <a> tag: href attribute + anchor text
_A_TAG_RE = r'(?is)<a\s+[^>]*href="([^"]*)"[^>]*>(.*?)</a>'


def html_links(pages: DataFrame, binary_col: str = "html") -> DataFrame:
    """Hyperlink extraction from the raw ``html`` payload: one row per
    ``<a>`` tag in document order — (src, href, anchor).  This is the
    edge source of the REAL web link graph (the synthetic
    ``graph.link_edges`` generator stands in only where a DuckDB oracle
    needs engine-identical edges from the documents table).

    JVM-side end to end: decode + two-group ``regexp_extract_all`` +
    ``arrays_zip`` + ``explode`` — a narrow per-row transform, no Python,
    no shuffle; pages without links (or null html) emit nothing.
    """
    raw = F.decode(F.col(binary_col), "UTF-8")
    hrefs = F.regexp_extract_all(raw, F.lit(_A_TAG_RE), F.lit(1))
    anchors = F.regexp_extract_all(raw, F.lit(_A_TAG_RE), F.lit(2))
    pair = F.explode(F.arrays_zip(hrefs.alias("href"),
                                  anchors.alias("anchor")))
    return (pages.select(F.col("url").alias("src"), pair.alias("p"))
            .select("src", F.col("p.href").alias("href"),
                    F.col("p.anchor").alias("anchor")))


def page_link_graph(pages: DataFrame) -> DataFrame:
    """Directed url-level link graph from the html payload: (src, dst)
    distinct, self-links dropped — plug-compatible with every operator
    in ``operators/graph.py`` (they only require (src, dst) columns)."""
    return (html_links(pages)
            .select("src", F.col("href").alias("dst"))
            .filter(F.col("dst") != F.col("src"))
            .distinct())


VIDEO_FRAME = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("duration_ms", T.IntegerType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("ts_ms", T.IntegerType(), False),
    T.StructField("frame_sha256", T.StringType(), False),
])


def _probe_video(payload: bytes):
    """Container/stream probe for one video payload.

    A real build would ffprobe the container; in this sandbox the stream
    properties are derived deterministically from the payload hash so the
    plumbing (schema, fan-out row shape, batch behavior) is fully testable
    and oracle-checkable."""
    digest = hashlib.sha256(payload or b"").hexdigest()
    duration_ms = 1000 + int(digest[:4], 16)
    width = 320 + int(digest[4:6], 16)
    height = 240 + int(digest[6:8], 16)
    return digest, duration_ms, width, height


def frame_sample(videos: DataFrame, binary_col: str = "html",
                 n_frames: int = 4) -> DataFrame:
    """Uniform frame sampling over an opaque video column: one output row
    per sampled frame (Arrow-batched ``mapInPandas``, 1→n_frames fan-out
    inside the Python worker — bytes are shipped once per batch and the
    emitted rows carry only metadata + a frame digest, never pixels).
    The frame decode itself is the swap-point: with a codec present,
    ``frame_sha256`` would hash the decoded frame; here it hashes the
    (payload digest, frame index) pair, keeping the row contract live."""

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf[binary_col]):
                blob = bytes(payload) if payload is not None else b""
                digest, duration_ms, width, height = _probe_video(blob)
                for i in range(n_frames):
                    ts_ms = i * duration_ms // n_frames
                    fhash = hashlib.sha256(
                        f"{digest}:{i}".encode()).hexdigest()
                    rows.append((url, len(blob), duration_ms, width,
                                 height, i, ts_ms, fhash))
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FRAME.fields])

    return videos.select("url", binary_col).mapInPandas(run, VIDEO_FRAME)


AUDIO_CHUNK = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("sample_rate", T.IntegerType(), False),
    T.StructField("duration_ms", T.IntegerType(), False),
    T.StructField("chunk_idx", T.IntegerType(), False),
    T.StructField("start_ms", T.IntegerType(), False),
    T.StructField("end_ms", T.IntegerType(), False),
    T.StructField("chunk_sha256", T.StringType(), False),
])


def audio_chunks(audio: DataFrame, binary_col: str = "html",
                 chunk_ms: int = 1000) -> DataFrame:
    """Fixed-window chunking over an opaque audio column: one row per
    ``chunk_ms`` window (Arrow-batched ``mapInPandas``).  Stream properties
    come from the same deterministic hash probe as ``frame_sample``; a real
    build swaps the probe for a decoder and hashes the resampled window."""

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf[binary_col]):
                blob = bytes(payload) if payload is not None else b""
                digest = hashlib.sha256(blob or b"").hexdigest()
                sample_rate = 8000 * (1 + int(digest[8:9], 16) % 4)
                duration_ms = 500 + int(digest[9:13], 16)
                n_chunks = -(-duration_ms // chunk_ms)
                for i in range(n_chunks):
                    chash = hashlib.sha256(
                        f"{digest}#{i}".encode()).hexdigest()
                    rows.append((url, len(blob), sample_rate, duration_ms,
                                 i, i * chunk_ms,
                                 min((i + 1) * chunk_ms, duration_ms),
                                 chash))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_CHUNK.fields])

    return audio.select("url", binary_col).mapInPandas(run, AUDIO_CHUNK)
