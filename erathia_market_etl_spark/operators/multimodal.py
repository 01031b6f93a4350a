"""Media columns and the three payload formats the engine decodes.

Media is carried as an opaque ``binary`` content column plus a typed
metadata struct. Per-modality work runs as Arrow-batched
``mapInPandas``: column pruning keeps ``content`` out of every stage
that does not touch it, payloads never shuffle, and Python sees whole
byte buffers rather than row objects.

``decode_real`` sniffs the magic bytes and decodes three formats:

- WAV, PCM16 mono, through the stdlib ``wave`` parser;
- BMP, 24-bit uncompressed (BI_RGB), through struct + numpy;
- JPEG, baseline 8-bit grayscale with restart intervals
  (``operators/jpeg.py``).

Anything else raises ``UnsupportedMediaError`` while its header is
parsed: an unknown magic, a WAV that is not PCM16 mono, a BMP that is
not 24-bit BI_RGB, a JPEG frame other than one-component 8-bit SOF0.
A truncated or corrupt payload of a supported format raises
``ValueError`` or ``struct.error``. ``DECODE_ERRORS`` is the whole set
of decode failures: ``resize_image_real`` and ``wav_decode_stats`` drop
a row whose payload raises one of them, and let anything else fail the
task.

The synthetic ``media_table`` carries text bytes as stand-in payloads,
so ``extract_features`` (byte histogram) and ``sample_frames`` (frame
fingerprints) read bytes and never decode. The real decoders are checked by ``media_wav_real_decode``,
``media_bmp_real_resize`` and ``media_jpeg_real_decode``, which build
valid payloads inside the query and compare the decoded stats with
DuckDB arithmetic twins.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class UnsupportedMediaError(ValueError):
    """A payload whose header names a format, or a variant of one, that
    the engine does not decode. Raised before any sample or entropy
    data is read."""


# Every way a payload can fail to decode. The row-level stages drop a
# row on exactly these; any other exception is an engine fault and
# fails the task.
DECODE_ERRORS = (UnsupportedMediaError, ValueError, struct.error,
                 wave.Error, EOFError, IndexError)

N_FEATURES = 8  # byte-histogram bins of the fake decoder


FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_hash", StringType()),
    ]
)


def media_table(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic media table over ``documents``: the text
    bytes stand in for an encoded payload; kind and typed metadata derive
    arithmetically from doc_id so a SQL oracle can reproduce them.
    DuckDB twins: encode(text) payload, doc_id % 3 kind selector,
    integer // and % for the metadata fields."""
    d = F.col("doc_id")
    kind = (
        F.when(d % 3 == 0, F.lit("image"))
        .when(d % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    meta = F.struct(
        F.when(kind != "audio", (16 + d % 64).cast("int")).alias("width"),
        F.when(kind != "audio", (16 + (d / F.lit(64)).cast("bigint") % 64).cast("int")).alias("height"),
        F.when(kind == "image", F.lit(3)).otherwise(F.lit(None).cast("int")).alias("channels"),
        F.when(kind == "audio", (8000 + 100 * (d % 80)).cast("int")).alias("sample_rate"),
        F.when(kind != "image", (1000 + d % 5000).cast("int")).alias("duration_ms"),
        F.when(kind == "video", (24 + d % 240).cast("int")).alias("n_frames"),
        F.when(kind == "image", F.lit("png"))
        .when(kind == "audio", F.lit("pcm16"))
        .otherwise(F.lit("h264"))
        .alias("codec"),
    )
    return docs.select(
        d.alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        meta.alias("meta"),
    )


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """PCM16 mono WAV encoder (stdlib wave)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM16 mono WAV decoder: (samples int16, sample_rate). Any other
    format tag, sample width or channel count raises
    UnsupportedMediaError."""
    tag = _wav_format_tag(payload)
    if tag != 0x0001:
        raise UnsupportedMediaError(
            f"WAV format tag 0x{tag:04X} is not supported (PCM only)"
        )
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise UnsupportedMediaError("only 16-bit mono PCM WAV is supported")
        samples = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
        return samples, w.getframerate()


def _wav_format_tag(payload: bytes) -> int:
    """wFormatTag of the first ``fmt `` chunk of a RIFF/WAVE payload;
    chunk bodies are padded to even offsets per the RIFF spec."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    while pos + 8 <= len(payload):
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if payload[pos : pos + 4] == b"fmt ":
            if size < 2 or pos + 10 > len(payload):
                raise ValueError("truncated WAV fmt chunk")
            return int.from_bytes(payload[pos + 8 : pos + 10], "little")
        pos += 8 + size + (size & 1)
    raise ValueError("WAV payload has no fmt chunk")


def encode_bmp(img: np.ndarray) -> bytes:
    """Real 24-bit uncompressed (BI_RGB) BMP encoder. ``img`` is
    (h, w, 3) uint8 RGB; rows are bottom-up, BGR, padded to 4 bytes —
    the classic on-disk layout, built with struct + numpy only."""
    h, w, _ = img.shape
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += img[y, :, ::-1].tobytes()  # RGB -> BGR
        body += b"\x00" * pad
    header_size = 14 + 40
    file_size = header_size + len(body)
    return (
        struct.pack("<2sIHHI", b"BM", file_size, 0, 0, header_size)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
        + bytes(body)
    )


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP decoder -> (h, w, 3) uint8 RGB. Any other bit
    depth or compression raises UnsupportedMediaError."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_sz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or comp != 0:
        raise UnsupportedMediaError(
            f"BMP with {bpp} bits per pixel, compression {comp} is not "
            "supported (24-bit BI_RGB only)"
        )
    stride = (w * 3 + 3) & ~3
    flip = h > 0  # positive height = bottom-up rows
    h = abs(h)
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=h * stride, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    img = rows[::-1] if flip else rows
    return img[:, :, ::-1].copy()  # BGR -> RGB


def resample_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample (h, w, 3) -> (height, width, 3): pure
    integer index arithmetic (src = floor(dst * src_dim / dst_dim)), so
    an arithmetic oracle can reproduce every output pixel."""
    h, w, _ = img.shape
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return img[np.ix_(ys, xs)]


def decode_real(payload: bytes):
    """Sniff the payload magic and decode: ("audio", (samples, rate))
    for WAV, ("image", (h, w, 3) uint8) for BMP and JPEG. Any other
    magic raises UnsupportedMediaError."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "audio", decode_wav(payload)
    if payload[:2] == b"BM":
        return "image", decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        from erathia_market_etl_spark.operators.jpeg import decode_jpeg

        return "image", decode_jpeg(payload)
    raise UnsupportedMediaError(
        f"unsupported media payload (magic {bytes(payload[:8])!r}); "
        "WAV, BMP and JPEG decode"
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction: mapInPandas over (media_id,
    kind, content) — metadata and any other columns are pruned before
    the Python boundary, so the Arrow transfer carries exactly the bytes
    being decoded. Output is a fixed-width feature vector per row.

    The whole batch histograms in ONE vectorized pass (r16, guide
    §4.2): all payloads concatenate into one uint8 array, the bin of
    every byte is ``byte >> 5`` (identical to np.histogram with 8
    equal bins over [0, 256) — bin edges are exact multiples of 32),
    and one bincount over ``row_index * 8 + bin`` yields every row's
    histogram — the old per-row np.histogram call paid ~50 µs of numpy
    dispatch per payload. Counts are identical integers and the
    normalization is the same single IEEE division, so features are
    bit-identical."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads decode like empty ones (zeros histogram,
            # n_bytes 0) instead of raising len(None) deep in the worker
            bufs = [b if b is not None else b"" for b in pdf["content"]]
            lens = np.fromiter((len(b) for b in bufs), dtype=np.int64,
                               count=len(bufs))
            if lens.sum():
                data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
                row = np.repeat(np.arange(len(bufs)), lens)
                counts = np.bincount(
                    row * N_FEATURES + (data >> 5),
                    minlength=len(bufs) * N_FEATURES,
                ).reshape(len(bufs), N_FEATURES)
            else:
                counts = np.zeros((len(bufs), N_FEATURES), dtype=np.int64)
            with np.errstate(divide="ignore", invalid="ignore"):
                feats = np.where(
                    lens[:, None] > 0, counts / lens[:, None], 0.0
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(lens, dtype="int64"),
                    "features": list(feats),
                }
            )

    return media.select("media_id", "kind", "content").mapInPandas(fn, FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling for video rows: 1→N row expansion inside
    mapInPandas (one output row per sampled frame index). The fake
    "frame decode" fingerprints payload + '|' + decimal index — that
    exact byte layout so the DuckDB oracle can reproduce it as
    md5(text || '|' || idx) (r3 VERDICT item 1c: frame indices are
    pure arithmetic, the whole op is oracle-checkable). A real decoder
    would seek/extract the frame here. Filter to kind='video' happens
    Spark-side so non-video payloads never cross the Arrow boundary."""
    import hashlib

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for mid, buf, n_frames in zip(
                pdf["media_id"], pdf["content"], pdf["n_frames"]
            ):
                # a video row missing its payload or frame count has
                # nothing to sample — skip rather than crash the batch
                if buf is None or pd.isna(n_frames):
                    continue
                for i in range(0, int(n_frames), every_n):
                    ids.append(mid)
                    idxs.append(i)
                    hashes.append(
                        hashlib.md5(bytes(buf) + b"|" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_hash": pd.Series(hashes, dtype="object"),
                }
            )

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "content", F.col("meta.n_frames").alias("n_frames"))
        .mapInPandas(fn, FRAMES_SCHEMA)
    )


def resize_image_real(images: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize: decode (BMP or JPEG), nearest-neighbor resample,
    re-encode BMP, inside one Arrow-batched mapInPandas loop. Input:
    (media_id, content). NULL and audio payloads are skipped, and a
    payload that raises one of DECODE_ERRORS is dropped (a production
    pipeline would route it to a quarantine sink); any other exception
    fails the task. Narrow: payloads never shuffle, parallelism = input
    splits."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, outs = [], []
            for mid, buf in zip(pdf["media_id"], pdf["content"]):
                if buf is None:
                    continue
                try:
                    modality, img = decode_real(bytes(buf))
                    if modality != "image":
                        continue
                    out = encode_bmp(resample_nearest(img, width, height))
                except DECODE_ERRORS:
                    continue
                outs.append(out)
                ids.append(mid)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "content": pd.Series(outs, dtype="object"),
                    "width": pd.Series([width] * len(ids), dtype="int32"),
                    "height": pd.Series([height] * len(ids), dtype="int32"),
                }
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )
    return images.select("media_id", "content").mapInPandas(fn, schema)


WAV_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_samples", LongType()),
        StructField("peak", IntegerType()),
        StructField("rms", DoubleType()),
    ]
)


def wav_decode_stats(wavs: DataFrame) -> DataFrame:
    """Audio decode: parse each WAV payload (the sample rate and
    samples come out of the container, not from metadata columns) and
    emit per-clip stats. Exact integer stats (count/sum/peak) plus RMS
    computed as one IEEE double division+sqrt over exact integer sums,
    rounded 6dp with the floor-trick — bit-reproducible by an
    arithmetic oracle. NULL payloads and payloads that raise one of
    DECODE_ERRORS are dropped (quarantine-sink pattern); any other
    exception fails the task."""
    import math

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "sample_rate", "n_samples",
                     "sum_samples", "peak", "rms")}
            for mid, buf in zip(pdf["media_id"], pdf["content"]):
                if buf is None:
                    continue
                try:
                    samples, rate = decode_wav(bytes(buf))
                except DECODE_ERRORS:
                    continue
                v = samples.astype(np.int64)
                n = len(v)
                sumsq = int((v * v).sum()) if n else 0
                rms = math.sqrt(sumsq / n) if n else 0.0
                rows["media_id"].append(mid)
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(n)
                rows["sum_samples"].append(int(v.sum()) if n else 0)
                rows["peak"].append(int(np.abs(v).max()) if n else 0)
                rows["rms"].append(math.floor(rms * 1e6 + 0.5) / 1e6)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(rows["media_id"], dtype="int64"),
                    "sample_rate": pd.Series(rows["sample_rate"], dtype="int32"),
                    "n_samples": pd.Series(rows["n_samples"], dtype="int64"),
                    "sum_samples": pd.Series(rows["sum_samples"], dtype="int64"),
                    "peak": pd.Series(rows["peak"], dtype="int32"),
                    "rms": pd.Series(rows["rms"], dtype="float64"),
                }
            )

    return wavs.select("media_id", "content").mapInPandas(fn, WAV_STATS_SCHEMA)
