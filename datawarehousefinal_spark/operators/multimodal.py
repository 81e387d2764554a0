"""Multimodal (image/audio/video) column operators — opaque ``binary``
payloads with typed metadata, processed in Arrow-batched Pandas UDFs.

Beyond-reference LLM-pipeline operators (SURVEY.md §7 P7). Design:

- **Data model**: media rows are ``(media_id, kind, payload: binary,
  meta: struct<width,height,channels,n_frames,sample_rate>)``
  (:data:`MEDIA_META_SCHEMA`). The payload is opaque to Spark — only the
  Pandas UDFs interpret it — so scans stay columnar, predicate/column
  pruning works on the metadata, and nothing decodes until a UDF needs it.
- **Raw format is REAL**: ``raw`` payloads are C-order uint8 arrays of
  shape (height, width, channels) (× n_frames for video). Byte stats,
  frame sampling and the perceptual hash below are complete
  implementations over ``np.frombuffer`` views.
- **Compressed formats are sniffed, not decoded**: the header parsers
  read format and dims without a codec library; pixel decode of
  JPEG/PNG needs one, and no operator here does it.
- **Scale shape**: every operator is ``mapInPandas`` — one Arrow batch in,
  one out, no shuffle, no driver involvement; partition-parallel over
  however many partitions the scan produced. Per-row Python cost is a few
  numpy ops on a zero-copy buffer view.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta", MEDIA_META_SCHEMA),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media fixture: each document's UTF-8 bytes become a
    1×n_chars×1 raw 'image' payload. Lets every multimodal operator run
    against the shipped testdata with an exactly SQL-replayable payload."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            # width must be the BYTE count of the payload, not the character
            # count — they differ on any non-ASCII text, and a raw decode
            # reshapes by width*height*channels
            F.octet_length(F.encode("text", "UTF-8")).cast("int").alias("width"),
            F.lit(1).alias("height"),
            F.lit(1).alias("channels"),
            F.lit(1).alias("n_frames"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------

def sniff_image_dims(payload: bytes) -> tuple[str | None, int | None, int | None]:
    """REAL header-level metadata extraction for the four classic image
    containers — ``(format, width, height)`` from the payload bytes
    alone, no codec library (the formats are public specifications):

    - PNG: 8-byte signature, then the IHDR chunk holds width/height as
      big-endian uint32 at offsets 16/20.
    - GIF (87a/89a): logical-screen width/height as little-endian uint16
      at offsets 6/8.
    - BMP: ``BM`` magic, BITMAPINFOHEADER width/height as little-endian
      int32 at offsets 18/22 (height may be negative = top-down rows).
    - JPEG: walk the ``FF xx`` segment chain to the first SOFn frame
      header (C0-CF minus DHT C4 / JPGn C8 / DAC CC); height/width are
      big-endian uint16 at +5/+7 inside it.

    Unknown or truncated payloads return ``(None, None, None)`` — the
    ingest-hygiene contract (report, don't throw).
    """
    import struct

    if payload is None:
        return None, None, None
    b = bytes(payload)
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            w, h = struct.unpack(">II", b[16:24])
            return "png", int(w), int(h)
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            return "gif", int(w), int(h)
        if b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            return "bmp", int(w), abs(int(h))
        if b[:2] == b"\xff\xd8":
            i = 2
            while i + 9 <= len(b):
                if b[i] != 0xFF:
                    i += 1
                    continue
                marker = b[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone markers carry no length
                    continue
                seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    return "jpeg", int(w), int(h)
                i += 2 + seg_len
    except (struct.error, IndexError):
        pass
    return None, None, None


def synth_image_bytes(fmt: str, width: int, height: int) -> bytes:
    """Minimal VALID header bytes for each container — the test/fixture
    twin of :func:`sniff_image_dims` (headers only; no pixel data, which
    the sniffer never reads). Formats per their public specs."""
    import struct

    if fmt == "png":
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", width, height)
            + b"\x08\x02\x00\x00\x00"
        )
    if fmt == "gif":
        return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00"
    if fmt == "bmp":
        return (
            b"BM"
            + struct.pack("<IHHI", 54, 0, 0, 54)
            + struct.pack("<Iii", 40, width, height)
        )
    if fmt == "jpeg":
        return (
            b"\xff\xd8"
            # APP0 length 16 = 2 (the length field) + 'JFIF\0' (5) + 9
            # (version/units/density/thumbnail fields, zeroed)
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17)
            + b"\x08" + struct.pack(">HH", height, width) + b"\x03"
        )
    raise ValueError(f"unknown fmt {fmt!r}")


IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def sniff_image_meta(df: DataFrame) -> DataFrame:
    """Ingest-time image metadata extraction over a media frame:
    :func:`sniff_image_dims` per payload in Arrow batches — map-only, no
    shuffle, bytes never leave the executor. This is the REAL
    (library-free) half of compressed-image handling."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sniffed = [sniff_image_dims(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "format": [s[0] for s in sniffed],
                    "width": pd.array(
                        [s[1] for s in sniffed], dtype="Int32"
                    ),
                    "height": pd.array(
                        [s[2] for s in sniffed], dtype="Int32"
                    ),
                }
            )

    return df.select("media_id", "payload").mapInPandas(gen, IMAGE_META_SCHEMA)


def sniff_audio_meta_bytes(
    payload: bytes,
) -> tuple[str | None, int | None, int | None, int | None]:
    """REAL header-level audio metadata — ``(format, channels,
    sample_rate, bits_per_sample)`` parsed from the payload bytes per the
    public RIFF/WAVE spec, no audio library: ``RIFF``+``WAVE`` magic,
    then a chunk walk (id + little-endian uint32 size, word-aligned) to
    the ``fmt `` chunk whose fields are little-endian
    (audio_format u16, channels u16, sample_rate u32, byte_rate u32,
    block_align u16, bits u16). Unknown/truncated payloads return all
    ``None`` — same report-don't-throw contract as
    :func:`sniff_image_dims`."""
    import struct

    if payload is None:
        return None, None, None, None
    b = bytes(payload)
    try:
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return None, None, None, None
        i = 12
        while i + 8 <= len(b):
            chunk_id = b[i : i + 4]
            size = struct.unpack("<I", b[i + 4 : i + 8])[0]
            if chunk_id == b"fmt " and i + 8 + 16 <= len(b):
                _fmt, ch, sr, _br, _ba, bits = struct.unpack(
                    "<HHIIHH", b[i + 8 : i + 24]
                )
                return "wav", int(ch), int(sr), int(bits)
            i += 8 + size + (size & 1)  # chunks are word-aligned
    except (struct.error, IndexError):
        pass
    return None, None, None, None


def synth_wav_bytes(channels: int, sample_rate: int, bits: int = 16) -> bytes:
    """Minimal VALID RIFF/WAVE header (fmt chunk only, no samples) — the
    test/fixture twin of :func:`sniff_audio_meta_bytes`."""
    import struct

    # the spec fields are u32/u16; clamp derived rates for parameter
    # combinations no real encoder would produce (sniffers ignore them)
    byte_rate = min(sample_rate * channels * bits // 8, 0xFFFFFFFF)
    block_align = min(channels * bits // 8, 0xFFFF)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      block_align, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    return b"RIFF" + struct.pack("<I", len(body)) + body


AUDIO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
    ]
)


def sniff_audio_meta(df: DataFrame) -> DataFrame:
    """Ingest-time audio metadata extraction: :func:`sniff_audio_meta_bytes`
    per payload in Arrow batches — map-only, no shuffle, the audio-side
    twin of :func:`sniff_image_meta`."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sniffed = [sniff_audio_meta_bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "format": [s[0] for s in sniffed],
                    "channels": pd.array([s[1] for s in sniffed], dtype="Int32"),
                    "sample_rate": pd.array([s[2] for s in sniffed], dtype="Int32"),
                    "bits_per_sample": pd.array(
                        [s[3] for s in sniffed], dtype="Int32"
                    ),
                }
            )

    return df.select("media_id", "payload").mapInPandas(gen, AUDIO_META_SCHEMA)


# ---------------------------------------------------------------------------
# mapInPandas operators
# ---------------------------------------------------------------------------

BYTE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("std_byte", DoubleType()),
        StructField("min_byte", IntegerType()),
        StructField("max_byte", IntegerType()),
    ]
)


def byte_stats(df: DataFrame) -> DataFrame:
    """Payload byte statistics (the cheapest 'feature extraction'):
    mean/population-std/min/max over the raw bytes. One Arrow batch in,
    one out — the canonical mapInPandas shape."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads decode as empty arrays; zero-length payloads
            # get NULL stats instead of killing the task (numpy
            # min/max/mean raise on empty arrays, frombuffer on None)
            arrs = [
                np.frombuffer(p, dtype=np.uint8)
                if p is not None
                else np.empty(0, dtype=np.uint8)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_bytes": [a.size for a in arrs],
                    "mean_byte": [
                        float(a.mean()) if a.size else None for a in arrs
                    ],
                    "std_byte": [
                        float(a.std()) if a.size else None for a in arrs
                    ],
                    "min_byte": [int(a.min()) if a.size else None for a in arrs],
                    "max_byte": [int(a.max()) if a.size else None for a in arrs],
                }
            )

    return df.select("media_id", "payload").mapInPandas(gen, BYTE_STATS_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("payload", BinaryType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("channels", IntegerType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling: raw video payloads are n_frames stacked
    raw images; emit every ``every_n``-th frame as its own image row
    (row-expanding mapInPandas — input row → ceil(n_frames/every_n)
    output rows)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads, hs, ws, cs = [], [], [], [], [], []
            for mid, p, nf, h, w, c in zip(
                pdf["media_id"], pdf["payload"], pdf["n_frames"],
                pdf["height"], pdf["width"], pdf["channels"],
            ):
                frames = np.frombuffer(p, dtype=np.uint8).reshape(
                    int(nf), int(h), int(w), int(c)
                )
                for i in range(0, int(nf), every_n):
                    ids.append(mid)
                    idxs.append(i)
                    payloads.append(frames[i].tobytes())
                    hs.append(int(h))
                    ws.append(int(w))
                    cs.append(int(c))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "payload": payloads,
                    "height": hs,
                    "width": ws,
                    "channels": cs,
                }
            )

    flat = df.select(
        "media_id",
        "payload",
        F.col("meta.n_frames").alias("n_frames"),
        F.col("meta.height").alias("height"),
        F.col("meta.width").alias("width"),
        F.col("meta.channels").alias("channels"),
    )
    return flat.mapInPandas(gen, FRAME_SCHEMA)


FRAME_MEANS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("mean_byte", DoubleType()),
    ]
)


def frame_byte_means(frames: DataFrame) -> DataFrame:
    """Per-frame mean byte value over the rows :func:`sample_frames`
    emits — the minimal per-frame 'feature' that keeps the frame index
    attached (``byte_stats`` drops it). Same mapInPandas shape: one
    Arrow batch in, one out, no shuffle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [
                np.frombuffer(p, dtype=np.uint8)
                if p is not None
                else np.empty(0, dtype=np.uint8)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "frame_idx": pdf["frame_idx"].values,
                    "mean_byte": [
                        float(a.mean()) if a.size else None for a in arrs
                    ],
                }
            )

    return frames.select("media_id", "frame_idx", "payload").mapInPandas(
        gen, FRAME_MEANS_SCHEMA
    )


def synth_video_bytes(
    media_id: int, n_frames: int, height: int, width: int, channels: int
) -> bytes:
    """Deterministic raw video: frame ``f`` is a constant-valued image of
    byte ``(media_id + 7·f) % 256`` — every per-frame statistic is a
    closed-form function of (media_id, f), which is what lets the video
    path be value-hashed against a SQL oracle."""
    frame_size = height * width * channels
    return b"".join(
        bytes([(media_id + 7 * f) % 256]) * frame_size
        for f in range(n_frames)
    )


AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("ahash", StringType()),
        StructField("n_bytes", LongType()),
    ]
)


def image_ahash(df: DataFrame, buckets: int = 64) -> DataFrame:
    """Perceptual average-hash (aHash) over raw payload bytes — the
    classic near-duplicate image fingerprint: mean-pool the pixel
    stream into ``buckets`` cells, set bit b when cell b's mean exceeds
    the global mean. Identical hashes = perceptually-identical media
    (brightness-pattern equality), robust to payload-preserving
    re-containering; Hamming-near hashes = near-dups (band the hash
    like simhash for that).

    The bit decision uses EXACT integer cross-multiplication —
    ``cell_sum · n_bytes > total_sum · cell_count`` — never a float
    mean, so the fingerprint is bit-for-bit reproducible on any engine
    (float means differ in last ulps between numpy's pairwise and SQL's
    sequential summation; a boundary cell would flip). Magnitudes are
    bounded by 255 · n² < 2⁶³ for any payload under ~190 GB. Cells with
    no pixels (payload shorter than the grid) read as 0-bits on both
    sides — hashes stay length-``buckets`` and comparable.

    Map-only Arrow batches (the mapInPandas contract of byte_stats);
    zero shuffle. The hash is emitted as a ``buckets``-char '0'/'1'
    string: engine-portable, directly groupable, and band-sliceable.
    NULL/empty payloads → NULL hash (report, don't throw).

    Output: ``media_id, ahash (string), n_bytes (long)``.
    """
    if buckets <= 0:
        raise ValueError("buckets must be positive")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, sizes = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                ids.append(mid)
                if p is None or len(p) == 0:
                    hashes.append(None)
                    sizes.append(0)
                    continue
                arr = np.frombuffer(p, dtype=np.uint8).astype(np.int64)
                n = arr.size
                sizes.append(n)
                cell = np.arange(n, dtype=np.int64) * buckets // n
                sums = np.zeros(buckets, dtype=np.int64)
                np.add.at(sums, cell, arr)
                counts = np.bincount(cell, minlength=buckets).astype(np.int64)
                total = int(arr.sum())
                bits = sums * n > total * counts
                hashes.append("".join("1" if b else "0" for b in bits))
            yield pd.DataFrame(
                {"media_id": ids, "ahash": hashes, "n_bytes": sizes}
            )

    return df.select("media_id", "payload").mapInPandas(gen, AHASH_SCHEMA)


def perceptual_dup_groups(hashed: DataFrame) -> DataFrame:
    """Group media by identical perceptual hash: every row gains its
    group's size and canonical (min) media id — the survivor-pick
    contract of exact_dedup applied to the aHash key. One shuffle on
    the hash; groups are bounded by true perceptual-dup multiplicity.

    Output: ``media_id, ahash, n_bytes, group_size (long),
    canonical_id (long), is_dup (boolean)``.
    """
    w = Window.partitionBy("ahash")
    return (
        hashed.filter(F.col("ahash").isNotNull())
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("canonical_id", F.min("media_id").over(w).cast("long"))
        .withColumn("is_dup", F.col("media_id") != F.col("canonical_id"))
    )
