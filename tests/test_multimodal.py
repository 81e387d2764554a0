"""Multimodal operator tests: the raw format's decode/resize/frame-sample
are REAL (numpy) and verified on handcrafted pixels; the compressed-decode
stub must fail loudly; batch shape and partitioning must be preserved."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    byte_stats,
    channel_features,
    decode_compressed,
    decode_raw,
    media_from_documents,
    resize_nearest,
    sample_frames,
)
from datawarehousefinal_spark.sources.testdata import load_table


def _image_row(media_id: int, arr: np.ndarray, kind: str = "image", n_frames: int = 1):
    h, w, c = arr.shape[-3], arr.shape[-2], arr.shape[-1]
    return (
        media_id,
        kind,
        bytearray(arr.astype(np.uint8).tobytes()),
        (w, h, c, n_frames, None),
    )


@pytest.fixture(scope="module")
def images(spark):
    rng = np.random.RandomState(42)
    rows = [
        _image_row(i, rng.randint(0, 256, size=(8, 6, 3)).astype(np.uint8))
        for i in range(20)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(5)


def test_decode_raw_roundtrip():
    arr = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    assert np.array_equal(decode_raw(arr.tobytes(), 2, 4, 3), arr)


def test_decode_compressed_is_loud_stub():
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL available here; stub path not reachable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="stub"):
        decode_compressed(b"\xff\xd8\xff")


def test_byte_stats_matches_numpy(images):
    out = {r["media_id"]: r for r in byte_stats(images).collect()}
    assert len(out) == 20  # row count preserved across 5 partitions
    src = {r["media_id"]: bytes(r["payload"]) for r in images.collect()}
    for mid, payload in src.items():
        a = np.frombuffer(payload, dtype=np.uint8)
        assert out[mid]["n_bytes"] == a.size
        assert out[mid]["mean_byte"] == pytest.approx(float(a.mean()))
        assert out[mid]["std_byte"] == pytest.approx(float(a.std()))


def test_channel_features_shape(images):
    rows = channel_features(images).collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["channel_means"]) == 3
        assert len(r["channel_stds"]) == 3
        assert all(0.0 <= m <= 255.0 for m in r["channel_means"])


def test_resize_nearest_known_pixels(spark):
    # 4x4 single-channel image with distinct quadrant values
    arr = np.array(
        [[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]], dtype=np.uint8
    ).reshape(4, 4, 1)
    df = spark.createDataFrame([_image_row(7, arr)], MEDIA_SCHEMA)
    out = resize_nearest(df, 2, 2).collect()[0]
    resized = np.frombuffer(bytes(out["payload"]), dtype=np.uint8).reshape(2, 2)
    assert np.array_equal(resized, np.array([[1, 2], [3, 4]]))
    assert (out["height"], out["width"], out["channels"]) == (2, 2, 1)


def test_sample_frames(spark):
    frames = np.stack(
        [np.full((2, 2, 1), i, dtype=np.uint8) for i in range(10)]
    )
    row = (
        1,
        "video",
        bytearray(frames.tobytes()),
        (2, 2, 1, 10, None),
    )
    df = spark.createDataFrame([row], MEDIA_SCHEMA)
    out = sample_frames(df, every_n=3).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in out] == [0, 3, 6, 9]
    for r in out:
        pix = np.frombuffer(bytes(r["payload"]), dtype=np.uint8)
        assert (pix == r["frame_idx"]).all()


def test_media_from_documents_schema(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "payload", "meta"
    ]
    r = media.first()
    assert bytes(r["payload"]).decode("utf-8")  # round-trips
    assert r["meta"]["width"] == len(bytes(r["payload"]))


def test_byte_stats_empty_payload_yields_nulls(spark):
    from datawarehousefinal_spark.operators.multimodal import (
        byte_stats,
        media_from_documents,
    )

    docs = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, "xyz"), (4, None)], "doc_id long, text string"
    )
    rows = {r["media_id"]: r for r in byte_stats(media_from_documents(docs)).collect()}
    assert rows[2]["n_bytes"] == 0
    assert rows[2]["mean_byte"] is None
    assert rows[2]["min_byte"] is None
    assert rows[1]["n_bytes"] == 3 and rows[1]["min_byte"] is not None
    assert rows[4]["n_bytes"] == 0 and rows[4]["mean_byte"] is None  # NULL payload


def test_media_width_is_byte_count_for_non_ascii(spark):
    from datawarehousefinal_spark.operators.multimodal import (
        channel_features,
        media_from_documents,
    )

    docs = spark.createDataFrame([(1, "café"), (2, "naïve")], ["doc_id", "text"])
    media = media_from_documents(docs)
    metas = {r["media_id"]: r["meta"] for r in media.collect()}
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid in (1, 2):
        assert metas[mid]["width"] == len(payloads[mid])  # bytes, not chars
    # decode path must not crash on the multi-byte payloads
    assert channel_features(media).count() == 2


def _tiny_png(arr):
    """Minimal pure-Python PNG writer (8-bit RGB, no filters) so the
    compressed-decode path has a fixture without needing an encoder lib."""
    import struct
    import zlib

    h, w, _ = arr.shape

    def chunk(tag, data):
        c = tag + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))

    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_compressed_png_roundtrip_with_pil():
    """Real codec round-trip — runs wherever Pillow is installed, skips
    loudly (not silently-green) where it isn't."""
    pytest.importorskip("PIL")
    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert np.array_equal(decode_compressed(_tiny_png(arr)), arr)


def test_channel_features_codec_dispatch(spark):
    """The codec_col plumbing: raw rows decode regardless of PIL; a
    compressed row either decodes (PIL present) or fails LOUDLY with the
    stub's message — never silently wrong."""
    arr = np.full((2, 3, 3), 7, dtype=np.uint8)
    rows = [
        (1, arr.tobytes(), "raw", 2, 3, 3),
        (2, _tiny_png(arr), "png", 2, 3, 3),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, codec string, h int, w int, c int"
    ).select(
        "media_id",
        "payload",
        "codec",
        F.struct(
            F.col("w").alias("width"),
            F.col("h").alias("height"),
            F.col("c").alias("channels"),
            F.lit(1).alias("n_frames"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    raw_only = channel_features(df.filter("codec = 'raw'"), codec_col="codec")
    assert raw_only.collect()[0]["channel_means"] == [7.0, 7.0, 7.0]
    both = channel_features(df, codec_col="codec")
    try:
        import PIL  # noqa: F401

        got = {r["media_id"]: r["channel_means"] for r in both.collect()}
        assert got[2] == [7.0, 7.0, 7.0]
    except ImportError:
        with pytest.raises(Exception, match="decode_compressed is a stub"):
            both.collect()


def test_sniff_image_dims_four_formats_and_garbage():
    from datawarehousefinal_spark.operators.multimodal import (
        sniff_image_dims,
        synth_image_bytes,
    )

    for fmt in ("png", "gif", "bmp", "jpeg"):
        assert sniff_image_dims(synth_image_bytes(fmt, 640, 480)) == (fmt, 640, 480)
        assert sniff_image_dims(synth_image_bytes(fmt, 1, 1)) == (fmt, 1, 1)
    # BMP top-down rows encode a negative height — dims still positive
    import struct
    bmp = bytearray(synth_image_bytes("bmp", 10, 7))
    bmp[22:26] = struct.pack("<i", -7)
    assert sniff_image_dims(bytes(bmp)) == ("bmp", 10, 7)
    # garbage / truncated / NULL payloads report unknown, never raise
    assert sniff_image_dims(b"not an image") == (None, None, None)
    assert sniff_image_dims(b"\x89PNG\r\n\x1a\x00rest") == (None, None, None)
    assert sniff_image_dims(b"\xff\xd8\xff") == (None, None, None)
    assert sniff_image_dims(b"") == (None, None, None)
    assert sniff_image_dims(None) == (None, None, None)


def test_sniff_image_meta_mapinpandas(spark):
    from datawarehousefinal_spark.operators.multimodal import (
        sniff_image_meta,
        synth_image_bytes,
    )

    rows = [
        (0, synth_image_bytes("png", 100, 50)),
        (1, synth_image_bytes("jpeg", 33, 44)),
        (2, b"junk"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["format"], r["width"], r["height"])
           for r in sniff_image_meta(df).collect()}
    assert got[0] == ("png", 100, 50)
    assert got[1] == ("jpeg", 33, 44)
    assert got[2] == (None, None, None)
    assert got[3] == (None, None, None)


def test_sniff_audio_meta_bytes_wav_and_garbage():
    from datawarehousefinal_spark.operators.multimodal import (
        sniff_audio_meta_bytes,
        synth_wav_bytes,
    )

    assert sniff_audio_meta_bytes(synth_wav_bytes(2, 44100, 16)) == (
        "wav", 2, 44100, 16,
    )
    assert sniff_audio_meta_bytes(synth_wav_bytes(1, 16000, 8)) == (
        "wav", 1, 16000, 8,
    )
    # a LIST chunk before fmt must be walked over (word-aligned sizes)
    import struct
    odd = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # size 3 -> padded
    fmt = struct.pack("<HHIIHH", 1, 2, 48000, 48000 * 4, 4, 16)
    body = b"WAVE" + odd + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert sniff_audio_meta_bytes(wav) == ("wav", 2, 48000, 16)
    assert sniff_audio_meta_bytes(b"RIFFxxxxAVI ") == (None, None, None, None)
    assert sniff_audio_meta_bytes(b"junk") == (None, None, None, None)
    assert sniff_audio_meta_bytes(None) == (None, None, None, None)


def test_sniff_audio_meta_mapinpandas(spark):
    from datawarehousefinal_spark.operators.multimodal import (
        sniff_audio_meta,
        synth_wav_bytes,
    )

    rows = [(0, synth_wav_bytes(2, 44100)), (1, b"nope")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["format"], r["channels"], r["sample_rate"],
                           r["bits_per_sample"])
           for r in sniff_audio_meta(df).collect()}
    assert got[0] == ("wav", 2, 44100, 16)
    assert got[1] == (None, None, None, None)


def test_frame_byte_means_closed_form(spark):
    from datawarehousefinal_spark.operators.multimodal import (
        frame_byte_means,
        sample_frames,
        synth_video_bytes,
    )

    H, W, C = 2, 3, 1
    rows = [
        (
            mid,
            synth_video_bytes(mid, 5, H, W, C),
            {"width": W, "height": H, "channels": C,
             "n_frames": 5, "sample_rate": None},
        )
        for mid in (3, 260)
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, payload binary, "
        "meta struct<width:int,height:int,channels:int,"
        "n_frames:int,sample_rate:int>",
    )
    out = frame_byte_means(sample_frames(media, every_n=2)).collect()
    got = {(r["media_id"], r["frame_idx"]): r["mean_byte"] for r in out}
    expect = {
        (mid, f): float((mid + 7 * f) % 256)
        for mid in (3, 260)
        for f in (0, 2, 4)
    }
    assert got == expect


def test_image_ahash_known_bits_and_edge_cells(spark):
    import pytest

    from datawarehousefinal_spark.operators.multimodal import image_ahash

    rows = [
        # 8 bytes into an 8-cell grid: one byte per cell; mean of
        # [0,0,0,0,255,255,255,255] = 127.5 -> bits 00001111
        (1, bytearray([0, 0, 0, 0, 255, 255, 255, 255])),
        # constant payload: no cell exceeds the mean -> all zero
        (2, bytearray([7] * 8)),
        # shorter than the grid: cells 4..7 empty -> 0-bits; bytes
        # [0,0,255,255] land in cells 0,2,4,6 (i*8//4)
        (3, bytearray([0, 0, 255, 255])),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in image_ahash(df, buckets=8).collect()}
    assert out[1]["ahash"] == "00001111"
    assert out[2]["ahash"] == "00000000"
    # bytes at cells 0,2,4,6 = [0,0,255,255]; mean 127.5 -> cells 4 and 6
    assert out[3]["ahash"] == "00001010"
    assert out[4]["ahash"] is None and out[4]["n_bytes"] == 0
    assert out[1]["n_bytes"] == 8

    with pytest.raises(ValueError):
        image_ahash(df, buckets=0)


def test_perceptual_dup_groups_canonical_pick(spark):
    from datawarehousefinal_spark.operators.multimodal import (
        image_ahash,
        perceptual_dup_groups,
    )

    same = bytearray([0, 0, 0, 0, 255, 255, 255, 255])
    df = spark.createDataFrame(
        [(10, same), (11, bytearray(same)), (12, bytearray([7] * 8)), (13, None)],
        "media_id long, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in perceptual_dup_groups(image_ahash(df, buckets=8)).collect()
    }
    # NULL hash rows are excluded from grouping
    assert set(out) == {10, 11, 12}
    assert out[10]["group_size"] == 2 and out[11]["group_size"] == 2
    assert out[10]["canonical_id"] == 10 and not out[10]["is_dup"]
    assert out[11]["is_dup"]
    assert out[12]["group_size"] == 1 and not out[12]["is_dup"]
