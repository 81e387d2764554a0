"""Binary media columns: byte statistics, image/audio/video metadata and
perceptual-hash dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehousefinal_spark.queries import query
from datawarehousefinal_spark.sources.testdata import load_table


@query(
    "media_byte_stats",
    oracle="""
    WITH b AS (SELECT doc_id,
                      list_transform(string_split(text, ''), c -> ascii(c)) AS codes
               FROM documents)
    SELECT doc_id AS media_id,
           len(codes)::BIGINT AS n_bytes,
           list_avg(codes)::DOUBLE AS mean_byte,
           sqrt(list_avg(list_transform(codes, x -> x*x))::DOUBLE
                - list_avg(codes)::DOUBLE ^ 2) AS std_byte,
           list_min(codes)::INTEGER AS min_byte,
           list_max(codes)::INTEGER AS max_byte
    FROM b
    """,
    # numpy's pairwise mean/std vs the oracle's fold — contract
    round_cols=("mean_byte", "std_byte"),
)
def media_byte_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents → opaque binary payloads
    with typed metadata → Arrow-batched mapInPandas byte statistics. The
    payloads are the UTF-8 text bytes (ASCII fixture), so DuckDB replays
    the exact numbers via ascii() arithmetic — a hash-checked gate on the
    pandas-UDF path itself."""
    from datawarehousefinal_spark.operators.multimodal import (
        byte_stats,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return byte_stats(media)


@query(
    "image_meta_sniff",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                           WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
           CAST(doc_id % 37 + 1 AS INTEGER) AS width,
           CAST(doc_id % 11 + 1 AS INTEGER) AS height
    FROM documents WHERE doc_id % 50 = 0
    """,
)
def image_meta_sniff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-image metadata extraction, hash-checked: deterministic
    PNG/GIF/BMP/JPEG header payloads (multimodal.synth_image_bytes —
    dims derived from the doc id) are sniffed by the library-free
    header parser (multimodal.sniff_image_meta, Arrow-batched
    mapInPandas, bytes never leave the executor) and must reproduce the
    planted (format, width, height) exactly."""
    from datawarehousefinal_spark.operators.multimodal import (
        sniff_image_meta,
        synth_image_bytes,
    )

    fmts = ["png", "gif", "bmp", "jpeg"]
    ids = [
        r[0]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 50 == 0)
        .collect()
    ]
    rows = [
        (i, synth_image_bytes(fmts[i % 4], i % 37 + 1, i % 11 + 1))
        for i in ids
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    return sniff_image_meta(media)


@query(
    "audio_meta_sniff",
    oracle="""
    SELECT doc_id AS media_id,
           'wav' AS format,
           CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
           CAST(8000 * (doc_id % 6 + 1) AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INTEGER)
               AS bits_per_sample
    FROM documents WHERE doc_id % 50 = 25
    """,
)
def audio_meta_sniff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata extraction, hash-checked — the RIFF/WAVE twin of
    image_meta_sniff: deterministic WAV headers (multimodal.
    synth_wav_bytes, params derived from the doc id) sniffed by the
    library-free chunk walker (multimodal.sniff_audio_meta, Arrow
    mapInPandas) must reproduce the planted
    (channels, sample_rate, bits) exactly."""
    from datawarehousefinal_spark.operators.multimodal import (
        sniff_audio_meta,
        synth_wav_bytes,
    )

    ids = [
        r[0]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 50 == 25)
        .collect()
    ]
    rows = [
        (
            i,
            synth_wav_bytes(
                i % 2 + 1, 8000 * (i % 6 + 1), 8 if i % 3 == 0 else 16
            ),
        )
        for i in ids
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    return sniff_audio_meta(media)


@query(
    "video_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST((doc_id + 7 * f) % 256 AS DOUBLE) AS mean_byte
    FROM documents, unnest(generate_series(0, doc_id % 3 + 3, 2)) AS t(f)
    WHERE doc_id % 50 = 10
    """,
)
def video_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality end-to-end, hash-checked: deterministic raw videos
    (multimodal.synth_video_bytes — 4..6 constant-byte frames per media,
    byte = (id + 7·frame) % 256) flow through the REAL frame sampler
    (multimodal.sample_frames, every 2nd frame, row-expanding
    mapInPandas) and per-frame byte means (frame_byte_means) — the
    closed-form plant lets DuckDB replay exactly which frames were kept
    and each frame's statistic. Zero shuffle end to end."""
    from datawarehousefinal_spark.operators.multimodal import (
        frame_byte_means,
        sample_frames,
        synth_video_bytes,
    )

    H, W, C = 4, 5, 3
    ids = [
        r[0]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 50 == 10)
        .collect()
    ]
    rows = [
        (
            i,
            synth_video_bytes(i, i % 3 + 4, H, W, C),
            {
                "width": W,
                "height": H,
                "channels": C,
                "n_frames": i % 3 + 4,
                "sample_rate": None,
            },
        )
        for i in ids
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, payload binary, "
        "meta struct<width:int,height:int,channels:int,"
        "n_frames:int,sample_rate:int>",
    )
    return frame_byte_means(sample_frames(media, every_n=2))


@query(
    "image_ahash_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id AS media_id, text,
             octet_length(encode(text))::BIGINT AS n
      FROM documents
    ),
    px AS (SELECT media_id, n, text, unnest(range(n)) AS i FROM d),
    pv AS (
      SELECT media_id, n, (i * 64) // n AS cell,
             ascii(substr(text, (i + 1)::INTEGER, 1))::BIGINT AS v
      FROM px
    ),
    cs AS (
      SELECT media_id, cell, sum(v)::BIGINT AS s, count(*)::BIGINT AS c
      FROM pv GROUP BY media_id, cell
    ),
    tot AS (
      SELECT media_id, any_value(n) AS n, sum(v)::BIGINT AS tot
      FROM pv GROUP BY media_id
    ),
    grid AS (SELECT media_id, n, tot, unnest(range(64)) AS cell FROM tot),
    bits AS (
      SELECT g.media_id, g.cell,
             CASE WHEN coalesce(cs.s, 0) * g.n > g.tot * coalesce(cs.c, 0)
                  THEN '1' ELSE '0' END AS bit
      FROM grid g
      LEFT JOIN cs ON cs.media_id = g.media_id AND cs.cell = g.cell
    ),
    hashes AS (
      SELECT media_id, string_agg(bit, '' ORDER BY cell) AS ahash
      FROM bits GROUP BY media_id
    )
    SELECT h.media_id, h.ahash, d.n AS n_bytes,
           count(*) OVER (PARTITION BY h.ahash)::BIGINT AS group_size,
           min(h.media_id) OVER (PARTITION BY h.ahash)::BIGINT AS canonical_id,
           h.media_id <> min(h.media_id) OVER (PARTITION BY h.ahash) AS is_dup
    FROM hashes h JOIN d ON d.media_id = h.media_id
    """,
)
def image_ahash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over the deterministic media fixture:
    Arrow-batched aHash fingerprints (mean-pool grid, EXACT integer
    cross-multiplied bit decisions — no float means, so DuckDB replays
    every bit), then identical-hash dup groups with min-id canonical
    pick. The mapInPandas kernel itself is hash-gated: the oracle
    recomputes the fingerprints from the payload bytes via ascii()
    arithmetic (ASCII fixture, same contract as media_byte_stats)."""
    from datawarehousefinal_spark.operators.multimodal import (
        image_ahash,
        media_from_documents,
        perceptual_dup_groups,
    )

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return perceptual_dup_groups(image_ahash(media))
