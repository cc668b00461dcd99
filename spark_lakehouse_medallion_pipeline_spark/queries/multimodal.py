"""Multimodal binary columns: image and audio codecs decoded in Python
workers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_lakehouse_medallion_pipeline_spark.operators import multimodal
from spark_lakehouse_medallion_pipeline_spark.queries._common import _q, _t


@_q(
    "q39_multimodal_features",
    # The stub codec is md5-derived arithmetic, so DuckDB can replay it
    # exactly: md5(text) hashes the same UTF-8 bytes as the Spark-side
    # binary blob; the first 8 hex digits parsed to an int mirror
    # int.from_bytes(digest[:4]) & 0x7FFFFFFF (multimodal._fake_decode_dims).
    """
    WITH t AS (SELECT CAST(doc_id AS BIGINT) AS media_id, md5(text) AS m FROM documents),
    h AS (
      SELECT media_id, CAST((
        (strpos('0123456789abcdef', substr(m,1,1))-1)*16^7 +
        (strpos('0123456789abcdef', substr(m,2,1))-1)*16^6 +
        (strpos('0123456789abcdef', substr(m,3,1))-1)*16^5 +
        (strpos('0123456789abcdef', substr(m,4,1))-1)*16^4 +
        (strpos('0123456789abcdef', substr(m,5,1))-1)*16^3 +
        (strpos('0123456789abcdef', substr(m,6,1))-1)*16^2 +
        (strpos('0123456789abcdef', substr(m,7,1))-1)*16 +
        (strpos('0123456789abcdef', substr(m,8,1))-1)
      ) AS BIGINT) % 2147483648 AS h FROM t)
    SELECT media_id,
           CAST(64 + (h % 1024) AS INTEGER) AS width,
           CAST(64 + ((h // 1024) % 1024) AS INTEGER) AS height,
           3 AS n_channels,
           printf('%.2f', (h % 25600) / 100.0) AS mean_luma
    FROM h
    """,
)
def q39_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns through Arrow-batched mapInPandas: wrap doc
    text bytes as blobs, 'decode' (stub), emit typed features."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.wrap_as_media(docs, "doc_id", "text", kind="image")
    return multimodal.extract_image_features(media)


# Closed-form features of the 16x16 test pattern every image codec entry
# decodes: its mean Rec.601 milli-luma depends only on doc_id.
_TEST_PATTERN_LUMA_SQL = """
    SELECT doc_id AS media_id,
           16 AS width, 16 AS height, 3 AS n_channels,
           CAST((886 * 32640 + 29184 * (doc_id % 256)) // 256 AS VARCHAR)
             AS mean_luma
    FROM documents
    """


@_q("q157_bmp_image_features", _TEST_PATTERN_LUMA_SQL)
def q157_bmp_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, value-oracled (X21 upgraded from stub): BMP
    test patterns are synthesized per doc_id (16x16, R row-gradient /
    G col-gradient / B id-keyed), byte-encoded as actual uncompressed
    24-bit BMPs, decoded back with the stdlib+numpy codec, and reduced
    to integer Rec.601 milli-luma — all inside Arrow mapInPandas stages.
    The pattern's luma is closed-form in the id, so DuckDB reproduces
    the decoded values exactly: the codec path itself is hash-checked,
    not just its row count. PNG (q176), GIF (q177), and since round 8
    baseline JPEG (q200) are real too; MP3 stays the documented env
    stub (operators/multimodal.py)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = multimodal.synthesize_media_blobs(
        docs, "doc_id", multimodal.bmp_encode, size=16
    )
    return multimodal.extract_image_features_codec(blobs, multimodal.bmp_decode)


@_q(
    "q158_wav_audio_features",
    """
    SELECT doc_id AS media_id,
           16000 AS sample_rate, 1 AS n_channels,
           CAST(1600 AS BIGINT) AS n_frames,
           CAST(100 AS BIGINT) AS duration_ms,
           CAST((doc_id % 100) * 100000 AS BIGINT) AS rms_milli
    FROM documents
    """,
)
def q158_wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, value-oracled (X21): per-doc PCM16 WAV square
    waves of amplitude (id % 100)*100 are wave-encoded, decoded back with
    the stdlib codec, and reduced to integer features (isqrt RMS in
    milli-units — a square wave's RMS equals its amplitude exactly, which
    is what makes the real decode path closed-form checkable in SQL)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = multimodal.synthesize_wav_blobs(docs, "doc_id")
    return multimodal.extract_audio_features(blobs)


@_q("q176_png_image_features", _TEST_PATTERN_LUMA_SQL)
def q176_png_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, value-oracled — closes the PNG half of X21's
    stub note: the q157 test pattern is containered as actual PNGs
    (stdlib zlib DEFLATE, CRC32 chunks, per-row filters; decoder
    handles all five unfilter types, pinned in test_multimodal), then
    decoded back and reduced to the same integer Rec.601 milli-luma.
    Pixel content matches q157, so the closed-form oracle carries over —
    what the hash check exercises here is the deflate+unfilter codec
    path itself. Baseline JPEG got the same treatment in round 8
    (q200, hand-rolled DCT+Huffman)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = multimodal.synthesize_media_blobs(
        docs, "doc_id", multimodal.png_encode_rgb8, size=16
    )
    return multimodal.extract_image_features_codec(blobs, multimodal.png_decode_rgb8)


@_q("q177_gif_image_features", _TEST_PATTERN_LUMA_SQL)
def q177_gif_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, value-oracled — the third real image codec
    (after BMP q157 and PNG q176), built on a hand-rolled LZW: growing
    code widths to 12 bits, CLEAR resets, EOI, the KwKwK case, palette
    lookup, extension skipping. The 16x16 test pattern has exactly 256
    distinct colors, so it exercises the full GIF palette; pixel
    content matches q157/q176 and the closed-form oracle carries over —
    the hash check here verifies the LZW stream itself."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = multimodal.synthesize_media_blobs(
        docs, "doc_id", multimodal.gif_encode_rgb8, size=16
    )
    return multimodal.extract_image_features_codec(
        blobs, multimodal.gif_decode_rgb8
    )


@_q(
    "q200_jpeg_image_features",
    """
    SELECT doc_id AS media_id,
           16 AS width, 16 AS height, 3 AS n_channels,
           CAST(250 * ((doc_id % 256) + ((doc_id * 3 + 7) % 256)
                     + ((doc_id * 5 + 11) % 256) + ((doc_id * 7 + 13) % 256))
                AS VARCHAR) AS mean_luma
    FROM documents
    """,
)
def q200_jpeg_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, value-oracled (VERDICT r7 Next #6 —
    the last feasible codec stub converted): per doc_id a block-
    constant grayscale 16x16 pattern is entropy-encoded as an actual
    baseline JFIF (SOF0, 4:4:4, flat quant 8, canonical Huffman —
    operators/multimodal.py jpeg_encode_rgb8), decoded back by the
    from-scratch T.81 decoder (marker walk, stream-defined DQT/DHT,
    DC-diff + AC run-length entropy decode with byte unstuffing,
    dequant, dezigzag, float IDCT, YCbCr->RGB), and reduced to integer
    Rec.601 milli-luma in Arrow mapInPandas stages. A LOSSY codec
    value-oracles because the pattern sits in JPEG's lossless regime:
    block-constant grayscale has only DC energy, F00 = 8*(v-128)
    quantizes exactly by 8, and a DC-only IDCT is constant to ~1e-13 —
    so decoded luma is closed-form: 250 * sum of the four quadrant
    values (id*k + c) % 256. Round-trip exactness, general-content
    lossiness, and scope errors pinned in test_multimodal. Shuffle-free
    scan work like q157/q176/q177; MP3 remains the one env stub."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = multimodal.synthesize_media_blobs(
        docs,
        "doc_id",
        multimodal.jpeg_encode_rgb8,
        size=16,
        pattern=multimodal._jpeg_block_pattern,
    )
    return multimodal.extract_image_features_codec(
        blobs, multimodal.jpeg_decode_rgb8
    )
