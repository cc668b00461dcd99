"""Multimodal binary-column plumbing (X21): schema, Arrow batching, stub codec."""

from __future__ import annotations
import pytest

from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import multimodal


def test_wrap_as_media_schema(documents):
    media = multimodal.wrap_as_media(documents.limit(10), "doc_id", "text", kind="image")
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "blob", "mime", "byte_len",
    ]
    rows = media.collect()
    assert all(r["byte_len"] == len(bytes(r["blob"])) for r in rows)
    assert all(r["kind"] == "image" for r in rows)


def test_extract_image_features_deterministic(documents):
    media = multimodal.wrap_as_media(documents.limit(30), "doc_id", "text")
    a = sorted(map(tuple, multimodal.extract_image_features(media).collect()))
    b = sorted(map(tuple, multimodal.extract_image_features(media).collect()))
    assert a == b
    assert len(a) == 30
    for r in a:
        mid, w, h, c, luma = r
        assert 64 <= w < 64 + 1024 and 64 <= h < 64 + 1024
        assert c == 3
        assert 0.0 <= float(luma) < 256.0


def test_sample_frames_bounds(documents):
    media = multimodal.wrap_as_media(documents.limit(10), "doc_id", "text", kind="video")
    frames = multimodal.sample_frames(media, every_n_bytes=64, max_frames=3)
    rows = frames.collect()
    per_media: dict[int, int] = {}
    for r in rows:
        per_media[r["media_id"]] = per_media.get(r["media_id"], 0) + 1
        assert len(bytes(r["frame_blob"])) <= 64
    assert all(1 <= n <= 3 for n in per_media.values())
    assert len(per_media) == 10


def test_resize_images_shapes(spark, documents):
    from spark_lakehouse_medallion_pipeline_spark.operators import multimodal

    media = multimodal.wrap_as_media(documents.limit(20), "doc_id", "text", kind="image")
    out = multimodal.resize_images(media, width=32, height=16).collect()
    assert len(out) == 20
    for r in out:
        assert (r["width"], r["height"]) == (32, 16)
        assert len(r["blob"]) == (32 * 16) // 8


def test_binary_file_source_feeds_media_pipeline(spark, tmp_path):
    """binaryFile ingestion -> typed media schema -> mapInPandas features."""
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_binary_files

    blobs = {"a.bin": b"\x89fakeimg" + b"x" * 100, "b.bin": b"\x89fakeimg" + b"y" * 7}
    for name, payload in blobs.items():
        (tmp_path / name).write_bytes(payload)

    files = read_binary_files(spark, str(tmp_path), glob="*.bin")
    assert set(files.columns) == {"path", "modificationTime", "length", "content"}
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in files.collect()}
    assert rows["a.bin"]["length"] == len(blobs["a.bin"])
    assert bytes(rows["b.bin"]["content"]) == blobs["b.bin"]

    media = multimodal.wrap_as_media(
        files.select(F.expr("length").alias("file_id"), "content"),
        "file_id",
        "content",
        kind="image",
    )
    feats = multimodal.extract_image_features(media).collect()
    assert len(feats) == 2


def test_bmp_roundtrip_exact():
    import numpy as np

    from spark_lakehouse_medallion_pipeline_spark.operators import multimodal as mm

    rng = np.random.RandomState(7)
    for h, w in ((5, 3), (16, 16), (1, 7)):  # odd widths exercise row padding
        a = rng.randint(0, 256, size=(h, w, 3)).astype("uint8")
        assert (mm.bmp_decode(mm.bmp_encode(a)) == a).all()


def test_wav_roundtrip_exact():
    import numpy as np

    from spark_lakehouse_medallion_pipeline_spark.operators import multimodal as mm

    s = (np.sin(np.arange(800) / 10.0) * 12000).astype("int16")
    rate, ch, back = mm.wav_decode(mm.wav_encode(s, 8000))
    assert (rate, ch) == (8000, 1)
    assert (back[:, 0] == s).all()


def test_bmp_box_resize_matches_numpy(spark):
    import numpy as np

    from spark_lakehouse_medallion_pipeline_spark.operators import multimodal as mm

    rng = np.random.RandomState(3)
    a = rng.randint(0, 256, size=(8, 8, 3)).astype("uint8")
    df = spark.createDataFrame([(1, bytearray(mm.bmp_encode(a)))], "media_id long, blob binary")
    out = mm.resize_images_bmp(df, width=4, height=4).collect()[0]
    got = mm.bmp_decode(bytes(out["blob"]))
    want = (a.reshape(4, 2, 4, 2, 3).astype("uint32").sum(axis=(1, 3)) // 4).astype("uint8")
    assert (got == want).all()


@pytest.mark.slow
def test_image_and_audio_features_closed_form(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators import multimodal as mm

    ids = spark.range(5, 8).selectExpr("id AS doc_id")
    img = mm.extract_image_features_codec(
        mm.synthesize_media_blobs(ids, "doc_id", mm.bmp_encode, size=16),
        mm.bmp_decode,
    ).collect()
    for r in img:
        assert (r["width"], r["height"], r["n_channels"]) == (16, 16, 3)
        want = (886 * 32640 + 29184 * (r["media_id"] % 256)) // 256
        assert r["mean_luma"] == str(want)

    aud = mm.extract_audio_features(
        mm.synthesize_wav_blobs(ids, "doc_id")
    ).collect()
    for r in aud:
        assert (r["sample_rate"], r["n_channels"], r["n_frames"]) == (16000, 1, 1600)
        assert r["duration_ms"] == 100
        assert r["rms_milli"] == (r["media_id"] % 100) * 100 * 1000


def test_png_roundtrip_and_all_filters():
    import struct
    import zlib

    import numpy as np

    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        png_decode_rgb8,
        png_encode_rgb8,
    )

    rng = np.random.default_rng(7)
    a = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)
    assert (png_decode_rgb8(png_encode_rgb8(a)) == a).all()

    # externally-filtered PNG: one row per filter type 0..4
    img = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    h, w, bpp = 5, 4, 3

    def filt_row(y, ftype):
        cur = img[y].reshape(-1).astype(np.int32)
        prev = img[y - 1].reshape(-1).astype(np.int32) if y else np.zeros(w * 3, np.int32)
        out = np.zeros(w * 3, np.int32)
        for i in range(w * 3):
            a_, b_ = (cur[i - bpp] if i >= bpp else 0), prev[i]
            c_ = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a_
            elif ftype == 2:
                pred = b_
            elif ftype == 3:
                pred = (a_ + b_) // 2
            else:
                p = a_ + b_ - c_
                pa, pb, pc = abs(p - a_), abs(p - b_), abs(p - c_)
                pred = a_ if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c_)
            out[i] = (cur[i] - pred) & 0xFF
        return bytes([ftype]) + bytes(out.astype(np.uint8))

    raw = b"".join(filt_row(y, y) for y in range(h))

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert (png_decode_rgb8(blob) == img).all()


@pytest.mark.slow
def test_png_features_agree_with_bmp(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators import multimodal

    ids = spark.range(1, 9).select(F.col("id").alias("doc_id"))
    bmp = multimodal.extract_image_features_codec(
        multimodal.synthesize_media_blobs(
            ids, "doc_id", multimodal.bmp_encode, size=16
        ),
        multimodal.bmp_decode,
    )
    png = multimodal.extract_image_features_codec(
        multimodal.synthesize_media_blobs(
            ids, "doc_id", multimodal.png_encode_rgb8, size=16
        ),
        multimodal.png_decode_rgb8,
    )
    assert sorted(map(tuple, bmp.collect())) == sorted(map(tuple, png.collect()))


def test_gif_roundtrip_with_clear_resets():
    import numpy as np

    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        gif_decode_rgb8,
        gif_encode_rgb8,
    )

    rng = np.random.default_rng(5)
    palette = rng.integers(0, 256, (200, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 200, (23, 17))]
    assert (gif_decode_rgb8(gif_encode_rgb8(img)) == img).all()
    # 64x64 forces several LZW CLEAR resets in the literal encoder
    img2 = palette[rng.integers(0, 200, (64, 64))]
    assert (gif_decode_rgb8(gif_encode_rgb8(img2)) == img2).all()
    # >256 distinct colors must refuse, not quantize silently
    import pytest

    rng2 = np.random.default_rng(11)
    big = rng2.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    with pytest.raises(ValueError):
        gif_encode_rgb8(big)


@pytest.mark.slow
def test_gif_features_agree_with_bmp(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators import multimodal

    ids = spark.range(1, 9).select(F.col("id").alias("doc_id"))
    bmp = multimodal.extract_image_features_codec(
        multimodal.synthesize_media_blobs(
            ids, "doc_id", multimodal.bmp_encode, size=16
        ),
        multimodal.bmp_decode,
    )
    gif = multimodal.extract_image_features_codec(
        multimodal.synthesize_media_blobs(
            ids, "doc_id", multimodal.gif_encode_rgb8, size=16
        ),
        multimodal.gif_decode_rgb8,
    )
    assert sorted(map(tuple, bmp.collect())) == sorted(map(tuple, gif.collect()))


def test_gif_deferred_clear_full_table_decodes():
    """Spec-valid GIFs may use 'deferred clear': the encoder freezes its
    dictionary once it reaches 4096 entries and keeps emitting 12-bit
    codes without a CLEAR. The decoder must freeze its table too —
    appending past 4096 desynchronizes the code space and decodes to
    corrupt pixels (GIF89a appendix F)."""
    import struct

    import numpy as np

    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        gif_decode_rgb8,
    )

    def lzw_deferred(pixels):
        # full growing-width LZW that emits ONE initial CLEAR and then
        # never clears: at 4096 entries the table freezes (deferred clear)
        CLEAR, EOI = 256, 257
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        width = 9
        buf = bytearray()
        acc = n = 0

        def emit(code):
            nonlocal acc, n
            acc |= code << n
            n += width
            while n >= 8:
                buf.append(acc & 0xFF)
                acc >>= 8
                n -= 8

        emit(CLEAR)
        w = bytes([pixels[0]])
        for px in pixels[1:]:
            wk = w + bytes([px])
            if wk in table:
                w = wk
                continue
            emit(table[w])
            if next_code < 4096:
                table[wk] = next_code
                next_code += 1
                # decoder lag: its table length after reading our code is
                # next_code - 1, and it bumps width when that hits 2^width
                if next_code - 1 == (1 << width) and width < 12:
                    width += 1
            w = bytes([px])
        emit(table[w])
        emit(EOI)
        if n:
            buf.append(acc & 0xFF)
        return buf, next_code

    h = w = 128  # 16384 pixels of high-entropy data overfills 4096 entries
    rng = np.random.default_rng(7)
    idx = rng.integers(0, 256, h * w).astype(np.uint8)
    data, next_code = lzw_deferred(idx.tolist())
    assert next_code == 4096  # the stream genuinely exercises the freeze

    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    blocks = bytearray()
    for i in range(0, len(data), 255):
        part = data[i : i + 255]
        blocks.append(len(part))
        blocks.extend(part)
    blocks.append(0)
    blob = (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
        + pal.tobytes()
        + struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        + b"\x08"
        + bytes(blocks)
        + b"\x3b"
    )
    assert np.array_equal(gif_decode_rgb8(blob), pal[idx].reshape(h, w, 3))


def test_gif_corrupt_first_code_raises_valueerror():
    """An out-of-range first code after CLEAR must raise the documented
    ValueError, not IndexError."""
    import struct

    import numpy as np
    import pytest

    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        gif_decode_rgb8,
    )

    # stream: CLEAR(256), 300 (out of base-table range), EOI(257) at 9 bits
    buf = bytearray()
    acc = n = 0
    for code in (256, 300, 257):
        acc |= code << n
        n += 9
        while n >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        buf.append(acc & 0xFF)
    pal = np.zeros((256, 3), dtype=np.uint8)
    blob = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0xF7, 0, 0)
        + pal.tobytes()
        + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
        + b"\x08"
        + bytes([len(buf)])
        + bytes(buf)
        + b"\x00\x3b"
    )
    with pytest.raises(ValueError, match="corrupt LZW"):
        gif_decode_rgb8(blob)


# ---------------------------------------------------------------------------
# Baseline JPEG (q200)
# ---------------------------------------------------------------------------


def test_jpeg_block_constant_roundtrip_exact():
    """The q200 contract: block-constant grayscale patterns survive the
    LOSSY codec exactly (DC-only, flat quant 8 divides F00 = 8*(v-128)
    losslessly), and the decoded mean luma is the closed-form
    250 * sum(quadrant values)."""
    import numpy as np

    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        _jpeg_block_pattern,
        jpeg_decode_rgb8,
        jpeg_encode_rgb8,
    )

    for mid in (0, 1, 42, 129, 255, 12345):
        img = _jpeg_block_pattern(mid, 16)
        dec = jpeg_decode_rgb8(jpeg_encode_rgb8(img))
        assert np.array_equal(dec, img), mid
        vs = [(mid * k + c) % 256 for k, c in [(1, 0), (3, 7), (5, 11), (7, 13)]]
        s = dec.astype(np.int64)
        luma = int(
            299 * s[:, :, 0].sum() + 587 * s[:, :, 1].sum() + 114 * s[:, :, 2].sum()
        ) // 256
        assert luma == 250 * sum(vs), mid


def test_jpeg_general_content_is_lossy_but_close():
    """On arbitrary content (including non-multiple-of-8 dims via edge
    padding) the codec must behave like a real JPEG: not exact, but
    close — a decoder bug shows up as gross error, an accidental
    passthrough as exactness."""
    import numpy as np

    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        jpeg_decode_rgb8,
        jpeg_encode_rgb8,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    dec = jpeg_decode_rgb8(jpeg_encode_rgb8(img))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int)).mean()
    assert 0.05 < err < 30, err
    # the stream must be a spec-shaped JFIF, not a private container
    blob = jpeg_encode_rgb8(img)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in blob[:30]


def test_jpeg_scope_errors():
    import pytest

    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        _jpeg_block_pattern,
        jpeg_decode_rgb8,
        jpeg_encode_rgb8,
    )

    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg_decode_rgb8(b"\x89PNG\r\n")
    blob = bytearray(jpeg_encode_rgb8(_jpeg_block_pattern(3, 16)))
    # rewrite SOF0 -> SOF2 (progressive): decoder must refuse, not
    # misdecode
    i = blob.find(b"\xff\xc0")
    blob[i + 1] = 0xC2
    with pytest.raises(ValueError, match="non-baseline"):
        jpeg_decode_rgb8(bytes(blob))
    # 4:2:0 subsampling declared: out of scope
    blob = bytearray(jpeg_encode_rgb8(_jpeg_block_pattern(3, 16)))
    i = blob.find(b"\xff\xc0")
    blob[i + 11] = 0x22  # luma sampling 2x2
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_decode_rgb8(bytes(blob))


def test_jpeg_features_query_agrees_with_bmp_pattern(spark):
    """q200's Spark path end-to-end at a tiny scale: synthesize -> real
    decode -> features, mean luma closed-form per media_id."""
    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        _jpeg_block_pattern,
        extract_image_features_codec,
        jpeg_decode_rgb8,
        jpeg_encode_rgb8,
        synthesize_media_blobs,
    )

    df = spark.range(8).withColumnRenamed("id", "doc_id")
    out = extract_image_features_codec(
        synthesize_media_blobs(
            df, "doc_id", jpeg_encode_rgb8, size=16, pattern=_jpeg_block_pattern
        ),
        jpeg_decode_rgb8,
    ).collect()
    assert len(out) == 8
    for r in out:
        mid = r["media_id"]
        vs = [(mid * k + c) % 256 for k, c in [(1, 0), (3, 7), (5, 11), (7, 13)]]
        assert (r["width"], r["height"], r["n_channels"]) == (16, 16, 3)
        assert int(r["mean_luma"]) == 250 * sum(vs)


def test_jpeg_truncated_and_nonycbcr_raise_valueerror():
    """The decoder's error contract covers corrupt input too: a
    truncated-but-SOI-valid stream and a non-3-component SOF0 must
    raise ValueError (like PNG/GIF), never a raw IndexError."""
    import pytest

    from spark_lakehouse_medallion_pipeline_spark.operators.multimodal import (
        _jpeg_block_pattern,
        jpeg_decode_rgb8,
        jpeg_encode_rgb8,
    )

    blob = jpeg_encode_rgb8(_jpeg_block_pattern(5, 16))
    with pytest.raises(ValueError, match="truncated or corrupt"):
        jpeg_decode_rgb8(blob[:50])
    with pytest.raises(ValueError, match="truncated or corrupt"):
        jpeg_decode_rgb8(blob[:-20])  # chopped entropy data / EOI
    mutated = bytearray(blob)
    i = mutated.find(b"\xff\xc0")
    mutated[i + 9] = 1  # Nf = 1 component (grayscale-declared)
    with pytest.raises(ValueError, match="3-component"):
        jpeg_decode_rgb8(bytes(mutated))
