"""Multimodal column plumbing (SURVEY.md §2b X21 / driver mandate).

Images / audio / video ride as opaque ``binary`` columns with a typed
metadata struct. The Spark-side machinery — schema, partition sizing,
Arrow-batched mapInPandas, output shapes — is real and tested, and five
codecs are REAL stdlib+numpy implementations in this file: BMP (``_bmp_*``),
WAV (``_wav_*``), PNG (zlib inflate + all five filter types), GIF (LZW),
and baseline JPEG (T.81 canonical Huffman + orthonormal DCT). Only the
``_fake_decode_dims`` / ``resize_images`` demo path and the MP3 / H.264
entries remain stubs (no stdlib codec exists for those formats), each
clearly marked at its definition.

Batch-shape note for 100 TB: blobs are large, so these operators must
bound ``spark.sql.files.maxPartitionBytes`` / use maxRecordsPerBatch to
keep Arrow batches in memory; decode parallelism is per-partition with no
shuffle (pipeline stays embarrassingly parallel until an aggregate).
"""

from __future__ import annotations

import functools as _functools
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("blob", BinaryType()),
        StructField("mime", StringType()),
        StructField("byte_len", LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("mean_luma", StringType()),  # stringified for stable hashing
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_blob", BinaryType()),
    ]
)


def _fake_decode_dims(blob: bytes) -> tuple[int, int, int, float]:
    """STUB CODEC — deterministic fake 'decode' derived from blob bytes.

    A real deployment replaces this with PIL/libvips/ffmpeg; the Spark
    plumbing around it (Arrow batching, schema, partitioning) is identical.
    """
    import hashlib

    h = int.from_bytes(hashlib.md5(blob).digest()[:4], "big") & 0x7FFFFFFF
    width = 64 + (h % 1024)
    height = 64 + ((h >> 10) % 1024)
    channels = 3
    mean_luma = (h % 25600) / 100.0
    return width, height, channels, mean_luma


def wrap_as_media(df: DataFrame, id_col: str, payload_col: str, kind: str = "image") -> DataFrame:
    """Lift any binary/string column into the typed media schema."""
    blob = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        blob.alias("blob"),
        F.lit(f"application/x-fake-{kind}").alias("mime"),
        F.length(blob).cast("long").alias("byte_len"),
    )


def extract_image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract via Arrow-batched mapInPandas.

    The UDF body receives pandas batches (vectorized transfer); per-row
    python cost is only the codec call — exactly the profile a real
    decoder would have.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_fake_decode_dims(bytes(b)) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_channels": [d[2] for d in dims],
                    "mean_luma": [f"{d[3]:.2f}" for d in dims],
                }
            )

    return media.mapInPandas(_extract, schema=IMAGE_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_n_bytes: int = 256, max_frames: int = 4) -> DataFrame:
    """Frame sampling for video blobs: emit up to max_frames byte slices
    per blob (STUB — a real impl calls the demuxer). One-to-many via
    mapInPandas keeps the explode on the executor side."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                raw = bytes(blob)
                for i in range(min(max_frames, max(1, len(raw) // every_n_bytes))):
                    ids.append(mid)
                    idxs.append(i)
                    blobs.append(raw[i * every_n_bytes : (i + 1) * every_n_bytes])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame_blob": blobs})

    return media.mapInPandas(_sample, schema=FRAME_SAMPLE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("blob", BinaryType()),
    ]
)


def resize_images(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Resize stage (driver mandate: decode / feature-extract / RESIZE /
    frame-sample). Plumbing real — Arrow-batched mapInPandas, binary in /
    binary out, byte volume scaled to the target dims so downstream
    sizing math is honest; the pixel resample itself is STUBBED with a
    deterministic byte fold (no image libs in this container — swap
    `_fake_resize` for PIL/cv2 in production)."""

    def _fake_resize(blob: bytes) -> bytes:
        target = max(1, (width * height) // 8)
        if not blob:
            return b"\x00" * target
        reps = (target // len(blob)) + 1
        return (blob * reps)[:target]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "blob": [_fake_resize(b) for b in pdf["blob"]],
                }
            )

    return media.select("media_id", "blob").mapInPandas(fn, RESIZED_SCHEMA)


# ---------------------------------------------------------------------------
# REAL codecs — formats decodable with stdlib + numpy alone
# ---------------------------------------------------------------------------
# BMP (uncompressed 24-bit BI_RGB), WAV (PCM16, stdlib `wave`), and PNG
# (8-bit RGB non-interlaced: chunk walk + CRC32 + stdlib zlib DEFLATE +
# all five per-row unfilters, functions at the end of this module) need
# no external libraries, so for these three formats the whole pipeline —
# synthesize, decode, feature-extract, box-resize — is REAL end to end.
# Baseline JPEG joined them in round 8 (DCT+Huffman from the T.81 spec,
# further down this module). MP3/H.264 remain the documented
# environment stubs above (no stdlib path to those codecs); swapping
# them in changes only the per-row codec call, none of the Spark
# plumbing.


def bmp_encode(arr) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit BMP
    (BITMAPINFOHEADER, bottom-up rows, BGR order, 4-byte row padding —
    the format every viewer reads)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    if c != 3:
        raise ValueError("bmp_encode expects (h, w, 3) RGB")
    row_size = (w * 3 + 3) & ~3
    pix_bytes = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + pix_bytes, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, pix_bytes, 2835, 2835, 0, 0)
    rows = []
    bgr = a[:, :, ::-1]  # RGB -> BGR
    pad = b"\x00" * (row_size - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        rows.append(bgr[y].tobytes() + pad)
    return header + info + b"".join(rows)


def bmp_decode(blob: bytes):
    """Decode an uncompressed 24-bit BMP into an (h, w, 3) uint8 RGB
    array. Raises ValueError on anything else (compressed / other bit
    depths are out of scope for the stdlib codec)."""
    import struct

    import numpy as np

    if len(blob) < 54 or blob[:2] != b"BM":
        raise ValueError("not a BMP blob")
    data_off = struct.unpack_from("<I", blob, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", blob, 14)
    planes, bpp, comp = struct.unpack_from("<HHI", blob, 26)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    bottom_up = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    px = np.frombuffer(blob, dtype=np.uint8, count=row_size * h, offset=data_off)
    px = px.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR -> RGB


def wav_encode(samples, sample_rate: int = 16000, n_channels: int = 1) -> bytes:
    """Encode int16 PCM samples ((n,) mono or (n, ch)) as a WAV blob via
    the stdlib `wave` module."""
    import io
    import wave

    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(n_channels)
        wv.setsampwidth(2)
        wv.setframerate(sample_rate)
        wv.writeframes(a.tobytes())
    return buf.getvalue()


def wav_decode(blob: bytes):
    """Decode a PCM16 WAV blob -> (sample_rate, n_channels, int16 array
    of shape (n_frames, n_channels))."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(blob)), "rb") as wv:
        if wv.getsampwidth() != 2:
            raise ValueError("only PCM16 WAV supported by the stdlib codec")
        rate, ch, n = wv.getframerate(), wv.getnchannels(), wv.getnframes()
        a = np.frombuffer(wv.readframes(n), dtype=np.int16).reshape(-1, ch)
    return rate, ch, a


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("rms_milli", LongType()),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio feature extraction over PCM16 WAV blobs: sample rate,
    channel count, frame count, duration, RMS amplitude — RMS via exact
    integer sum-of-squares and isqrt (milli-units), so values are
    bit-stable across runs and partitionings."""
    import math

    import numpy as np

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "sample_rate", "n_channels", "n_frames", "duration_ms", "rms_milli")}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                rate, ch, a = wav_decode(bytes(blob))
                n = a.shape[0]
                sq = int((a.astype(np.int64) ** 2).sum())
                rms_milli = math.isqrt((sq * 1_000_000) // max(n * ch, 1))
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_frames"].append(n)
                out["duration_ms"].append((n * 1000) // max(rate, 1))
                out["rms_milli"].append(rms_milli)
            yield pd.DataFrame(out)

    return media.mapInPandas(_extract, schema=AUDIO_FEATURES_SCHEMA)


def resize_images_bmp(media: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """REAL resize for BMP blobs: integer box-average downsample (each
    target pixel is the mean of its source box — antialiased thumbnail),
    re-encoded as BMP. Requires source dims to be multiples of the
    target (the common power-of-two thumbnail path); arbitrary ratios
    would need interpolation weights, out of scope for the stdlib
    codec."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "blob": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                a = bmp_decode(bytes(blob))
                h, w, _ = a.shape
                if h % height or w % width:
                    raise ValueError(f"resize {w}x{h} -> {width}x{height}: not integer boxes")
                bh, bw = h // height, w // width
                boxed = a.reshape(height, bh, width, bw, 3).astype(np.uint32)
                small = (boxed.sum(axis=(1, 3)) // (bh * bw)).astype(np.uint8)
                out["media_id"].append(mid)
                out["width"].append(width)
                out["height"].append(height)
                out["blob"].append(bmp_encode(small))
            yield pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(fn, RESIZED_SCHEMA)


def synthesize_wav_blobs(
    df: DataFrame, id_col: str, n_frames: int = 1600, sample_rate: int = 16000
) -> DataFrame:
    """Deterministic PCM16 WAV generator: a square wave of amplitude
    (id % 100) * 100 — chosen because a square wave's RMS equals its
    amplitude EXACTLY, so the decoded features are closed-form in the id
    and the real decode path can be value-oracled in SQL."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                amp = (int(mid) % 100) * 100
                s = np.empty(n_frames, dtype=np.int16)
                s[0::2] = amp
                s[1::2] = -amp
                ids.append(int(mid))
                blobs.append(wav_encode(s, sample_rate=sample_rate, n_channels=1))
            yield pd.DataFrame({"media_id": ids, "blob": blobs})

    return df.select(id_col).mapInPandas(fn, schema="media_id long, blob binary")


def png_encode_rgb8(arr) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a REAL PNG (8-bit
    truecolor, non-interlaced, filter 0 rows, stdlib zlib DEFLATE +
    CRC32 chunks) — no external imaging library involved, and every
    PNG viewer opens the output."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    if c != 3:
        raise ValueError("png_encode_rgb8 expects (h, w, 3) RGB")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def png_decode_rgb8(blob: bytes):
    """Decode an 8-bit truecolor non-interlaced PNG into an (h, w, 3)
    uint8 RGB array — REAL spec-compliant decode: chunk walk, zlib
    inflate, and all FIVE per-row unfilters (None/Sub/Up/Average/
    Paeth), so externally-produced PNGs of this profile decode too,
    not just our own filter-0 output. Filters None/Up are vectorized;
    Sub/Average/Paeth carry a left-neighbor dependency and run as a
    per-pixel loop (bounded by row width — the Arrow batching above
    keeps the per-row python cost off the critical path). Palette,
    alpha, 16-bit, and interlaced profiles raise ValueError (documented
    scope)."""
    import struct
    import zlib

    import numpy as np

    blob = bytes(blob)
    if blob[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG blob")
    pos, idat, w, h = 8, b"", None, None
    while pos + 8 <= len(blob):
        (ln,) = struct.unpack_from(">I", blob, pos)
        tag = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype != 2 or inter != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color_type={ctype}, "
                    f"interlace={inter}); codec scope is 8-bit RGB"
                )
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(idat)
    stride, bpp = w * 3 + 1, 3
    if len(raw) != stride * h:
        raise ValueError("PNG IDAT length mismatch")
    out = np.zeros((h, w * 3), dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * stride]
        cur = np.frombuffer(
            raw, np.uint8, count=w * 3, offset=y * stride + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(w * 3, np.int32)
        if ftype == 0:  # None
            rec = cur
        elif ftype == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: serial in x
            rec = np.zeros(w * 3, dtype=np.int32)
            for i in range(w * 3):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    return out.reshape(h, w, 3).copy()


def gif_encode_rgb8(arr) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array with <= 256 distinct colors
    as a REAL single-frame GIF89a (global palette + LZW image data).
    The LZW stream uses the spec-valid 'literal' strategy: emit each
    pixel's palette code at 9 bits and a CLEAR whenever the dictionary
    would force a width change — simple, deterministic, and decodable
    by every GIF reader (compression ratio is not the point here; the
    DECODER below implements full growing-width LZW). Raises on more
    than 256 distinct colors (GIF is palette-based; quantization is a
    modeling choice this codec refuses to make silently)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    if c != 3:
        raise ValueError("gif_encode_rgb8 expects (h, w, 3) RGB")
    flat = a.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"gif_encode_rgb8: {len(colors)} colors > 256")
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: len(colors)] = colors

    header = b"GIF89a"
    lsd = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # global table, 256 entries
    img_desc = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)

    # LZW: min code size 8 -> CLEAR=256, EOI=257, 9-bit codes
    CLEAR, EOI = 256, 257
    codes = [CLEAR]
    next_code = 258
    for px in idx:
        codes.append(int(px))
        next_code += 1
        if next_code >= 511:  # widths would grow past 9 bits -> reset
            codes.append(CLEAR)
            next_code = 258
    codes.append(EOI)

    out = bytearray()
    acc = n_bits = 0
    for code in codes:
        acc |= code << n_bits
        n_bits += 9
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
    if n_bits:
        out.append(acc & 0xFF)

    blocks = bytearray()
    for i in range(0, len(out), 255):
        part = out[i : i + 255]
        blocks.append(len(part))
        blocks.extend(part)
    blocks.append(0)

    return (
        header + lsd + pal.tobytes() + img_desc + b"\x08" + bytes(blocks) + b"\x3b"
    )


def gif_decode_rgb8(blob: bytes):
    """Decode a single-frame GIF87a/89a into an (h, w, 3) uint8 RGB
    array — REAL full LZW: growing code widths (up to 12 bits), CLEAR
    resets, EOI, and the KwKwK first-use case, plus extension-block
    skipping. Interlaced images and local color tables raise ValueError
    (documented scope)."""
    import struct

    import numpy as np

    blob = bytes(blob)
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF blob")
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", blob, 6)
    pos = 13
    if not packed & 0x80:
        raise ValueError("GIF without a global color table is out of scope")
    gct_n = 2 << (packed & 0x07)
    pal = np.frombuffer(blob, np.uint8, count=gct_n * 3, offset=pos).reshape(-1, 3)
    pos += gct_n * 3

    while True:
        marker = blob[pos]
        pos += 1
        if marker == 0x21:  # extension: skip sub-blocks
            pos += 1
            while blob[pos]:
                pos += 1 + blob[pos]
            pos += 1
        elif marker == 0x2C:
            break
        elif marker == 0x3B:
            raise ValueError("GIF trailer before any image data")
        else:
            raise ValueError(f"unexpected GIF block 0x{marker:02x}")

    _l, _t, iw, ih, ipacked = struct.unpack_from("<HHHHB", blob, pos)
    pos += 9
    if ipacked & 0x40:
        raise ValueError("interlaced GIF is out of scope")
    if ipacked & 0x80:
        raise ValueError("local color tables are out of scope")

    min_code = blob[pos]
    pos += 1
    data = bytearray()
    while blob[pos]:
        ln = blob[pos]
        data.extend(blob[pos + 1 : pos + 1 + ln])
        pos += 1 + ln

    CLEAR, EOI = 1 << min_code, (1 << min_code) + 1
    base = [[i] for i in range(1 << min_code)] + [None, None]

    table = list(base)
    width = min_code + 1
    acc = n_bits = 0
    prev = None
    out: list[int] = []
    for byte in data:
        acc |= byte << n_bits
        n_bits += 8
        while n_bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            n_bits -= width
            if code == CLEAR:
                table = list(base)
                width = min_code + 1
                prev = None
                continue
            if code == EOI:
                n_bits = 0
                acc = 0
                break
            if prev is None:
                # first code after CLEAR must be a literal already in the
                # base table — bounds-check so a corrupt stream raises the
                # documented ValueError, not IndexError
                if code >= len(table) or table[code] is None:
                    raise ValueError(
                        f"corrupt LZW stream (first code {code} after CLEAR)"
                    )
                entry = table[code]
            elif code < len(table) and table[code] is not None:
                entry = table[code]
                if len(table) < 4096:
                    table.append(table[prev] + [entry[0]])
            elif code == len(table) and len(table) < 4096:  # KwKwK
                entry = table[prev] + [table[prev][0]]
                table.append(entry)
            else:
                raise ValueError(f"corrupt LZW stream (code {code})")
            out.extend(entry)
            prev = code
            # deferred clear (GIF89a app. F): once the table is full at
            # max width 12 the ENCODER freezes its table until it emits
            # CLEAR — the decoder must freeze too, or spec-valid streams
            # desynchronize into corrupt pixels
            if len(table) == (1 << width) and width < 12:
                width += 1
    if len(out) != iw * ih:
        raise ValueError(f"LZW produced {len(out)} pixels, expected {iw * ih}")
    return pal[np.array(out, dtype=np.int32)].reshape(ih, iw, 3).copy()


# ---------------------------------------------------------------------------
# Baseline JPEG (JFIF) — stdlib+numpy, from the T.81 spec
# ---------------------------------------------------------------------------
# Scope (documented): baseline sequential DCT (SOF0), 8-bit, 4:4:4 (no
# chroma subsampling), no restart markers, no progressive/arithmetic
# coding. The DECODER is general within that scope — it parses DQT/DHT/
# SOF0/SOS from the stream (self-describing Huffman tables), decodes
# DC-diff + AC run-length entropy data with byte unstuffing, dequantizes,
# dezigzags, and runs a float orthonormal IDCT. The ENCODER emits the
# matching stream with single-length canonical Huffman tables (12 DC
# symbols at 4 bits, 162 AC symbols at 8 bits — valid per T.81, the
# all-ones code unused) and a flat all-8 quantization table, so
# block-constant inputs round-trip EXACTLY (only the DC coefficient is
# nonzero: F00 = 8*(v-128) quantizes losslessly by 8 and the IDCT of a
# DC-only block is constant to ~1e-13, far inside integer rounding).
# That exactness is what lets q200 value-oracle a lossy codec. MP3 and
# H.264 remain the documented environment stubs above.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Canonical single-length tables: DC = categories 0..11 at 4 bits each;
# AC = EOB, all (run, size 1..10), ZRL at 8 bits each (162 symbols).
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0] * 7 + [162] + [0] * 8
_JPEG_AC_VALS = [0x00] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
] + [0xF0]
_JPEG_QSTEP = 8  # flat table: every coefficient quantized by 8


def _jpeg_canonical_codes(bits, vals):
    """JPEG Annex C canonical code assignment: vals in table order get
    increasing codes, code length stepping per the bits[] histogram.
    Memoized on the (bits, vals) content — the encoder asks for the
    same two fixed tables per image and the decoder for whatever the
    stream declares, which for a homogeneous corpus is also one set."""
    return _jpeg_canonical_codes_cached(tuple(bits), tuple(vals))


@_functools.lru_cache(maxsize=64)
def _jpeg_canonical_codes_cached(bits: tuple, vals: tuple) -> dict:
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


@_functools.lru_cache(maxsize=64)
def _jpeg_lut16(bits: tuple, vals: tuple):
    """Flat 2^16-entry Huffman lookup: index with the NEXT 16 bits of
    the stream, read (symbol, code length) in O(1) — the libjpeg-style
    fast path that replaces the bit-at-a-time tree walk (max code
    length is 16, so every 16-bit window is covered by exactly one
    code prefix). Entries no code reaches keep length 0, which the
    decoder turns into the invalid-code ValueError. Built once per
    distinct DHT content (lru-cached): two vectorized slice fills per
    symbol."""
    import numpy as np

    sym_arr = np.zeros(1 << 16, dtype=np.uint8)
    len_arr = np.zeros(1 << 16, dtype=np.uint8)
    for sym, (code, length) in _jpeg_canonical_codes_cached(bits, vals).items():
        start = code << (16 - length)
        span = 1 << (16 - length)
        sym_arr[start : start + span] = sym
        len_arr[start : start + span] = length
    return sym_arr, len_arr


@_functools.lru_cache(maxsize=1)
def _jpeg_dct_matrix():
    import math

    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = 1.0 / math.sqrt(2.0) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return m


class _JpegBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self._acc = (self._acc << 1) | ((code >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.buf.append(self._acc)
                if self._acc == 0xFF:  # byte stuffing
                    self.buf.append(0x00)
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        while self._n:
            self.write(1, 1)  # pad with 1-bits per spec


def _jpeg_extend(v: int, size: int) -> int:
    """T.81 EXTEND: map `size` raw amplitude bits to a signed value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def jpeg_encode_rgb8(arr) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as baseline JFIF (SOF0,
    4:4:4, flat quant table of 8, single-length canonical Huffman
    tables). A real encoder — level shift, per-block FDCT, zigzag,
    DC-diff + AC run-length entropy coding with byte stuffing — not a
    pattern-specific shortcut; any RGB input yields a spec-valid
    stream (lossy for non-block-constant content, like any JPEG)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    if c != 3:
        raise ValueError("jpeg_encode_rgb8 expects (h, w, 3) RGB")
    r = a[:, :, 0].astype(np.float64)
    g = a[:, :, 1].astype(np.float64)
    b = a[:, :, 2].astype(np.float64)
    planes = [
        np.round(0.299 * r + 0.587 * g + 0.114 * b),
        np.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b),
        np.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b),
    ]
    bh, bw = (h + 7) // 8, (w + 7) // 8
    m = _jpeg_dct_matrix()
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(
        [1, 1, 0, 0, 1, 0, 1, 0, 0]
    )
    # DQT: two flat tables (Tq=0 luma, Tq=1 chroma), zigzag order
    qt = bytes([_JPEG_QSTEP] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65 * 2)
    out += bytes([0x00]) + qt + bytes([0x01]) + qt
    # SOF0: 3 components, 1x1 sampling each (4:4:4)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    # DHT: DC0, AC0, DC1, AC1 (chroma shares the same table contents)
    dht = bytearray()
    for tc_th, bits, vals in (
        (0x00, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (0x10, _JPEG_AC_BITS, _JPEG_AC_VALS),
        (0x01, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (0x11, _JPEG_AC_BITS, _JPEG_AC_VALS),
    ):
        dht += bytes([tc_th]) + bytes(bits) + bytes(vals)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    # SOS
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * 3) + bytes(
        [3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]
    )

    bw_ = _JpegBitWriter()

    def _emit(val: int, codes, run: int = -1) -> None:
        size = abs(val).bit_length()
        sym = size if run < 0 else ((run << 4) | size)
        code, length = codes[sym]
        bw_.write(code, length)
        if size:
            amp = val if val >= 0 else val + (1 << size) - 1
            bw_.write(amp, size)

    prev_dc = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw):
            for ci, plane in enumerate(planes):
                block = np.full((8, 8), 0.0)
                ys, xs = by * 8, bx * 8
                tile = plane[ys : min(ys + 8, h), xs : min(xs + 8, w)]
                # edge replication padding
                th, tw = tile.shape
                block[:th, :tw] = tile
                if th < 8:
                    block[th:, :tw] = tile[th - 1 : th, :]
                if tw < 8:
                    block[:, tw:] = block[:, tw - 1 : tw]
                v0 = block.flat[0]
                if (block == v0).all():
                    # constant-block FDCT shortcut (bitstream-identical:
                    # exact F00 = 8*(v-128), exact-zero ACs — the float
                    # matmul's ~1e-13 AC residue quantizes to the same 0
                    # and its F00 rounds to the same integer)
                    zz = [0] * 64
                    zz[0] = round(8.0 * (v0 - 128.0) / _JPEG_QSTEP)
                else:
                    f = m @ (block - 128.0) @ m.T
                    q = np.round(f / _JPEG_QSTEP).astype(np.int64)
                    zz = [int(q.flat[i]) for i in _JPEG_ZIGZAG]
                _emit(zz[0] - prev_dc[ci], dc_codes)
                prev_dc[ci] = zz[0]
                run = 0
                last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
                for i in range(1, last_nz + 1):
                    if zz[i] == 0:
                        run += 1
                        if run == 16:
                            code, length = ac_codes[0xF0]  # ZRL
                            bw_.write(code, length)
                            run = 0
                        continue
                    _emit(zz[i], ac_codes, run)
                    run = 0
                if last_nz < 63:
                    code, length = ac_codes[0x00]  # EOB
                    bw_.write(code, length)
    bw_.flush()
    out += bw_.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def jpeg_decode_rgb8(blob: bytes):
    """Decode a baseline JFIF stream into an (h, w, 3) uint8 RGB array
    — REAL: marker walk, stream-defined DQT/DHT (canonical Huffman
    reconstruction per Annex C), SOF0 geometry, interleaved 4:4:4 MCU
    entropy decode (DC prediction + AC run-length, byte unstuffing),
    dequantize, dezigzag, float orthonormal IDCT, YCbCr->RGB. Raises
    ValueError outside the documented baseline scope (progressive,
    subsampled, restart-interval, 16-bit-quant, non-3-component
    streams) AND on truncated/corrupt input — the same contract the
    PNG/GIF decoders pin in test_multimodal, kept by translating the
    low-level IndexError/struct.error a short read produces."""
    import struct

    try:
        return _jpeg_decode_impl(blob)
    except (IndexError, struct.error) as exc:
        raise ValueError(f"truncated or corrupt JPEG stream: {exc}") from exc


def _jpeg_decode_impl(blob: bytes):
    import struct

    import numpy as np

    d = bytes(blob)
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG blob")
    qtables: dict[int, list[int]] = {}
    htables: dict[int, dict] = {}
    comps: list[tuple[int, int, int]] = []  # (id, quant_tq, 0)
    h = w = 0
    pos = 2
    while True:
        if d[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = d[pos + 1]
        pos += 2
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        seglen = struct.unpack_from(">H", d, pos)[0]
        body = d[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables out of scope")
                qtables[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc_th = body[i]
                bits = tuple(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = tuple(body[i + 17 : i + 17 + nv])
                htables[tc_th] = _jpeg_lut16(bits, vals)
                i += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            _p, h, w, nf = struct.unpack_from(">BHHB", body, 0)
            if _p != 8:
                raise ValueError("only 8-bit precision supported")
            if nf != 3:
                raise ValueError(
                    f"only 3-component (YCbCr) streams supported (got {nf})"
                )
            for ci in range(nf):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                if hv != 0x11:
                    raise ValueError("chroma subsampling out of scope (4:4:4 only)")
                comps.append((cid, tq, 0))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(f"non-baseline SOF 0x{marker:02x} out of scope")
        elif marker == 0xDD:
            raise ValueError("restart intervals out of scope")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []  # (comp_index, dc_table, ac_table)
            for si in range(ns):
                cs, tda = body[1 + 2 * si], body[2 + 2 * si]
                idx = next(i for i, c in enumerate(comps) if c[0] == cs)
                scan.append((idx, tda >> 4, tda & 0x0F))
            pos += seglen
            break
        pos += seglen

    if not comps or not h or not w:
        raise ValueError("missing SOF0 before SOS")
    m = _jpeg_dct_matrix()
    bh, bw = (h + 7) // 8, (w + 7) // 8
    planes = [np.zeros((bh * 8, bw * 8)) for _ in comps]
    # Vectorized entropy decode (the round-9 replacement for the
    # per-bit Python reader): locate the scan end (inside entropy data
    # every 0xFF is stuffed as FF 00, so the first FF + non-00 is a
    # marker), strip the stuffing in ONE bytes.replace pass, unpack to
    # a bit array, and precompute the sliding 16-bit window value at
    # every bit offset with a single matmul. Each Huffman symbol is
    # then one LUT index (w16[cur] -> symbol, length) and each
    # amplitude one shift — no per-bit Python remains. A truncated or
    # corrupt stream walks the cursor past the window array and
    # surfaces as IndexError, which jpeg_decode_rgb8 translates to the
    # documented ValueError.
    end = pos
    while True:
        nxt = d.find(b"\xff", end)
        if nxt == -1 or nxt + 1 >= len(d):
            end = len(d)
            break
        if d[nxt + 1] == 0x00:
            end = nxt + 2
            continue
        end = nxt
        break
    seg = d[pos:end].replace(b"\xff\x00", b"\xff")
    bits_arr = np.unpackbits(np.frombuffer(seg, dtype=np.uint8))
    # Pad 15 bits so the final code's 16-bit PEEK window exists; the
    # pad value is irrelevant (every extension of a valid prefix maps
    # to the same symbol).
    bits_pad = np.concatenate([bits_arr, np.zeros(15, dtype=np.uint8)])
    # 16 shift-or accumulations build the same per-offset 16-bit window
    # values as a sliding_window_view matmul would, without ever
    # materializing the (n_bits, 16) int32 window matrix (~512 bytes per
    # byte of entropy data — a 256 KB scan cost ~128 MB transient inside
    # mapInPandas). Peak extra memory here is just the int32 output.
    n_w = bits_pad.size - 15
    w16 = np.zeros(n_w, dtype=np.int32)
    for sh in range(16):
        np.left_shift(w16, 1, out=w16)
        np.bitwise_or(w16, bits_pad[sh : sh + n_w], out=w16)
    n_bits = len(bits_arr)
    cur = 0

    prev_dc = [0] * len(comps)
    for by in range(bh):
        for bx in range(bw):
            for idx, td, ta in scan:
                dc_sym, dc_len = htables[0x00 | td]
                ac_sym, ac_len = htables[0x10 | ta]
                qt = qtables[comps[idx][1]]
                zz = [0] * 64
                if cur >= n_bits:
                    # surfaces as the wrapper's truncated-or-corrupt
                    # ValueError, same as a mid-block IndexError
                    raise IndexError("entropy data exhausted before last block")
                peek = w16[cur]
                size = int(dc_sym[peek])
                ln = int(dc_len[peek])
                if ln == 0:
                    raise ValueError("invalid Huffman code in entropy data")
                cur += ln
                if size:
                    diff = _jpeg_extend(int(w16[cur]) >> (16 - size), size)
                    cur += size
                else:
                    diff = 0
                prev_dc[idx] += diff
                zz[0] = prev_dc[idx]
                k = 1
                any_ac = False
                while k < 64:
                    peek = w16[cur]
                    sym = int(ac_sym[peek])
                    ln = int(ac_len[peek])
                    if ln == 0:
                        raise ValueError("invalid Huffman code in entropy data")
                    cur += ln
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0x0F
                    if size == 0:
                        if run != 15:
                            raise ValueError("bad AC symbol")
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("AC index overrun")
                    zz[k] = _jpeg_extend(int(w16[cur]) >> (16 - size), size)
                    cur += size
                    any_ac = True
                    k += 1
                if not any_ac:
                    # DC-only fast path (the libjpeg idct shortcut): the
                    # orthonormal IDCT of a lone F00 is the constant
                    # F00/8 — exact in float (divide by a power of two),
                    # no 8x8 matmul or block alloc needed.
                    planes[idx][
                        by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                    ] = (zz[0] * qt[0]) / 8.0 + 128.0
                    continue
                block = np.zeros(64)
                for zi, bi in enumerate(_JPEG_ZIGZAG):
                    block[bi] = zz[zi] * qt[zi]
                f = m.T @ block.reshape(8, 8) @ m
                planes[idx][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = f + 128.0

    y = planes[0][:h, :w]
    cb = planes[1][:h, :w] - 128.0
    cr = planes[2][:h, :w] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _jpeg_block_pattern(mid: int, size: int = 16):
    """q200's closed-form JPEG test pattern: four 8x8 block-constant
    GRAYSCALE quadrants (R=G=B=v_b, so Y=v_b and Cb=Cr=128 exactly),
    v_b = (id*K_b + C_b) % 256 for (K, C) in [(1,0),(3,7),(5,11),
    (7,13)] in raster block order. Block-constant grayscale is the
    regime where baseline JPEG with a flat quant table of 8 is
    LOSSLESS (DC-only, quantizes exactly), so the decoded mean luma is
    closed-form: 250 * (v0+v1+v2+v3)."""
    import numpy as np

    img = np.zeros((size, size, 3), dtype=np.uint8)
    kc = [(1, 0), (3, 7), (5, 11), (7, 13)]
    nb = size // 8
    for by in range(nb):
        for bx in range(nb):
            k, c = kc[(by * nb + bx) % len(kc)]
            v = (int(mid) * k + c) % 256
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] = v
    return img


def _test_pattern(mid: int, size: int):
    """The shared closed-form 16x16 gradient pattern (R row-gradient /
    G col-gradient / B id-keyed) used by every real-codec query — its
    integer Rec.601 luma is (886*32640 + 29184*(id%256)) // 256, which
    is what lets the codec paths be value-oracled in SQL."""
    import numpy as np

    g = np.arange(size, dtype=np.uint32)
    r = ((g[:, None] * 255) // max(size - 1, 1)).astype(np.uint8)
    img = np.zeros((size, size, 3), dtype=np.uint8)
    img[:, :, 0] = r[:, 0][:, None]
    img[:, :, 1] = r[:, 0][None, :]
    img[:, :, 2] = int(mid) % 256
    return img


def synthesize_media_blobs(
    df: DataFrame, id_col: str, encode_fn, size: int = 16, pattern=_test_pattern
) -> DataFrame:
    """Codec-agnostic test-pattern synthesizer: the per-id image
    ``pattern(id, size)`` (default: the shared gradient pattern; q200
    passes ``_jpeg_block_pattern``) through any (h, w, 3)->bytes encoder
    (bmp_encode, png_encode_rgb8, gif_encode_rgb8, jpeg_encode_rgb8).
    Arrow-batched like the decoders, so the full encode->decode->extract
    pipeline runs on tables that carry no real media."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                ids.append(int(mid))
                blobs.append(encode_fn(pattern(int(mid), size)))
            yield pd.DataFrame({"media_id": ids, "blob": blobs})

    return df.select(id_col).mapInPandas(fn, schema="media_id long, blob binary")


def extract_image_features_codec(media: DataFrame, decode_fn) -> DataFrame:
    """Codec-agnostic REAL feature extraction: Arrow-batched
    mapInPandas, any bytes->(h, w, 3) decoder, integer Rec.601
    milli-luma (exact sums then one floor division — deterministic and
    oracle-hashable). Every real image codec (BMP, PNG, GIF, JPEG) goes
    through this one extractor with its own decoder."""
    import numpy as np

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "n_channels": [], "mean_luma": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                a = decode_fn(bytes(blob))
                h, w, c = a.shape
                s = a.astype(np.int64)
                luma_sum = int(
                    299 * s[:, :, 0].sum() + 587 * s[:, :, 1].sum() + 114 * s[:, :, 2].sum()
                )
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(c)
                out["mean_luma"].append(str(luma_sum // (h * w)))
            yield pd.DataFrame(out)

    return media.mapInPandas(_extract, schema=IMAGE_FEATURES_SCHEMA)
