"""Multimodal column plumbing (SURVEY.md §2.10): image/audio/video as
opaque binary columns with typed metadata, processed by Arrow-batched
Pandas functions over mapInPandas.

Decodable with the stdlib alone — and therefore REAL here — are
audio/wav (RIFF/PCM via `wave`), image/bmp (struct parse),
image/png (`zlib` inflate + the five row filters), binary PGM/PPM,
and baseline-sequential JPEG (marker parse, canonical Huffman, exact
float IDCT, chroma upsample; grayscale ENCODE too, with the T.81
Annex K tables).  Codecs that genuinely need external libraries
(progressive/arithmetic JPEG, video)
raise NotImplementedError at the single `decode_media` seam; a
deterministic fake feature extractor exercises the same Spark-side
plumbing (schema, partitioning, UDF signature, Arrow batch shape) for
those, and everything around the seam — binary columns in parquet,
metadata structs, batched iteration, per-partition parallelism — is
real and tested either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, byte_len long, content_sha256 string, "
    "fake_brightness double"
)


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Build a media-shaped table from the documents fixture: payload =
    utf-8 bytes of the text, meta derived deterministically. Stands in
    for `spark.read.format('binaryFile')` / image-manifest parquet at
    scale."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def decode_media(payload: bytes, mime: str):
    """REAL decode entry point — the single seam to swap in PIL/ffmpeg.

    `audio/wav` genuinely decodes here (RIFF/PCM parses with the stdlib
    `wave` module — no codec library needed): returns
    ``{"kind": "audio", "sample_rate", "n_channels", "sample_width",
    "samples"}`` where samples is an int numpy array of interleaved PCM
    (unsigned 8-bit kept 0..255; 16/32-bit signed little-endian).
    BMP/PNG/PNM/baseline-JPEG decode for real below (stdlib + numpy);
    video and the exotic image variants raise NotImplementedError."""
    if mime == "audio/wav":
        import io
        import wave

        import numpy as np

        with wave.open(io.BytesIO(payload)) as w:
            sw = w.getsampwidth()
            dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(sw)
            if dtype is None:
                raise NotImplementedError(
                    f"WAV sample width {sw} bytes (24-bit PCM needs "
                    "byte-repacking; not implemented)"
                )
            frames = w.readframes(w.getnframes())
            return {
                "kind": "audio",
                "sample_rate": w.getframerate(),
                "n_channels": w.getnchannels(),
                "sample_width": sw,
                "samples": np.frombuffer(frames, dtype=dtype).astype(np.int64),
            }
    if mime == "image/bmp":
        return _decode_bmp(payload)
    if mime == "image/png":
        return _decode_png(payload)
    if mime == "image/jpeg":
        return _decode_jpeg(payload)
    if mime in ("image/x-portable-graymap", "image/x-portable-pixmap"):
        return _decode_pnm(payload)
    raise NotImplementedError(
        f"decoding mime {mime!r} requires codec libraries (PIL/libav) not "
        "baked into this environment; use extract_features(fake=True) for "
        "the deterministic test path"
    )


def _decode_bmp(payload: bytes) -> dict:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER): pure struct parse —
    no codec library involved.  Returns pixels as an (h, w, 3) uint8
    RGB array (BMP stores BGR bottom-up with 4-byte-aligned rows; both
    are undone here)."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    header_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is parsed here (bpp={bpp}, "
            f"compression={compression})"
        )
    flipped = height > 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3  # rows pad to 4 bytes
    px = np.frombuffer(
        payload, dtype=np.uint8, count=row_stride * height, offset=data_off
    ).reshape(height, row_stride)[:, : width * 3].reshape(height, width, 3)
    if flipped:
        px = px[::-1]
    return {
        "kind": "image",
        "width": width,
        "height": height,
        "pixels": px[:, :, ::-1].copy(),  # BGR -> RGB
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (before palette expansion)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytes:
    """Undo PNG per-row filtering (spec §9 'Filtering': None/Sub/Up/
    Average/Paeth).  Sub/Average/Paeth carry a left-neighbor dependency
    so each row is a sequential byte loop — fine for the metadata-sized
    images this seam handles; the surrounding operator parallelizes
    across rows of the DATAFRAME, not pixels."""
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        ftype = raw[pos]
        row = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out += row
        prev = row
    return bytes(out)


def _decode_png(payload: bytes) -> dict:
    """Real PNG decode with ONLY the stdlib (`zlib` inflate + `struct`):
    8-bit non-interlaced grayscale / RGB / palette / gray+alpha / RGBA.
    Returns pixels as an (h, w, ch) uint8 array (palette expanded to
    RGB).  Pure-Python spec implementation — wire-compat is pinned in
    tests against the JVM's ImageIO PNG codec."""
    import struct
    import zlib

    import numpy as np

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(ctype + data):
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit non-interlaced PNG (depth={depth}, "
            f"interlace={interlace})"
        )
    ch = _PNG_CHANNELS.get(color)
    if ch is None:
        raise ValueError(f"bad PNG color type {color}")
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel data length mismatch")
    px = np.frombuffer(
        _png_unfilter(raw, h, stride, ch), dtype=np.uint8
    ).reshape(h, w, ch)
    if color == 3:  # palette -> RGB
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        px = plte[px[:, :, 0]]
        ch = 3
    return {"kind": "image", "width": w, "height": h, "pixels": px.copy()}


def encode_png(pixels, filter_type: int = 0) -> bytes:
    """Minimal PNG writer (stdlib zlib/struct): 8-bit gray/RGB/RGBA from
    an (h, w[, ch]) uint8 array, every row forward-filtered with the
    given type (0-4) — the encoder exists so tests can exercise EVERY
    unfilter branch and cross-check bytes against the JVM ImageIO
    decoder; it is not a size-optimizing codec."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int64)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        row = flat[y]
        left = np.concatenate([np.zeros(ch, dtype=np.int64), row[:-ch]])
        upleft = np.concatenate([np.zeros(ch, dtype=np.int64), prev[:-ch]])
        if filter_type == 0:
            enc = row
        elif filter_type == 1:
            enc = row - left
        elif filter_type == 2:
            enc = row - prev
        elif filter_type == 3:
            enc = row - ((left + prev) >> 1)
        elif filter_type == 4:
            p = left + prev - upleft
            pa, pb, pc = (
                np.abs(p - left), np.abs(p - prev), np.abs(p - upleft),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = row - pred
        else:
            raise ValueError(f"bad filter type {filter_type}")
        out.append(filter_type)
        out += (enc & 0xFF).astype(np.uint8).tobytes()
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + chunk(b"IEND", b"")
    )


def _decode_pnm(payload: bytes) -> dict:
    """Binary PGM (P5, grayscale) / PPM (P6, RGB): the simplest real
    image container — magic, dims, maxval, then raw samples."""
    import numpy as np

    parts: list[bytes] = []
    i = 0
    # header = 4 whitespace-separated tokens, '#' comments allowed
    while len(parts) < 4:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        parts.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    magic, w, h, maxval = parts[0], int(parts[1]), int(parts[2]), int(parts[3])
    if magic not in (b"P5", b"P6") or maxval > 255:
        raise NotImplementedError(f"only 8-bit binary P5/P6 (got {magic!r})")
    ch = 1 if magic == b"P5" else 3
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=i)
    return {
        "kind": "image",
        "width": w,
        "height": h,
        "pixels": px.reshape(h, w, ch).copy(),
    }


# JPEG zigzag scan order: _JPEG_ZZ[k] = flat index into the natural
# (row-major) 8x8 block of the k-th zigzag coefficient (ITU T.81 Fig 5).
_JPEG_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_idct_matrix():
    """Orthonormal 8-point DCT-II basis M with M[x,u] = C(u)/2 *
    cos((2x+1)u*pi/16); the 2-D inverse DCT of coefficient block F is
    M @ F @ M.T (T.81 A.3.3)."""
    import numpy as np

    x = np.arange(8).reshape(8, 1)
    u = np.arange(8).reshape(1, 8)
    m = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
    m[:, 0] /= np.sqrt(2.0)
    return m


def _jpeg_huff_lut(counts: list[int], values: bytes) -> dict:
    """DHT table -> {(bit_length, code): value} (canonical Huffman,
    T.81 C.2: codes of each length are consecutive, shifted left when
    the length grows)."""
    lut = {}
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            lut[(ln, code)] = values[vi]
            code += 1
            vi += 1
        code <<= 1
    return lut


# T.81 Annex K.1 luminance quantization table, natural (row-major)
# order; the IJG quality scaling in encode_jpeg_gray maps quality=50 to
# this table verbatim.
_JPEG_STD_LUMA_Q = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# T.81 Annex K.3: standard DC luminance Huffman table (BITS, HUFFVAL).
_JPEG_STD_DC_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_STD_DC_VALUES = bytes(range(12))

# T.81 Annex K.5: standard AC luminance Huffman table.
_JPEG_STD_AC_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_STD_AC_VALUES = bytes(
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]
)

# T.81 Annex K.1 Table K.2: standard chrominance quantization (natural
# order), used by encode_jpeg_color for the Cb/Cr planes (table id 1).
_JPEG_STD_CHROMA_Q = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# T.81 Annex K.3 Table K.4: standard DC chrominance Huffman table.
_JPEG_STD_DC_CHROMA_COUNTS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_STD_DC_CHROMA_VALUES = bytes(range(12))

# T.81 Annex K.3 Table K.6: standard AC chrominance Huffman table.
_JPEG_STD_AC_CHROMA_COUNTS = [
    0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77,
]
_JPEG_STD_AC_CHROMA_VALUES = bytes(
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]
)


def _jpeg_huff_codes(counts: list[int], values: bytes) -> dict:
    """Encode-side twin of _jpeg_huff_lut: {value: (code, bit_length)}
    under the same canonical assignment (T.81 C.2)."""
    enc = {}
    code = 0
    vi = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            enc[values[vi]] = (code, ln)
            code += 1
            vi += 1
        code <<= 1
    return enc


def encode_jpeg_gray(
    pixels, quality: int = 50, restart_interval: int = 0
) -> bytes:
    """REAL baseline-sequential grayscale JPEG encoder with only the
    stdlib + numpy: level shift, exact float 2-D DCT (the transpose of
    the decoder's orthonormal IDCT basis), IJG-style quality-scaled
    Annex K.1 quantization, zigzag, canonical Huffman entropy coding
    with the STANDARD Annex K.3/K.5 tables, 0xFF byte stuffing, JFIF
    APP0.  Edge-replication pads to 8x8 blocks; DC prediction runs
    across blocks in scan order.  restart_interval > 0 emits a DRI
    segment and byte-aligned RSTn markers every N MCUs with DC
    prediction reset (T.81 B.2.4.4 / E.1.4) — the decoder's
    sync_restart path.

    quality=50 uses the Annex K.1 table verbatim, so a FLAT 8x8 block
    of even value v round-trips exactly (DC = 8*(v-128), q0 = 16, all
    AC = 0) — the closed form mm_jpeg_roundtrip_agg's oracle relies on.
    Wire-compat is pinned against the JVM's ImageIO codec in tests."""
    import struct

    import numpy as np

    px = np.asarray(pixels)
    if px.ndim == 3:
        if px.shape[2] != 1:
            raise NotImplementedError("encode_jpeg_gray is grayscale-only")
        px = px[:, :, 0]
    if px.dtype != np.uint8:
        raise ValueError("pixels must be uint8")
    h, w = px.shape
    if not (0 < h <= 65535 and 0 < w <= 65535):
        raise ValueError(f"bad image size {w}x{h}")
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")

    # IJG quality scaling (public libjpeg convention).
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    qnat = np.clip(
        (np.array(_JPEG_STD_LUMA_Q, dtype=np.int64) * scale + 50) // 100,
        1,
        255,
    )
    zz = np.array(_JPEG_ZZ)
    qzz = qnat[zz]  # quant divisors in zigzag order (as stored in DQT)

    ph = -(-h // 8) * 8
    pw = -(-w // 8) * 8
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = px
    padded[h:, :w] = px[h - 1 : h, :]  # replicate bottom edge
    padded[:, w:] = padded[:, w - 1 : w]  # replicate right edge
    padded -= 128.0

    m = _jpeg_idct_matrix()  # orthonormal: forward DCT is m.T @ B @ m
    dc_enc = _jpeg_huff_codes(_JPEG_STD_DC_COUNTS, _JPEG_STD_DC_VALUES)
    ac_enc = _jpeg_huff_codes(_JPEG_STD_AC_COUNTS, _JPEG_STD_AC_VALUES)

    # (value, nbits) in emit order; a restart marker is the out-of-band
    # entry (None, rst_index) — value None can never collide with a bit
    # group, unlike the old in-band "RST" string sentinel (round-9
    # ADVICE: a numeric-masking refactor would have silently packed it).
    bits: list[tuple[int | None, int]] = []

    def put(value: int, nbits: int) -> None:
        if nbits:
            bits.append((value & ((1 << nbits) - 1), nbits))

    pred = 0
    n_mcu = 0
    n_rst = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                bits.append((None, n_rst % 8))  # packer flushes + emits RSTn
                n_rst += 1
                pred = 0
            n_mcu += 1
            block = padded[by : by + 8, bx : bx + 8]
            coef = m.T @ block @ m
            qc = np.rint(coef.reshape(64)[zz] / qzz).astype(np.int64)
            diff = int(qc[0]) - pred
            pred = int(qc[0])
            # DC: category huffman code, then t magnitude bits
            # (T.81 F.1.2.1: negatives emit diff-1 in t bits)
            t = int(diff).bit_length() if diff >= 0 else int(-diff).bit_length()
            code, ln = dc_enc[t]
            put(code, ln)
            if t:
                put(diff if diff > 0 else diff - 1, t)
            # AC: run-length coded
            run = 0
            last_nz = int(np.max(np.nonzero(qc)[0])) if np.any(qc[1:]) else 0
            for k in range(1, 64):
                v = int(qc[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_enc[0xF0]  # ZRL
                    put(code, ln)
                    run -= 16
                s = v.bit_length() if v > 0 else (-v).bit_length()
                code, ln = ac_enc[(run << 4) | s]
                put(code, ln)
                put(v if v > 0 else v - 1, s)
                run = 0
            if last_nz < 63:
                code, ln = ac_enc[0x00]  # EOB
                put(code, ln)

    # pack bits, MSB first, stuff 0x00 after every 0xFF (T.81 B.1.1.5)
    out = bytearray()
    acc = 0
    nacc = 0

    def flush_padded() -> None:
        nonlocal acc, nacc
        if nacc:
            b = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        acc = 0
        nacc = 0

    for value, nbits in bits:
        if value is None:  # byte-align, then the bare restart marker
            flush_padded()
            out.extend((0xFF, 0xD0 + nbits))
            continue
        acc = (acc << nbits) | value
        nacc += nbits
        while nacc >= 8:
            nacc -= 8
            b = (acc >> nacc) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        acc &= (1 << nacc) - 1
    flush_padded()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    jfif = seg(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    dqt = seg(0xDB, bytes([0x00]) + bytes(int(q) for q in qzz))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xC4,
        bytes([0x00])
        + bytes(_JPEG_STD_DC_COUNTS)
        + _JPEG_STD_DC_VALUES
        + bytes([0x10])
        + bytes(_JPEG_STD_AC_COUNTS)
        + _JPEG_STD_AC_VALUES,
    )
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + jfif + dqt + sof + dht + dri + sos + bytes(out)
        + b"\xff\xd9"
    )


def encode_jpeg_color(
    pixels,
    quality: int = 90,
    subsampling: str = "420",
    restart_interval: int = 0,
) -> bytes:
    """Baseline-sequential color JFIF encode (SOF0, 3-component YCbCr,
    4:2:0 or 4:4:4) with ONLY the stdlib + numpy — the color twin of
    encode_jpeg_gray.  RGB converts to full-range BT.601 YCbCr (the
    JFIF convention); 4:2:0 chroma is a 2x2 box average; MCUs
    interleave per T.81 A.2.3 (four Y blocks then Cb then Cr for
    4:2:0).  Tables: Annex K.1/K.2 quant (luma id 0 / chroma id 1) and
    the four Annex K.3 standard Huffman tables, all IJG
    quality-scaled.  Wire-compat (ImageIO decodes our bytes, our
    decoder reads ImageIO's) is pinned in tests.  restart_interval > 0
    emits a DRI segment and byte-aligned RSTn markers every N MCUs
    with ALL THREE DC predictors reset (T.81 B.2.4.4 / E.1.4) — the
    same contract as the gray encoder, exercising the decoder's
    sync_restart path on interleaved 3-component scans.

    A gray image (R == G == B, even values, quality 50) round-trips
    EXACTLY through encode->_decode_jpeg: Cb/Cr are a flat 128 (the
    BT.601 row sums are exactly 0.5), every chroma coefficient
    quantizes to zero, and the Y path reduces to the gray encoder's
    flat-block closed form — mm_jpeg_color_roundtrip_agg relies on
    this."""
    import struct

    import numpy as np

    px = np.asarray(pixels)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_jpeg_color wants (h, w, 3) RGB")
    if px.dtype != np.uint8:
        raise ValueError("pixels must be uint8")
    if subsampling not in ("420", "444"):
        raise NotImplementedError(f"subsampling {subsampling!r}")
    h, w = px.shape[:2]
    if not (0 < h <= 65535 and 0 < w <= 65535):
        raise ValueError(f"bad image size {w}x{h}")
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    if restart_interval < 0 or restart_interval > 65535:
        raise ValueError("restart_interval must be in 0..65535")
    sub = 2 if subsampling == "420" else 1

    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    zz = np.array(_JPEG_ZZ)

    def scaled_q(base):
        qnat = np.clip(
            (np.array(base, dtype=np.int64) * scale + 50) // 100, 1, 255
        )
        return qnat[zz]

    qzz = [scaled_q(_JPEG_STD_LUMA_Q), scaled_q(_JPEG_STD_CHROMA_Q)]

    # Pad to a whole MCU (16x16 for 4:2:0, 8x8 for 4:4:4) by edge
    # replication so the Y and chroma planes tile with no special case.
    mcu = 8 * sub
    ph = -(-h // mcu) * mcu
    pw = -(-w // mcu) * mcu
    rgb = np.empty((ph, pw, 3), dtype=np.float64)
    rgb[:h, :w] = px
    rgb[h:, :w] = px[h - 1 : h, :]
    rgb[:, w:] = rgb[:, w - 1 : w]
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    if sub == 2:
        cb = (cb[0::2, 0::2] + cb[0::2, 1::2] + cb[1::2, 0::2]
              + cb[1::2, 1::2]) / 4.0
        cr = (cr[0::2, 0::2] + cr[0::2, 1::2] + cr[1::2, 0::2]
              + cr[1::2, 1::2]) / 4.0
    planes = [y - 128.0, cb - 128.0, cr - 128.0]

    m = _jpeg_idct_matrix()
    dc_enc = [
        _jpeg_huff_codes(_JPEG_STD_DC_COUNTS, _JPEG_STD_DC_VALUES),
        _jpeg_huff_codes(
            _JPEG_STD_DC_CHROMA_COUNTS, _JPEG_STD_DC_CHROMA_VALUES
        ),
    ]
    ac_enc = [
        _jpeg_huff_codes(_JPEG_STD_AC_COUNTS, _JPEG_STD_AC_VALUES),
        _jpeg_huff_codes(
            _JPEG_STD_AC_CHROMA_COUNTS, _JPEG_STD_AC_CHROMA_VALUES
        ),
    ]

    out = bytearray()
    acc = 0
    nacc = 0

    def put(value: int, nbits: int) -> None:
        nonlocal acc, nacc
        if not nbits:
            return
        acc = (acc << nbits) | (value & ((1 << nbits) - 1))
        nacc += nbits
        while nacc >= 8:
            nacc -= 8
            byte = (acc >> nacc) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            acc &= (1 << nacc) - 1

    pred = [0, 0, 0]

    def flush_padded() -> None:
        # byte-align with 1-padding (T.81 F.1.2.3); stuffing applies
        # to the pad byte too
        nonlocal acc, nacc
        if nacc:
            byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        acc = 0
        nacc = 0

    def encode_block(plane, by, bx, ci) -> None:
        t_id = 0 if ci == 0 else 1
        block = plane[by : by + 8, bx : bx + 8]
        coef = m.T @ block @ m
        qc = np.rint(coef.reshape(64)[zz] / qzz[t_id]).astype(np.int64)
        diff = int(qc[0]) - pred[ci]
        pred[ci] = int(qc[0])
        t = int(diff).bit_length() if diff >= 0 else int(-diff).bit_length()
        code, ln = dc_enc[t_id][t]
        put(code, ln)
        if t:
            put(diff if diff > 0 else diff - 1, t)
        run = 0
        last_nz = int(np.max(np.nonzero(qc)[0])) if np.any(qc[1:]) else 0
        for k in range(1, 64):
            v = int(qc[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_enc[t_id][0xF0]  # ZRL
                put(code, ln)
                run -= 16
            # (T.81 F.1.2.2: negatives emit v-1 in s magnitude bits)
            s = v.bit_length() if v > 0 else (-v).bit_length()
            code, ln = ac_enc[t_id][(run << 4) | s]
            put(code, ln)
            put(v if v > 0 else v - 1, s)
            run = 0
        if last_nz < 63:
            code, ln = ac_enc[t_id][0x00]  # EOB
            put(code, ln)

    n_mcu = 0
    n_rst = 0
    for my in range(0, ph, mcu):
        for mx in range(0, pw, mcu):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                flush_padded()
                out.extend((0xFF, 0xD0 + (n_rst % 8)))  # bare marker
                n_rst += 1
                pred[0] = pred[1] = pred[2] = 0
            n_mcu += 1
            for by in range(sub):
                for bx in range(sub):
                    encode_block(
                        planes[0], my + by * 8, mx + bx * 8, 0
                    )
            encode_block(planes[1], my // sub, mx // sub, 1)
            encode_block(planes[2], my // sub, mx // sub, 2)
    flush_padded()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    jfif = seg(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    dqt = seg(
        0xDB,
        bytes([0x00]) + bytes(int(q) for q in qzz[0])
        + bytes([0x01]) + bytes(int(q) for q in qzz[1]),
    )
    hv_y = (sub << 4) | sub
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, hv_y, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_STD_DC_COUNTS) + _JPEG_STD_DC_VALUES
        + bytes([0x10]) + bytes(_JPEG_STD_AC_COUNTS) + _JPEG_STD_AC_VALUES
        + bytes([0x01]) + bytes(_JPEG_STD_DC_CHROMA_COUNTS)
        + _JPEG_STD_DC_CHROMA_VALUES
        + bytes([0x11]) + bytes(_JPEG_STD_AC_CHROMA_COUNTS)
        + _JPEG_STD_AC_CHROMA_VALUES,
    )
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (
        b"\xff\xd8" + jfif + dqt + sof + dht + dri + sos + bytes(out)
        + b"\xff\xd9"
    )


def _decode_jpeg(payload: bytes) -> dict:
    """Baseline-sequential JFIF decode with ONLY the stdlib + numpy:
    marker parse, canonical Huffman entropy decode (with 0xFF00
    unstuffing and RSTn restart handling), dequantize, un-zigzag,
    exact float IDCT, chroma upsample (sample replication), YCbCr->RGB.
    Supports 8-bit SOF0 with 1 (grayscale) or 3 (YCbCr) components and
    arbitrary 1..4 sampling factors (4:4:4 / 4:2:2 / 4:2:0 ...).
    Progressive (SOF2), arithmetic coding, and 12-bit precision raise
    NotImplementedError — honest seams, same policy as the other
    codecs.  Wire-compat is pinned in tests against the JVM's ImageIO
    JPEG codec (tolerance: IDCT rounding + chroma upsample choice are
    implementation-defined within T.81's accuracy bounds).

    Returns ``{"kind": "image", "width", "height", "pixels"}`` with
    pixels (h, w, 1|3) uint8 (RGB for color)."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> lut
    frame = None  # (W, H, [(comp_id, h, v, tq)])
    scan = None  # ([(comp_idx, td, ta)], entropy_start)
    restart_interval = 0
    pos = 2
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker sync at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg, np.uint8, 64, i).astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(seg, ">u2", 64, i).astype(np.int32)
                    i += 128
                qt[tq] = tbl  # zigzag order, as stored
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1 : i + 17])
                nv = sum(counts)
                huff[(tc, th)] = _jpeg_huff_lut(
                    counts, seg[i + 17 : i + 17 + nv]
                )
                i += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1: baseline (ext. seq.)
            prec, h_, w_, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG precision")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (w_, h_, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0x{marker:02x}: progressive/"
                "lossless/arithmetic)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            sel = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                idx = next(
                    i for i, cm in enumerate(frame[2]) if cm[0] == cs
                )
                sel.append((idx, tt >> 4, tt & 15))
            scan = (sel, pos + seglen)
            break  # entropy-coded data follows
        pos += seglen
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    width, height, comps = frame
    if len(comps) not in (1, 3):
        raise NotImplementedError(f"{len(comps)}-component JPEG (CMYK?)")
    sel, epos = scan

    # --- entropy decode ---------------------------------------------------
    data = payload
    bitbuf, bitcnt = 0, 0
    dpos = epos

    def fill() -> bool:
        nonlocal bitbuf, bitcnt, dpos
        while bitcnt <= 24:
            if dpos >= len(data):
                return False
            b = data[dpos]
            if b == 0xFF:
                nxt = data[dpos + 1] if dpos + 1 < len(data) else 0xD9
                if nxt == 0x00:
                    dpos += 2
                else:  # a real marker terminates the entropy segment
                    return False
            else:
                dpos += 1
            bitbuf = (bitbuf << 8) | b
            bitcnt += 8
        return True

    def read_bits(n: int) -> int:
        nonlocal bitbuf, bitcnt
        if n == 0:
            return 0
        while bitcnt < n:
            if not fill():
                # pad with zeros past the end (T.81 allows the final
                # EOB run to rely on marker-terminated padding)
                bitbuf <<= 8
                bitcnt += 8
        bitcnt -= n
        v = (bitbuf >> bitcnt) & ((1 << n) - 1)
        bitbuf &= (1 << bitcnt) - 1
        return v

    def decode_huff(lut: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | read_bits(1)
            v = lut.get((ln, code))
            if v is not None:
                return v
        raise ValueError("invalid JPEG Huffman code")

    def extend(v: int, t: int) -> int:
        return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1

    def sync_restart(expected: int) -> None:
        """Byte-align and consume the RSTn marker between intervals.
        T.81 E.1.4: the marker ordinal cycles modulo 8, so a skipped,
        duplicated, or reordered interval is a detectable bitstream
        error, not a silent resync onto the wrong MCU run — raise on
        an ordinal mismatch instead of accepting any RSTn."""
        nonlocal bitbuf, bitcnt, dpos
        bitbuf, bitcnt = 0, 0
        while dpos + 1 < len(data):
            if data[dpos] == 0xFF and 0xD0 <= data[dpos + 1] <= 0xD7:
                got = data[dpos + 1] - 0xD0
                if got != expected:
                    raise ValueError(
                        "expected JPEG restart marker RST%d, found RST%d"
                        % (expected, got)
                    )
                dpos += 2
                return
            dpos += 1
        raise ValueError("expected JPEG restart marker")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    m = _jpeg_idct_matrix()
    planes = [
        np.zeros((mcuy * v * 8, mcux * h * 8), dtype=np.float64)
        for (_, h, v, _) in comps
    ]
    pred = [0] * len(comps)
    zz = np.array(_JPEG_ZZ)
    n_mcu = 0
    n_rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                sync_restart(n_rst % 8)
                n_rst += 1
                pred = [0] * len(comps)
            n_mcu += 1
            for ci, td, ta in sel:
                _, ch_, cv, tq = comps[ci]
                dc_lut, ac_lut = huff[(0, td)], huff[(1, ta)]
                q = qt[tq]
                for by in range(cv):
                    for bx in range(ch_):
                        coef = np.zeros(64, dtype=np.int64)
                        t = decode_huff(dc_lut)
                        pred[ci] += extend(read_bits(t), t)
                        coef[0] = pred[ci] * int(q[0])
                        k = 1
                        while k < 64:
                            rs = decode_huff(ac_lut)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overrun")
                            coef[k] = extend(read_bits(s), s) * int(q[k])
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[zz] = coef
                        px = m @ block.reshape(8, 8) @ m.T + 128.0
                        y0, x0 = (my * cv + by) * 8, (mx * ch_ + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px

    # --- upsample, crop, color-convert -------------------------------------
    full = []
    for (_, ch_, cv, _), pl in zip(comps, planes):
        if ch_ != hmax or cv != vmax:
            pl = pl.repeat(vmax // cv, axis=0).repeat(hmax // ch_, axis=1)
        full.append(pl[:height, :width])
    if len(full) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return {
            "kind": "image",
            "width": width,
            "height": height,
            "pixels": out[:, :, None].copy(),
        }
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )
    return {
        "kind": "image",
        "width": width,
        "height": height,
        "pixels": rgb,
    }


def extract_features(
    media: DataFrame, fake: bool = True, parallelism: int | None = 8
) -> DataFrame:
    """Batched feature extraction over the binary payload via
    mapInPandas (Arrow transfer, per-partition batches — the pattern
    scales to image decode / frame sampling unchanged).

    fake=True computes deterministic pseudo-features (byte stats) in
    place of a real decode — the SQL-reproducible path the oracles
    check.  fake=False goes through the REAL decode seam: for
    decodable mimes (image/bmp, image/png, binary PGM/PPM, audio/wav) the
    brightness is the mean over the actual decoded pixels/samples;
    undecodable mimes raise NotImplementedError (honest seam).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        def brightness(b, mime=None) -> float:
            if not b:
                return 0.0
            if not fake:
                d = decode_media(bytes(b), mime)
                arr = d["pixels"] if d["kind"] == "image" else d["samples"]
                return float(np.asarray(arr, dtype=np.float64).mean())
            return float(np.frombuffer(b, dtype=np.uint8).mean())

        for pdf in batches:
            payloads = pdf["payload"]
            if fake:
                bright = payloads.map(brightness)
            else:
                mimes = pdf["meta"].map(lambda m: m["mime"] if m else None)
                bright = [
                    brightness(p, m) for p, m in zip(payloads, mimes)
                ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": payloads.map(lambda b: len(b) if b is not None else 0),
                    "content_sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    # fake=True: mean byte value (deterministic stand-in);
                    # fake=False: mean decoded pixel/sample value.
                    "fake_brightness": bright,
                }
            )

    # CPU-bound Python work: spread it across workers regardless of the
    # source file's partitioning (a single small parquet file arrives
    # as ONE partition, which would serialize the whole extraction
    # through one Python worker — measured 42s -> ~4s at sf0.1).
    # Partition count is deliberately modest: each partition costs a
    # Python worker (fork + imports), which dominates when per-row work
    # is light; at real scale the input arrives in many partitions
    # already and `parallelism=None` keeps them as-is.
    if parallelism:
        media = media.repartition(parallelism)
    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx long, frame_off long, frame_sha256 string"


def frame_sample(
    media: DataFrame,
    n_frames: int = 4,
    frame_bytes: int = 256,
    parallelism: int | None = 8,
) -> DataFrame:
    """Uniform frame sampling over a video-like payload: one output row
    per sampled frame (one-to-many mapInPandas — the decode-free twin
    of ffmpeg keyframe extraction).  Frame i starts at
    floor(i * byte_len / n_frames) and spans frame_bytes bytes; frames
    are identified by the sha256 of their byte slice, so the whole
    operator is reproducible in SQL."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "frame_idx": [],
                "frame_off": [],
                "frame_sha256": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = payload or b""
                for i in range(n_frames):
                    off = (i * len(b)) // n_frames
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_off"].append(off)
                    out["frame_sha256"].append(
                        hashlib.sha256(b[off : off + frame_bytes]).hexdigest()
                    )
            yield pd.DataFrame(out)

    if parallelism:
        media = media.repartition(parallelism)
    return media.mapInPandas(run, schema=FRAME_SCHEMA)


AUDIO_SCHEMA = "media_id long, n_samples long, rms double, peak long"


def audio_features(media: DataFrame, parallelism: int | None = 8) -> DataFrame:
    """Waveform-statistics extraction: RMS and peak amplitude.

    Payloads whose meta.mime is `audio/wav` go through the REAL decode
    seam (`decode_media` — stdlib RIFF/PCM parse) and the stats are
    computed over the decoded PCM samples.  Any other mime falls back
    to the decode-free convention (raw bytes as unsigned 8-bit
    samples), which keeps the operator SQL-reproducible on the
    synthetic text-payload fixtures.  Either way the integer
    sum-of-squares is exact, so rms = sqrt(sumsq/n) is bit-identical
    across engines."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        def stats(b, mime):
            if not b:
                return 0, 0.0, 0
            if mime == "audio/wav":
                arr = decode_media(bytes(b), mime)["samples"]
            else:
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            if not len(arr):
                return 0, 0.0, 0
            sumsq = int((arr * arr).sum())
            return (
                len(arr),
                math.sqrt(sumsq / len(arr)),
                int(np.abs(arr).max()),
            )

        for pdf in batches:
            mimes = pdf["meta"].map(lambda m: (m or {}).get("mime"))
            tup = [stats(b, m) for b, m in zip(pdf["payload"], mimes)]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": [t[0] for t in tup],
                    "rms": [t[1] for t in tup],
                    "peak": [t[2] for t in tup],
                }
            )

    if parallelism:
        media = media.repartition(parallelism)
    return media.mapInPandas(run, schema=AUDIO_SCHEMA)


RESIZE_SCHEMA = "media_id long, stride long, thumb_len long, thumb_sha256 string"


def resize_thumb(
    media: DataFrame, max_bytes: int = 256, parallelism: int | None = 8
) -> DataFrame:
    """Decode-free "resize": a strided byte-downsample of the payload
    to at most max_bytes (take every stride-th byte, stride =
    max(byte_len // max_bytes, 1)) — the deterministic stand-in for
    thumbnail generation, identified by the sha256 of the downsampled
    bytes so the whole operator is reproducible in SQL.  Swapping the
    strided slice for a real PIL resize at `decode_media` changes
    nothing structural: same mapInPandas shape, same output schema.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def one(b: bytes):
            b = b or b""
            stride = max(len(b) // max_bytes, 1)
            thumb = b[::stride][:max_bytes]
            return stride, len(thumb), hashlib.sha256(thumb).hexdigest()

        for pdf in batches:
            out = pdf["payload"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "stride": out.map(lambda t: t[0]),
                    "thumb_len": out.map(lambda t: t[1]),
                    "thumb_sha256": out.map(lambda t: t[2]),
                }
            )

    if parallelism:
        media = media.repartition(parallelism)
    return media.mapInPandas(run, schema=RESIZE_SCHEMA)
