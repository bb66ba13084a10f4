"""Multimodal column plumbing: images as opaque ``binary`` columns with
typed metadata, processed by Arrow-batched pandas UDFs.

Metadata tiers of :func:`decode_image_batch`:

- ``decoder="fake"`` (default): parses the tiny pinned header format the
  synthetic generator emits, vectorized over the whole batch, so the
  full metadata→feature pipeline has a closed-form SQL oracle.
- ``decoder="real"``: header-only walks of real wire formats — PNG IHDR
  (CRC-checked) plus a chunk-header walk for PLTE/tRNS/IDAT, the JPEG
  marker walk to the SOF segment, the GIF walk to the first image
  descriptor, and BMP's BITMAPINFOHEADER. One walk per blob; nothing
  inside a blob is inflated or entropy-decoded, and no pixels are
  allocated. Dimensions are attacker-controlled at web scale, so every
  format is held to one pixel budget (:data:`MAX_PIXEL_BYTES`) and a
  malformed or unsupported blob comes back ``valid=false``, never as an
  exception.

There are no pixel or audio decoders. Features (:func:`mean_pixel_features`)
come from the fake tier's payload bytes with one ``reduceat`` kernel per
batch; a production pipeline would put a native codec behind a UDF of the
same shape.

Synthetic payload format (deterministic, seed-free):
  b"IMG1" + width:uint16 + height:uint16 + channels:uint8 + payload bytes
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .queries import q

IMAGE_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("valid", T.BooleanType()),
    ]
)

_MAGIC = b"IMG1"
_HEADER = struct.Struct("<HHB")

# per-image decoded-size budget (256 MB): a blob whose header claims more
# pixel bytes than this is invalid, whatever its format
MAX_PIXEL_BYTES = 256 * 1024 * 1024


def encode_fake_image(width: int, height: int, channels: int = 3) -> bytes:
    """Deterministic synthetic 'image': header + (w*h*c % 251) byte ramp."""
    n = width * height * channels
    payload = (np.arange(n, dtype=np.uint32) % 251).astype(np.uint8).tobytes()
    return _MAGIC + _HEADER.pack(width, height, channels) + payload


# --- header walks (PNG spec: RFC 2083 / W3C PNG; JPEG: ITU-T T.81;
# GIF89a spec; BMP: BITMAPINFOHEADER) ---------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel (8-bit depth only; 16-bit rejected).
# Indexed-color (type 3) is handled separately: 3 channels, 4 with tRNS.
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _png_header_meta(b: bytes) -> tuple:
    # IHDR must be the first chunk (PNG spec); CRC-check just it, then
    # walk chunk HEADERS (skip data by length) for PLTE/tRNS/IDAT
    (clen,) = struct.unpack_from(">I", b, 8)
    if clen != 13 or b[12:16] != b"IHDR":
        raise ValueError("missing IHDR")
    (crc,) = struct.unpack_from(">I", b, 29)
    if zlib.crc32(b[12:29]) & 0xFFFFFFFF != crc:
        raise ValueError("IHDR CRC mismatch")
    width, height, depth, ctype_i, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", b[16:29]
    )
    if depth != 8 or comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError("unsupported PNG variant")
    if ctype_i not in _PNG_CHANNELS and ctype_i != 3:
        raise ValueError("unsupported color type")
    if not width or not height:
        raise ValueError("bad dimensions")
    pos, has_idat, plte_len, trns_len = 33, False, None, None
    while pos + 8 <= len(b):
        (clen,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        if pos + 12 + clen > len(b):
            raise ValueError("truncated chunk")
        if ctype == b"IDAT":
            has_idat = True
        elif ctype == b"PLTE":
            plte_len = clen
        elif ctype == b"tRNS":
            trns_len = clen
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if not has_idat:
        raise ValueError("missing IDAT")
    if ctype_i == 3:
        # indexed: PLTE mandatory; tRNS upgrades output to RGBA
        if not plte_len or plte_len % 3 or plte_len > 768:
            raise ValueError("bad or missing PLTE")
        if trns_len is not None and trns_len > plte_len // 3:
            raise ValueError("tRNS longer than palette")
        ch = 4 if trns_len is not None else 3
    else:
        ch = _PNG_CHANNELS[ctype_i]
    if width * height * ch > MAX_PIXEL_BYTES:
        raise ValueError("image exceeds decode pixel budget")
    return width, height, ch, True


def jpeg_header_meta(buf: bytes) -> tuple:
    """Header-only (w, h, channels, valid): walks markers to the first SOF
    without touching entropy data. Supported: huffman-DCT SOF0/SOF1/SOF2
    at 8-bit precision, 1 or 3 components, integer-ratio chroma sampling
    (every component's factor in 1..4 and dividing the frame max).
    Arithmetic-coded, hierarchical and lossless SOF families, fractional
    sampling, 12-bit precision and dims past the pixel budget →
    valid=False."""
    if buf[:2] != b"\xff\xd8":
        return 0, 0, 0, False
    i = 2
    n = len(buf)
    try:
        while i + 4 <= n:
            if buf[i] != 0xFF:
                return 0, 0, 0, False
            marker = buf[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0xD9, 0xDA):  # EOI / SOS before SOF → malformed
                return 0, 0, 0, False
            (seglen,) = struct.unpack_from(">H", buf, i + 2)
            if seglen < 2 or i + 2 + seglen > n:
                return 0, 0, 0, False
            if marker in (0xC0, 0xC1, 0xC2):
                prec, height, width, nf = struct.unpack_from(
                    ">BHHB", buf, i + 4
                )
                out_ch = 3 if nf == 3 else 1
                ok = (
                    prec == 8
                    and nf in (1, 3)
                    and width > 0
                    and height > 0
                    and width * height * out_ch <= MAX_PIXEL_BYTES
                    and seglen >= 8 + 3 * nf
                )
                if ok and nf == 3:
                    hs = [buf[i + 11 + 3 * k] >> 4 for k in range(nf)]
                    vs = [buf[i + 11 + 3 * k] & 0x0F for k in range(nf)]
                    ok = all(1 <= x <= 4 for x in hs + vs) and all(
                        max(hs) % x == 0 for x in hs
                    ) and all(max(vs) % x == 0 for x in vs)
                return (width, height, out_ch, True) if ok else (0, 0, 0, False)
            if marker in (
                0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                0xCE, 0xCF,
            ):
                return 0, 0, 0, False  # arithmetic / unsupported family
            i += 2 + seglen
    except struct.error:
        return 0, 0, 0, False
    return 0, 0, 0, False


def _gif_walk_to_frame(buf: bytes):
    """Walk to the first image descriptor → (pos at its fields, has a
    global color table, transparent index | None). Extensions are skipped
    by sub-block length (the GCE's transparency flag is the one field
    read). Raises on malformation."""
    if buf[:6] not in _GIF_MAGICS:
        raise ValueError("not GIF")
    if len(buf) < 13:
        raise ValueError("truncated GIF")
    flags = buf[10]
    pos = 13
    has_gct = bool(flags & 0x80)
    if has_gct:
        pos += 3 * (2 << (flags & 0x07))
        if pos > len(buf):
            raise ValueError("truncated color table")
    transparent = None
    while True:
        b0 = buf[pos]  # IndexError on truncation → caller maps to invalid
        pos += 1
        if b0 == 0x2C:
            return pos, has_gct, transparent
        if b0 == 0x3B:
            raise ValueError("no image data")
        if b0 != 0x21:
            raise ValueError("unknown GIF block")
        label = buf[pos]
        pos += 1
        first = True
        while True:
            sz = buf[pos]
            pos += 1
            if sz == 0:
                break
            if pos + sz > len(buf):
                raise ValueError("truncated sub-block")
            if label == 0xF9 and first and sz >= 4:
                gflags, _delay, tidx = struct.unpack_from("<BHB", buf, pos)
                if gflags & 0x01:
                    transparent = tidx
            first = False
            pos += sz


def _gif_frame_header(buf: bytes, pos: int, has_gct: bool, transparent):
    """Parse the image descriptor at ``pos`` → (w, h, channels): RGB, or
    RGBA when the GCE names a transparent index."""
    _left, _top, w, h, iflags = struct.unpack_from("<HHHHB", buf, pos)
    if iflags & 0x80:
        if pos + 9 + 3 * (2 << (iflags & 0x07)) > len(buf):
            raise ValueError("truncated color table")
    elif not has_gct:
        raise ValueError("no color table")
    if not w or not h:
        raise ValueError("bad dimensions")
    ch = 4 if transparent is not None else 3
    if w * h * ch > MAX_PIXEL_BYTES:
        raise ValueError("image exceeds decode pixel budget")
    return w, h, ch


def _bmp_header_meta(b: bytes) -> tuple:
    if len(b) < 54:
        raise ValueError("not BMP")
    (off,) = struct.unpack_from("<I", b, 10)
    hsize, width, height = struct.unpack_from("<Iii", b, 14)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    (compression,) = struct.unpack_from("<I", b, 30)
    if hsize < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant")
    height_abs = abs(height)  # negative height = top-down rows
    if not width or not height_abs or width < 0:
        raise ValueError("bad dimensions")
    if width * height_abs * 3 > MAX_PIXEL_BYTES:
        raise ValueError("image exceeds decode pixel budget")
    stride = (width * 3 + 3) & ~3
    if off + stride * height_abs > len(b):
        raise ValueError("truncated pixel array")
    return width, height_abs, 3, True


def image_header_meta(blob) -> tuple:
    """One blob → (width, height, channels, valid) from HEADERS ONLY.

    'valid' means STRUCTURALLY valid: magic and header parse, a supported
    variant (8-bit PNG color types 0/2/3/4/6, non-interlaced or Adam7,
    indexed with a well-formed PLTE and a tRNS no longer than it, at least
    one IDAT; huffman-DCT JPEG per :func:`jpeg_header_meta`; GIF with a
    color table for its first frame; 24-bit BI_RGB BMP with an in-bounds
    pixel array; complete IMG1 payload), the IHDR CRC, and the pixel
    budget. Entropy streams, IDAT contents and other chunks' CRCs are not
    read, so a header-valid blob may still hold corrupt pixel data."""
    if blob is None:
        return 0, 0, 0, False
    b = bytes(blob)
    try:
        if b[:8] == _PNG_MAGIC:
            return _png_header_meta(b)
        if b[:2] == b"\xff\xd8":
            return jpeg_header_meta(b)
        if b[:6] in _GIF_MAGICS:
            pos, has_gct, transparent = _gif_walk_to_frame(b)
            return (*_gif_frame_header(b, pos, has_gct, transparent), True)
        if b[:2] == b"BM":
            return _bmp_header_meta(b)
        if b[:4] == _MAGIC:
            w, h, c = _HEADER.unpack_from(b, 4)
            n = w * h * c
            if len(b) < 9 + n or not n:
                raise ValueError("truncated IMG1 payload")
            return w, h, c, True
        raise ValueError("unknown format")
    except (ValueError, struct.error, IndexError):
        return 0, 0, 0, False


def decode_image_batch(blobs: pd.Series, decoder: str = "fake") -> pd.DataFrame:
    """Batch decode → metadata DataFrame. The fake tier is vectorized: the
    9-byte headers of the whole batch are gathered into ONE (n, 9) uint8
    matrix and all field extraction (magic check, little-endian u16
    width/height, u8 channels) runs as numpy column ops. decoder='real'
    runs :func:`image_header_meta` once per blob."""
    if decoder == "real":
        n = len(blobs)
        width = np.zeros(n, dtype=np.int32)
        height = np.zeros(n, dtype=np.int32)
        channels = np.zeros(n, dtype=np.int32)
        valid = np.zeros(n, dtype=bool)
        lens = np.fromiter(
            (0 if b is None else len(b) for b in blobs), dtype=np.int64, count=n
        )
        for i, b in enumerate(blobs):
            w, h, c, ok = image_header_meta(b)
            width[i], height[i], channels[i], valid[i] = w, h, c, ok
        return pd.DataFrame(
            {
                "width": width,
                "height": height,
                "channels": channels,
                "n_bytes": lens,
                "valid": valid,
            }
        )
    if decoder != "fake":
        raise NotImplementedError(
            "unknown decoder tier: " + decoder + " (use 'fake' or 'real')"
        )
    n = len(blobs)
    lens = np.fromiter(
        (0 if b is None else len(b) for b in blobs), dtype=np.int64, count=n
    )
    cand = lens >= 9
    width = np.zeros(n, dtype=np.int32)
    height = np.zeros(n, dtype=np.int32)
    channels = np.zeros(n, dtype=np.int32)
    valid = np.zeros(n, dtype=bool)
    if cand.any():
        hdr = np.frombuffer(
            b"".join(bytes(b[:9]) for b, c in zip(blobs, cand) if c),
            dtype=np.uint8,
        ).reshape(-1, 9)
        magic = np.frombuffer(_MAGIC, dtype=np.uint8)
        ok = (hdr[:, :4] == magic).all(axis=1)
        w = hdr[:, 4].astype(np.int32) | (hdr[:, 5].astype(np.int32) << 8)
        h = hdr[:, 6].astype(np.int32) | (hdr[:, 7].astype(np.int32) << 8)
        c = hdr[:, 8].astype(np.int32)
        valid[cand] = ok
        width[cand] = np.where(ok, w, 0)
        height[cand] = np.where(ok, h, 0)
        channels[cand] = np.where(ok, c, 0)
    return pd.DataFrame(
        {
            "width": width,
            "height": height,
            "channels": channels,
            "n_bytes": lens,
            "valid": valid,
        }
    )


@F.pandas_udf(IMAGE_META)
def image_meta_udf(blob: pd.Series) -> pd.DataFrame:
    return decode_image_batch(blob)


def mean_pixel_features(df: DataFrame, blob_col: str = "img") -> DataFrame:
    """Feature-extraction shape: binary → fixed-width float vector
    (mean, std, min, max of the IMG1 payload bytes) via mapInPandas, the
    batch shape a real embedding model would use. Invalid or null blobs
    get all-zero features."""
    out_schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("feat", T.ArrayType(T.DoubleType())),
        ]
    )

    def extract(batches):
        for pdf in batches:
            blobs = pdf[blob_col]
            meta = decode_image_batch(blobs)
            has_payload = meta["valid"].to_numpy() & (
                meta["n_bytes"].to_numpy() > 9
            )
            n = len(pdf)
            feats = np.zeros((n, 4), dtype=np.float64)
            if has_payload.any():
                # one concatenated payload buffer + reduceat segment stats —
                # vectorized over the whole batch, no per-row numpy calls
                payloads = [
                    bytes(b[9:]) for b, keep in zip(blobs, has_payload) if keep
                ]
                sizes = np.fromiter(map(len, payloads), dtype=np.int64)
                buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                starts = np.zeros(len(sizes), dtype=np.int64)
                np.cumsum(sizes[:-1], out=starts[1:])
                f = buf.astype(np.float64)
                s1 = np.add.reduceat(f, starts)
                s2 = np.add.reduceat(f * f, starts)
                mean = s1 / sizes
                var = np.maximum(s2 / sizes - mean * mean, 0.0)
                mn = np.minimum.reduceat(buf, starts).astype(np.float64)
                mx = np.maximum.reduceat(buf, starts).astype(np.float64)
                feats[has_payload] = np.column_stack(
                    [mean, np.sqrt(var), mn, mx]
                )
            yield pd.DataFrame(
                {"item_id": pdf["item_id"], "feat": list(feats)}
            )

    return df.mapInPandas(extract, schema=out_schema)


# --- header-valid wire bytes for the real tier -----------------------------


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(tag + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)


def _real_blob(fmt: int, w: int, h: int, v: int) -> bytes:
    """Wire bytes of format ``fmt`` (0 PNG gray, 1 PNG RGB, 2 PNG indexed,
    3 GIF, 4 BMP, 5 baseline JPEG) for a w×h image of value ``v``, padded
    to exactly 1024 bytes with elements the header walk skips. The pixel
    data is well-framed but not meant to be decoded."""
    if fmt <= 2:
        ctype, spp = ((0, 1), (2, 3), (3, 1))[fmt]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        plte = b""
        if fmt == 2:
            plte = _png_chunk(b"PLTE", bytes([v] * 3 + [v + 17] * 3))
        # filter-type-0 scanlines
        idat = _png_chunk(b"IDAT", zlib.compress(bytes(1 + w * spp) * h))
        head = _PNG_MAGIC + _png_chunk(b"IHDR", ihdr) + plte
        tail = idat + _png_chunk(b"IEND", b"")
        # ancillary, private, safe-to-copy chunk: 12 bytes of framing
        pad = _png_chunk(b"spAd", bytes(1024 - len(head) - len(tail) - 12))
        return head + pad + tail
    if fmt == 3:
        # logical screen descriptor with a 2-entry global color table, one
        # image descriptor, LZW minimum code size 2 and one sub-block
        # holding the clear and end codes, then the trailer
        out = (
            b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80, 0, 0)
            + bytes([v] * 3 + [v + 17] * 3)
            + b"\x2c"
            + struct.pack("<HHHHB", 0, 0, w, h, 0)
            + b"\x02\x01\x2c\x00\x3b"
        )
    elif fmt == 4:
        stride = (w * 3 + 3) & ~3
        out = (
            b"BM"
            + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
            )
            + bytes([v]) * (stride * h)
        )
    else:
        # SOI + SOF0 (8-bit, one component, 1x1 sampling, quant table 0),
        # then a COM segment pads to 1022 bytes before EOI
        sof = (
            b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1)
            + b"\x01\x11\x00"
        )
        com_len = 1024 - 2 - len(sof) - 2 - 2
        return (
            b"\xff\xd8" + sof + b"\xff\xfe" + struct.pack(">H", com_len)
            + bytes(com_len - 2) + b"\xff\xd9"
        )
    return out + bytes(1024 - len(out))


def synthetic_real_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic REAL-wire-format media table — a pure function of
    item_id, so the driver's DuckDB oracle can state every header property
    closed-form. Per row i: every 11th null, every 13th junk bytes (len
    24); otherwise format i%6 ∈ (PNG gray, PNG RGB, PNG indexed, GIF,
    BMP, baseline JPEG), dims (6 + 2*(i%5)) × (4 + i%9), value
    v = 30 + (i*7)%190, every blob exactly 1024 bytes."""
    rows = []
    for i in range(n):
        if i % 11 == 10:
            blob = None
        elif i % 13 == 12:
            blob = b"NOPE" + bytes([i % 256]) * 20
        else:
            w, h, v = 6 + 2 * (i % 5), 4 + i % 9, 30 + (i * 7) % 190
            blob = _real_blob(i % 6, w, h, v)
        rows.append((i, blob))
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("item_id", T.LongType()),
                T.StructField("img", T.BinaryType()),
            ]
        ),
    )


def synthetic_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic media table for tests/queries: item_id, img binary,
    every 7th row corrupted, every 11th null — exercises the error paths."""
    rows = []
    for i in range(n):
        if i % 11 == 10:
            blob = None
        elif i % 7 == 6:
            blob = b"JUNK" + bytes([i % 256]) * 16
        else:
            blob = encode_fake_image(8 + i % 16, 6 + i % 9, 1 + i % 3)
        rows.append((i, blob))
    return spark.createDataFrame(
        rows, T.StructType([
            T.StructField("item_id", T.LongType()),
            T.StructField("img", T.BinaryType()),
        ])
    )


# ---------------------------------------------------------------------------
# driver-contract registration. The synthetic media table is a PURE FUNCTION
# of item_id (dims = 8+i%16 × 6+i%9 × 1+i%3, payload = byte ramp j%251,
# every 7th row corrupted, every 11th null), so BOTH the decoded metadata and
# the extracted features are re-derivable in plain SQL from range(64) — the
# oracle checks the full metadata→feature pipeline value-exactly.
# ---------------------------------------------------------------------------

_BAD = "(i % 11 = 10 OR i % 7 = 6)"  # null blob OR corrupted magic

# closed-form properties of synthetic_real_media_df (see its docstring):
# every 11th row null, every 13th junk (24 bytes), else real wire bytes of
# format i%6 padded to exactly 1024 bytes
_REAL_ROWS = (
    "SELECT i, (i % 11 = 10) AS rnull, "
    "(i % 11 <> 10 AND i % 13 = 12) AS rjunk, "
    "i % 6 AS fmt, 6 + 2 * (i % 5) AS w, 4 + (i % 9) AS h, "
    "30 + (i * 7) % 190 AS v FROM range(64) t(i)"
)
_REAL_META = (
    f"SELECT CAST(i AS BIGINT) AS item_id, "
    f"CAST(CASE WHEN rnull OR rjunk THEN 0 ELSE w END AS INTEGER) AS width, "
    f"CAST(CASE WHEN rnull OR rjunk THEN 0 ELSE h END AS INTEGER) AS height, "
    f"CAST(CASE WHEN rnull OR rjunk THEN 0 WHEN fmt IN (0, 5) THEN 1 "
    f"ELSE 3 END AS INTEGER) AS channels, "
    f"CAST(CASE WHEN rnull THEN 0 WHEN rjunk THEN 24 "
    f"ELSE 1024 END AS BIGINT) AS n_bytes, "
    f"NOT (rnull OR rjunk) AS valid FROM realrows"
)


@F.pandas_udf(IMAGE_META)
def image_meta_real_udf(blob: pd.Series) -> pd.DataFrame:
    return decode_image_batch(blob, decoder="real")


@q(
    "image_meta",
    # two tagged legs: the fake tier (closed-form IMG1 payloads) and the
    # real tier's header walks (PNG/JPEG/GIF/BMP) — one oracle states both
    f"WITH fake AS (SELECT CAST(i AS BIGINT) AS item_id, "
    f"CAST(CASE WHEN {_BAD} THEN 0 ELSE 8 + i % 16 END AS INTEGER) AS width, "
    f"CAST(CASE WHEN {_BAD} THEN 0 ELSE 6 + i % 9 END AS INTEGER) AS height, "
    f"CAST(CASE WHEN {_BAD} THEN 0 ELSE 1 + i % 3 END AS INTEGER) AS channels, "
    f"CAST(CASE WHEN i % 11 = 10 THEN 0 WHEN i % 7 = 6 THEN 20 "
    f"ELSE 9 + (8 + i % 16) * (6 + i % 9) * (1 + i % 3) END AS BIGINT) AS n_bytes, "
    f"NOT {_BAD} AS valid FROM range(64) t(i)), "
    f"realrows AS ({_REAL_ROWS}), realmeta AS ({_REAL_META}) "
    f"SELECT *, 'fake' AS tier FROM fake "
    f"UNION ALL SELECT *, 'real_hdr' AS tier FROM realmeta",
)
def image_meta(spark, sf_dir):
    media = synthetic_media_df(spark, 64)
    fake = media.select("item_id", image_meta_udf("img").alias("m")).select(
        "item_id", "m.width", "m.height", "m.channels", "m.n_bytes", "m.valid"
    ).withColumn("tier", F.lit("fake"))
    real = synthetic_real_media_df(spark, 64)
    hdr = real.select(
        "item_id", image_meta_real_udf("img").alias("m")
    ).select(
        "item_id", "m.width", "m.height", "m.channels", "m.n_bytes", "m.valid"
    ).withColumn("tier", F.lit("real_hdr"))
    return fake.unionByName(hdr)


@q(
    "image_features",
    # closed-form stats of the byte ramp arange(n) % 251 (n = w*h*c): with
    # q = n // 251 full cycles and r = n % 251 remainder, sum = q*31375 +
    # r(r-1)/2 and sum-of-squares = q*5239625 + (r-1)r(2r-1)/6 — exact
    # integers, so sum/n and ssq/n - mean² are the IDENTICAL float64 ops
    # the Spark kernel performs (integer sums < 2^53 are exact in both
    # engines).
    f"WITH items AS (SELECT i, CASE WHEN {_BAD} THEN 0 "
    "ELSE (8 + i % 16) * (6 + i % 9) * (1 + i % 3) END AS n FROM range(64) t(i)), "
    "c AS (SELECT i, n, n // 251 AS q, n % 251 AS r FROM items), "
    "s AS (SELECT i, n, "
    "CASE WHEN n = 0 THEN 0.0 ELSE (q*31375 + (r*(r-1))//2) * 1.0 / n END AS m, "
    "CASE WHEN n = 0 THEN 0.0 "
    "ELSE (q*5239625 + ((r-1)*r*(2*r-1))//6) * 1.0 / n END AS msq FROM c) "
    "SELECT CAST(i AS BIGINT) AS item_id, round(m, 4) AS f_mean, "
    "round(sqrt(greatest(msq - m * m, 0.0)), 4) AS f_std, 0.0 AS f_min, "
    "round(CASE WHEN n = 0 THEN 0.0 WHEN n >= 251 THEN 250.0 "
    "ELSE n - 1.0 END, 4) AS f_max, 'fake' AS tier FROM s",
)
def image_features(spark, sf_dir):
    """Feature-extraction plumbing as a first-class contract query: binary →
    fixed-width vector, batch-vectorized (the embedding-model batch shape),
    over the fake tier's IMG1 payloads."""
    feats = mean_pixel_features(synthetic_media_df(spark, 64))
    return feats.select(
        "item_id",
        F.round(F.element_at("feat", 1), 4).alias("f_mean"),
        F.round(F.element_at("feat", 2), 4).alias("f_std"),
        F.round(F.element_at("feat", 3), 4).alias("f_min"),
        F.round(F.element_at("feat", 4), 4).alias("f_max"),
    ).withColumn("tier", F.lit("fake"))
