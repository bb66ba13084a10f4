"""PNG, BMP and IMG1 header walks (``image_header_meta``) and the
``decode_image_batch`` tiers around them.

The PNG walk CRC-checks IHDR, then steps over chunks by length for
PLTE/tRNS/IDAT; it never inflates IDAT. So the streams below carry real
deflated scanlines (any filter type, split across IDATs, Adam7 pass
order) and the metadata must come out the same whatever they hold. BMP
is bounded by its row-padded pixel array; IMG1 by its payload."""

from __future__ import annotations

import struct
import tracemalloc
import zlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from spiderspark.multimodal import (
    decode_image_batch,
    encode_fake_image,
    image_header_meta,
    image_meta_real_udf,
    synthetic_media_df,
)
from tests.media_bytes import INVALID, bmp, chunk, png

_CTYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels → PNG color type
# Adam7 passes (W3C PNG §8.2): x0, y0, dx, dy
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _rows(w, h, bpp, filters):
    """Scanlines of a w×h image, each prefixed by its filter type byte."""
    return b"".join(
        bytes([filters[y % len(filters)]])
        + bytes((7 * y + 3 * x) % 256 for x in range(w * bpp))
        for y in range(h)
    )


def idat(w, h, bpp=3, filters=(0,), split=1, adam7=False):
    """Deflated scanlines as ``split`` IDAT payloads. Adam7 writes each
    non-empty pass as its own sub-image; the pass index picks its filter."""
    if adam7:
        raw = b""
        for p, (x0, y0, dx, dy) in enumerate(_ADAM7):
            pw, ph = len(range(x0, w, dx)), len(range(y0, h, dy))
            if pw and ph:
                raw += _rows(pw, ph, bpp, [filters[p % len(filters)]])
    else:
        raw = _rows(w, h, bpp, filters)
    z = zlib.compress(raw)
    k = -(-len(z) // split)
    return [z[i:i + k] for i in range(0, len(z), k)]


def real_png(w, h, c=3, **kw):
    adam7 = kw.get("adam7", False)
    return png(w, h, ctype=_CTYPE[c], interlace=int(adam7),
               idat=idat(w, h, c, **kw))


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_all_color_types(channels):
    assert image_header_meta(real_png(5, 6, channels)) == (5, 6, channels, True)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_each_filter_type(ftype):
    assert image_header_meta(real_png(4, 7, filters=[ftype])) == (
        4, 7, 3, True)


def test_png_mixed_filters_and_split_idat():
    blob = real_png(9, 5, 4, filters=[0, 1, 2, 3, 4], split=2)
    assert blob.count(b"IDAT") == 2
    assert image_header_meta(blob) == (9, 5, 4, True)


def test_png_rejects_corruption():
    blob = bytearray(real_png(4, 4))
    blob[20] ^= 0xFF  # flip a byte inside IHDR → CRC mismatch
    assert image_header_meta(bytes(blob)) == INVALID
    # unsupported or truncated variants → invalid, not a crash
    assert image_header_meta(b"\x89PNG\r\n\x1a\njunk") == INVALID
    assert image_header_meta(b"\xff\xd8\xff\xe0 fake jpeg") == INVALID
    assert image_header_meta(None) == INVALID


@pytest.mark.parametrize("top_down", [False, True])
@pytest.mark.parametrize("width", [3, 4])  # 3 → nonzero row padding
def test_bmp_roundtrip(top_down, width):
    blob = bmp(width, -5 if top_down else 5)
    assert image_header_meta(blob) == (width, 5, 3, True)
    # the pixel array is bounded with each row padded to 4 bytes
    assert len(blob) == 54 + 5 * ((width * 3 + 3) & ~3)
    assert image_header_meta(blob[:-1]) == INVALID


def test_img1_real_tier_matches_fake_meta():
    blobs = [real_png(4, 3), None, b"JUNKxx", encode_fake_image(8, 6, 3),
             bytes(png(ihdr_crc_flip=True))]
    meta = decode_image_batch(pd.Series(blobs), decoder="real")
    assert list(meta["valid"]) == [True, False, False, True, False]
    assert list(meta["width"]) == [4, 0, 0, 8, 0]
    assert list(meta["channels"]) == [3, 0, 0, 3, 0]
    assert list(meta["n_bytes"]) == [len(blobs[0]), 0, 6, 9 + 8 * 6 * 3,
                                     len(blobs[4])]
    # the real tier agrees with the vectorized fake tier on IMG1
    fake = decode_image_batch(pd.Series(blobs[3:4]))
    assert fake.iloc[0].tolist() == meta.iloc[3].tolist()


def test_real_decoder_through_spark(spark):
    """A binary column of PNG/BMP blobs through the real-tier metadata UDF
    in Spark agrees with the walk run locally."""
    blobs = [real_png(5, 6, filters=[4]), bmp(3, 4), None,
             b"\xff\xd8\xff\xe0 jpeg-shaped junk"]
    df = spark.createDataFrame(
        [(i, None if b is None else bytearray(b)) for i, b in enumerate(blobs)],
        "item_id long, img binary",
    )
    got = {
        r["item_id"]: tuple(r["m"])
        for r in df.select("item_id", image_meta_real_udf("img").alias("m"))
        .collect()
    }
    assert got == {
        0: (5, 6, 3, len(blobs[0]), True),
        1: (3, 4, 3, len(blobs[1]), True),
        2: (0, 0, 0, 0, False),
        3: (0, 0, 0, len(blobs[3]), False),
    }


def test_fake_tier_unchanged(spark):
    """The driver-contract oracle depends on the fake tier byte-for-byte."""
    media = synthetic_media_df(spark, 22)
    got = decode_image_batch(
        pd.Series([r["img"] for r in media.orderBy("item_id").collect()])
    )
    assert bool(got["valid"][0]) is True
    assert int(got["width"][0]) == 8
    assert bool(got["valid"][6]) is False  # corrupted row
    assert bool(got["valid"][10]) is False  # null row


def test_png_decompression_bomb_rejected():
    """A tiny blob whose IDAT would inflate far past its IHDR dims is never
    inflated; an IHDR claiming dims past the pixel budget is rejected."""
    bomb = png(2, 2, ctype=0, idat=[zlib.compress(b"\x00" * 4_000_000)])
    tracemalloc.start()
    try:
        assert image_header_meta(bomb) == (2, 2, 1, True)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20
    huge = png(60000, 60000, ctype=6, idat=[zlib.compress(b"\x00" * 64)])
    assert image_header_meta(huge) == INVALID


def test_header_meta_matches_full_decode_on_good_blobs():
    """On well-formed PNG/BMP/IMG1 the walk reports the dims and channels
    the blob was written with; on anything else, (0, 0, 0, False)."""
    cases = [
        (real_png(5, 6), (5, 6, 3, True)),
        (real_png(2, 3, 1), (2, 3, 1, True)),
        (real_png(4, 4, 4, split=2), (4, 4, 4, True)),
        (bmp(5, 3), (5, 3, 3, True)),
        (bmp(2, -4), (2, 4, 3, True)),
        (encode_fake_image(8, 6, 3), (8, 6, 3, True)),
        (None, INVALID),
        (b"\xff\xd8\xff\xe0 jpeg junk", INVALID),
        (b"", INVALID),
    ]
    for blob, want in cases:
        assert image_header_meta(blob) == want, repr(blob)[:40]


def test_header_meta_structural_rejections():
    """Header-level malformations the walk catches."""
    good = real_png(4, 4)
    bad_crc = bytearray(good)
    bad_crc[29] ^= 0xFF  # the IHDR CRC itself
    assert image_header_meta(bytes(bad_crc)) == INVALID
    # pixel-budget bomb dims rejected without allocation
    assert image_header_meta(png(60000, 60000, ctype=6)) == INVALID
    # no IDAT chunk at all
    assert image_header_meta(png(4, 4, idat=False)) == INVALID
    # truncated BMP pixel array
    assert image_header_meta(bmp(5, 3)[:-8]) == INVALID
    # Adam7-interlaced is a supported variant; interlace method 2 is not
    assert image_header_meta(png(4, 4, interlace=1)) == (4, 4, 3, True)
    assert image_header_meta(png(4, 4, interlace=2)) == INVALID


def test_header_meta_is_shallow_by_contract():
    """Documented semantics: a header-valid blob whose IDAT is garbage (or
    whose IDAT CRC is wrong) is valid=True on the metadata path."""
    blob = png(4, 4, idat=[b"not-zlib-data"])
    assert image_header_meta(blob) == (4, 4, 3, True)
    corrupt = bytearray(real_png(4, 4))
    corrupt[41] ^= 0xFF  # inside IDAT's data
    assert image_header_meta(bytes(corrupt)) == (4, 4, 3, True)
    # and the batch metadata API routes through the header walk
    meta = decode_image_batch(pd.Series([blob]), decoder="real")
    assert bool(meta["valid"][0]) and int(meta["width"][0]) == 4


def test_unknown_decoder_tier_raises_everywhere():
    """A typo'd tier fails loudly, not by falling back to the fake tier."""
    with pytest.raises(NotImplementedError):
        decode_image_batch(pd.Series([b"x"]), decoder="reall")


# --- Adam7 interlacing (W3C PNG §8.2) ----------------------------------------


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_adam7_equals_straight_decode(c):
    straight = real_png(19, 21, c)  # odd dims: ragged pass widths/heights
    inter = real_png(19, 21, c, adam7=True)
    assert image_header_meta(straight) == image_header_meta(inter) == (
        19, 21, c, True)


def test_adam7_all_filter_types_per_pass():
    blob = real_png(24, 24, filters=[0, 1, 2, 3, 4, 2, 1], adam7=True)
    assert image_header_meta(blob) == (24, 24, 3, True)


@pytest.mark.parametrize("dims", [(1, 1), (2, 2), (3, 3), (5, 5), (8, 1), (1, 8), (4, 12)])
def test_adam7_tiny_images_empty_passes(dims):
    """Images smaller than the 8×8 pass grid, where several passes are
    empty and contribute no scanlines."""
    h, w = dims
    assert image_header_meta(real_png(w, h, adam7=True)) == (w, h, 3, True)


def test_adam7_header_meta_valid():
    assert image_header_meta(real_png(14, 10, adam7=True)) == (14, 10, 3, True)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    c=st.sampled_from([1, 2, 3, 4]),
    filters=st.lists(st.integers(0, 4), min_size=7, max_size=7),
    split=st.integers(1, 3),
)
def test_adam7_property_random(h, w, c, filters, split):
    blob = real_png(w, h, c, filters=filters, split=split, adam7=True)
    assert image_header_meta(blob) == (w, h, c, True)


# --- indexed-color (palette) PNG ---------------------------------------------


def palette_png(w=17, h=13, n=7, trns=None, **kw):
    rng = np.random.default_rng(3)
    plte = rng.integers(0, 256, 3 * n, dtype=np.uint8).tobytes()
    return png(w, h, ctype=3, interlace=int(kw.get("adam7", False)),
               plte=plte, trns=trns, idat=idat(w, h, 1, **kw))


def test_palette_rgb_roundtrip():
    assert image_header_meta(palette_png()) == (17, 13, 3, True)


def test_palette_trns_rgba_and_default_alpha():
    """tRNS shorter than the palette (uncovered entries default opaque) or
    as long as it: either way the output is RGBA."""
    assert image_header_meta(palette_png(n=5, trns=bytes([0, 128, 255]))) == (
        17, 13, 4, True)
    assert image_header_meta(palette_png(n=5, trns=bytes(5))) == (
        17, 13, 4, True)


def test_palette_filtered_and_interlaced():
    plain = palette_png(19, 21, 11, filters=[1, 2, 3, 4] * 5 + [0])
    inter = palette_png(19, 21, 11, filters=[0, 1, 2, 3, 4, 2, 1], adam7=True)
    assert image_header_meta(plain) == image_header_meta(inter) == (
        19, 21, 3, True)


def test_palette_malformations():
    blob = palette_png()
    plte = blob[blob.index(b"PLTE") - 4:blob.index(b"IDAT") - 4]
    # PLTE not a multiple of 3
    ragged = blob.replace(plte, chunk(b"PLTE", plte[8:-4] + b"\x01"))
    assert image_header_meta(ragged) == INVALID
    # missing PLTE entirely
    assert image_header_meta(blob.replace(plte, b"")) == INVALID
    # tRNS longer than the palette
    assert image_header_meta(palette_png(trns=bytes(8))) == INVALID
    # more than 256 entries
    assert image_header_meta(palette_png(n=257)) == INVALID


def test_palette_header_meta_channels():
    assert image_header_meta(palette_png()) == (17, 13, 3, True)
    assert image_header_meta(palette_png(trns=bytes([7]))) == (17, 13, 4, True)
    gone = png(17, 13, ctype=3, idat=idat(17, 13, 1))
    assert image_header_meta(gone) == INVALID
