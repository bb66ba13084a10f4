"""Header-only image metadata (``image_header_meta``): one valid blob per
wire format plus the hostile inputs the walks must reject, all built from
hand-written header bytes. A rejected blob comes back (0, 0, 0, False),
never as an exception, and dims past the pixel budget are refused without
allocating anything of their size."""

from __future__ import annotations

import struct
import tracemalloc

import pytest

from spiderspark.multimodal import image_header_meta
from tests.media_bytes import INVALID, bmp, gif, img1, jpeg, png


# --- valid blobs -------------------------------------------------------------

VALID = {
    "png-gray": (png(ctype=0), (4, 3, 1)),
    "png-gray-alpha": (png(ctype=4), (4, 3, 2)),
    "png-rgb": (png(ctype=2), (4, 3, 3)),
    "png-rgba": (png(ctype=6), (4, 3, 4)),
    "png-adam7": (png(w=14, h=10, interlace=1), (14, 10, 3)),
    "png-indexed": (png(ctype=3, plte=bytes(21)), (4, 3, 3)),
    "png-indexed-trns": (png(ctype=3, plte=bytes(21), trns=b"\x07"),
                         (4, 3, 4)),
    "jpeg-gray": (jpeg(), (32, 24, 1)),
    "jpeg-sof1": (jpeg(marker=0xC1), (32, 24, 1)),
    "jpeg-progressive-420": (
        jpeg(marker=0xC2, comps=((1, 0x22), (2, 0x11), (3, 0x11))),
        (32, 24, 3),
    ),
    "jpeg-422": (jpeg(comps=((1, 0x21), (2, 0x11), (3, 0x11))), (32, 24, 3)),
    "gif89a": (gif(), (5, 3, 3)),
    "gif87a-local-table": (gif(gct=False, lct=True, magic=b"GIF87a"),
                           (5, 3, 3)),
    "gif-transparent": (gif(gce_transparent=True), (5, 3, 4)),
    "gif-comment-ext": (gif(ext=b"\x21\xfe\x03abc\x02de\x00"), (5, 3, 3)),
    "bmp-bottom-up": (bmp(), (5, 3, 3)),
    "bmp-top-down": (bmp(h=-3), (5, 3, 3)),
    "img1": (img1(), (4, 3, 3)),
}


@pytest.mark.parametrize("name", sorted(VALID))
def test_valid_header(name):
    blob, (w, h, c) = VALID[name]
    assert image_header_meta(blob) == (w, h, c, True)
    # bytearray (what Arrow hands a UDF) walks the same as bytes
    assert image_header_meta(bytearray(blob)) == (w, h, c, True)


# --- hostile blobs -----------------------------------------------------------

HOSTILE = {
    "png-ihdr-crc": png(ihdr_crc_flip=True),
    "png-16-bit": png(depth=16),
    "png-bad-color-type": png(ctype=5),
    "png-interlace-2": png(interlace=2),
    "png-zero-width": png(w=0),
    "png-indexed-no-plte": png(ctype=3),
    "png-plte-ragged": png(ctype=3, plte=bytes(22)),
    "png-trns-longer-than-palette": png(ctype=3, plte=bytes(21),
                                        trns=bytes(8)),
    "png-missing-idat": png(idat=False),
    "png-chunk-past-end": png(idat=False)[:-12] + struct.pack(">I", 1 << 20)
    + b"IDAT" + bytes(8),
    "png-budget": png(w=60000, h=60000, ctype=6),
    "jpeg-sof9-arithmetic": jpeg(marker=0xC9),
    "jpeg-sof3-lossless": jpeg(marker=0xC3),
    "jpeg-12-bit": jpeg(prec=12),
    "jpeg-fractional-h-sampling": jpeg(
        comps=((1, 0x31), (2, 0x21), (3, 0x21))
    ),
    "jpeg-fractional-v-sampling": jpeg(
        comps=((1, 0x13), (2, 0x12), (3, 0x12))
    ),
    "jpeg-sampling-past-4": jpeg(comps=((1, 0x51), (2, 0x11), (3, 0x11))),
    "jpeg-two-components": jpeg(comps=((1, 0x11), (2, 0x11))),
    "jpeg-sos-before-sof": b"\xff\xd8\xff\xda\x00\x02\xff\xd9",
    "jpeg-no-marker": b"\xff\xd8\x00\x00\x00\x00",
    "jpeg-budget": jpeg(w=65535, h=65535, comps=((1, 0x11), (2, 0x11),
                                                 (3, 0x11))),
    "gif-truncated-sub-block": gif()[:13 + 6] + b"\x21\xfe\x40abc",
    "gif-no-color-table": gif(gct=False),
    "gif-zero-height": gif(h=0),
    "gif-trailer-before-image": gif()[:13 + 6] + b"\x3b",
    "gif-unknown-block": gif()[:13 + 6] + b"\x99",
    "gif-budget": gif(w=65535, h=65535),
    "bmp-truncated-pixel-array": bmp()[:-8],
    "bmp-32-bit": bmp(bpp=32),
    "bmp-rle": bmp(compression=1),
    "bmp-negative-width": bmp(w=-5),
    "bmp-budget": bmp(w=20000, h=20000, pixels=False),
    "img1-truncated-payload": img1()[:-1],
    "img1-zero-dims": img1(w=0),
    "img1-budget": b"IMG1" + struct.pack("<HHB", 65535, 65535, 255),
    "unknown-magic": b"NOPE" + bytes(20),
    "empty": b"",
    "none": None,
}


@pytest.mark.parametrize("name", sorted(HOSTILE))
def test_hostile_header_rejected(name):
    assert image_header_meta(HOSTILE[name]) == INVALID


@pytest.mark.parametrize("name", sorted(n for n in HOSTILE if "budget" in n))
def test_budget_rejected_before_allocation(name):
    """Dims past the 256 MB budget are refused from the header alone: the
    walk allocates nothing near the size the header claims."""
    tracemalloc.start()
    try:
        assert image_header_meta(HOSTILE[name]) == INVALID
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20


# the last byte each walk needs: every shorter prefix is a truncation
HEADER_END = {
    "png-rgb": lambda b: len(b) - 12,  # up to IEND: the whole IDAT chunk
    "jpeg-gray": lambda b: b.index(b"\xff\xc0") + 2 + 11,  # whole SOF0
    "gif89a": lambda b: b.index(b"\x2c", 13) + 10,  # image descriptor
    "bmp-bottom-up": len,  # whole pixel array
    "img1": len,  # whole payload
}


@pytest.mark.parametrize("name", sorted(HEADER_END))
def test_every_truncation_rejected(name):
    blob = VALID[name][0]
    end = HEADER_END[name](blob)
    assert image_header_meta(blob[:end])[3]
    for cut in range(end):
        assert image_header_meta(blob[:cut]) == INVALID, cut

