"""JPEG header walk (``jpeg_header_meta``, also behind
``image_header_meta``): markers are skipped by segment length up to the
first SOF, whose precision, dims, component count and sampling factors
decide the metadata. Tables (DQT, DHT, DRI), fill bytes and everything
after the SOF — scans, restart markers, stuffed bytes — never change it.
Huffman-DCT SOF0/SOF1/SOF2 at 8 bits with integer-ratio sampling is the
supported subset."""

from __future__ import annotations

import struct

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from spiderspark.multimodal import (
    decode_image_batch,
    image_header_meta,
    image_meta_real_udf,
    jpeg_header_meta,
)
from tests.media_bytes import INVALID, jpeg, seg

GRAY = ((1, 0x11),)
SAMPLING = {
    "444": ((1, 0x11), (2, 0x11), (3, 0x11)),
    "422": ((1, 0x21), (2, 0x11), (3, 0x11)),
    "420": ((1, 0x22), (2, 0x11), (3, 0x11)),
}


def dqt(sixteen_bit=False, tq=0):
    """One quant table: 64 entries of 1 or 2 bytes after the Pq/Tq byte."""
    return seg(0xDB, bytes([(0x10 if sixteen_bit else 0) | tq])
               + bytes(128 if sixteen_bit else 64))


# one DC table, Tc=0 Th=0: a single 1-bit code for category 0
DHT = seg(0xC4, b"\x00" + bytes([1]) + bytes(15) + b"\x00")
# entropy-coded bytes with a stuffed 0xFF00 and two restart markers
SCAN = b"\x12\xff\x00\x34\xff\xd0\x56\x78\xff\xd1\x9a"


def baseline(w, h, comps=GRAY, marker=0xC0, restart=0, dqt16=False,
             scan=SCAN):
    pre = dqt(dqt16) + DHT + (seg(0xDD, struct.pack(">H", restart))
                              if restart else b"")
    return jpeg(w, h, marker=marker, comps=comps, pre=pre, scan=scan)


def test_gray_flat_blocks_exact():
    """A full baseline stream: APP0, DQT and DHT before the SOF, a scan
    after it."""
    assert image_header_meta(baseline(32, 24)) == (32, 24, 1, True)


def test_gray_gradient_tolerance():
    """Fill bytes (any number of 0xFF before a marker, T.81 B.1.1.2) are
    stepped over."""
    blob = baseline(40, 24)
    sof = blob.index(b"\xff\xc0")
    filled = blob[:sof] + b"\xff" * 5 + blob[sof:]
    assert image_header_meta(filled) == (40, 24, 1, True)


def test_gray_non_multiple_of_8_dims():
    """Dims come from the SOF as written, not rounded to the MCU grid."""
    assert image_header_meta(baseline(13, 19)) == (13, 19, 1, True)


@pytest.mark.parametrize("subsampling", ["444", "422", "420"])
def test_rgb_roundtrip(subsampling):
    blob = baseline(32, 24, SAMPLING[subsampling])
    assert image_header_meta(blob) == (32, 24, 3, True)


def test_restart_markers_match_unrestarted():
    """A DRI segment before the SOF is skipped like any table."""
    plain = baseline(48, 32)
    restarted = baseline(48, 32, restart=2)
    assert len(restarted) == len(plain) + 6
    assert image_header_meta(plain) == image_header_meta(restarted) == (
        48, 32, 1, True)


def test_16bit_dqt_and_coarse_quant():
    """A 16-bit DQT (Pq=1, 128 table bytes) is skipped by its length."""
    a = baseline(16, 16, dqt16=False)
    b = baseline(16, 16, dqt16=True)
    assert len(b) == len(a) + 64
    assert image_header_meta(a) == image_header_meta(b) == (16, 16, 1, True)


# --- rejections (data, not exceptions) ---------------------------------------


def _arithmetic_blob() -> bytes:
    # SOF9: arithmetic-coded extended sequential, outside the huffman subset
    return baseline(8, 8, marker=0xC9)


def test_arithmetic_rejected():
    blob = _arithmetic_blob()
    assert jpeg_header_meta(blob) == INVALID
    assert image_header_meta(blob) == INVALID
    # SOF2 with no scan data is header-valid: the walk stops at the SOF
    no_scan = b"\xff\xd8" + seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1)
                                + bytes([1, 0x11, 0])) + b"\xff\xd9"
    assert image_header_meta(no_scan) == (8, 8, 1, True)


def test_malformed_rejected():
    good = baseline(16, 16)
    sof = good.index(b"\xff\xc0")
    assert image_header_meta(good[: sof + 8]) == INVALID  # truncated SOF
    assert image_header_meta(b"\xff\xd8\xff\xd9") == INVALID  # no SOF
    assert image_header_meta(jpeg(8, 8, prec=12)) == INVALID  # 12-bit
    # dims past the pixel budget → rejected from the header alone
    assert jpeg_header_meta(jpeg(60000, 60000, comps=SAMPLING["444"])) == INVALID
    # a segment length running past the end
    assert image_header_meta(b"\xff\xd8\xff\xdb\x40\x00" + bytes(8)) == INVALID


# --- integration with the multimodal surface ---------------------------------


def test_jpeg_through_metadata_and_batch_paths():
    blob = baseline(32, 24, SAMPLING["420"])
    assert image_header_meta(blob) == (32, 24, 3, True)
    meta = decode_image_batch(pd.Series([blob, None]), decoder="real")
    assert list(meta["valid"]) == [True, False]
    assert list(meta["width"]) == [32, 0]
    assert list(meta["height"]) == [24, 0]
    assert list(meta["n_bytes"]) == [len(blob), 0]


def test_jpeg_through_spark_features(spark):
    """JPEG blobs through the real-tier metadata UDF in Spark."""
    blobs = [baseline(32, 24, SAMPLING["422"]), _arithmetic_blob()]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)],
        "item_id long, img binary",
    )
    got = {
        r["item_id"]: tuple(r["m"])
        for r in df.select("item_id", image_meta_real_udf("img").alias("m"))
        .collect()
    }
    assert got == {0: (32, 24, 3, len(blobs[0]), True),
                   1: (0, 0, 0, len(blobs[1]), False)}


# --- progressive (SOF2) ------------------------------------------------------


def progressive(w, h, comps=GRAY, restart=0):
    """SOF2 followed by several scans, as a progressive encoder writes
    them: a DC scan, then AC band scans each with its own SOS."""
    scans = SCAN + b"".join(
        b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0, ss, se, 0]) + SCAN
        for ss, se in ((1, 5), (6, 63))
    )
    return baseline(w, h, comps, marker=0xC2, restart=restart, scan=scans)


@pytest.mark.parametrize("subsampling", ["444", "422", "420"])
def test_progressive_equals_baseline_rgb(subsampling):
    base = baseline(32, 24, SAMPLING[subsampling])
    prog = progressive(32, 24, SAMPLING[subsampling])
    assert image_header_meta(base) == image_header_meta(prog) == (
        32, 24, 3, True)


def test_progressive_equals_baseline_gray_odd_dims():
    assert image_header_meta(baseline(13, 19)) == image_header_meta(
        progressive(13, 19)) == (13, 19, 1, True)


def test_progressive_420_odd_dims_effective_grid():
    """23×21 at 4:2:0: the SOF's dims, not the padded MCU grid."""
    assert image_header_meta(progressive(23, 21, SAMPLING["420"])) == (
        23, 21, 3, True)


def test_progressive_restart_markers():
    """RSTn inside progressive scans sit past the SOF and are never read."""
    assert image_header_meta(progressive(48, 32, restart=2)) == (
        48, 32, 1, True)


def test_progressive_header_and_seam():
    blob = progressive(32, 24, SAMPLING["420"])
    assert jpeg_header_meta(blob) == (32, 24, 3, True)
    assert image_header_meta(blob) == (32, 24, 3, True)
    # cut inside the scans: still header-valid (the walk is shallow)
    assert image_header_meta(blob[: blob.rindex(b"\xff\xda") + 5])[3]
    # cut inside the SOF: invalid
    sof = blob.index(b"\xff\xc2")
    assert image_header_meta(blob[: sof + 10]) == INVALID


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 4000),
    w=st.integers(1, 4000),
    gray=st.booleans(),
    sixteen=st.booleans(),
    subsampling=st.sampled_from(["444", "422", "420"]),
    restart=st.sampled_from([0, 0, 2, 5]),
    marker=st.sampled_from([0xC0, 0xC1, 0xC2]),
)
def test_progressive_property_random(h, w, gray, sixteen, subsampling,
                                     restart, marker):
    comps = GRAY if gray else SAMPLING[subsampling]
    blob = baseline(w, h, comps, marker=marker, restart=restart, dqt16=sixteen)
    assert image_header_meta(blob) == (w, h, 1 if gray else 3, True)


def _patch_sof_sampling(blob: bytes, hv_per_comp: list) -> bytes:
    """Rewrite the Hi/Vi nibbles of each component in the first SOF0
    segment (component k's hv byte sits 11 + 3k past the 0xFFC0)."""
    i = blob.index(b"\xff\xc0")
    out = bytearray(blob)
    for k, (h_i, v_i) in enumerate(hv_per_comp):
        out[i + 11 + 3 * k] = (h_i << 4) | v_i
    return bytes(out)


def test_fractional_chroma_sampling_rejected():
    """Spec-legal but fractional-ratio sampling (Y 3x1 over chroma 2x1 →
    ratio 1.5) is rejected, while an integer-ratio patch of the same
    stream stays header-valid (the guard is the ratio, not the patching)."""
    blob = baseline(24, 16, SAMPLING["444"])
    frac = _patch_sof_sampling(blob, [(3, 1), (2, 1), (1, 1)])
    assert jpeg_header_meta(frac) == INVALID
    # vertical fractional ratio too
    fracv = _patch_sof_sampling(blob, [(1, 3), (1, 2), (1, 1)])
    assert jpeg_header_meta(fracv) == INVALID
    ok = _patch_sof_sampling(blob, [(4, 2), (2, 1), (1, 2)])
    assert jpeg_header_meta(ok) == (24, 16, 3, True)
