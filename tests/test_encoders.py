"""The real-tier fixture's byte builders (``multimodal._real_blob``, behind
``synthetic_real_media_df``): each writes header-valid wire bytes that the
header walk maps back to exactly the dims and channels it was given, at
exactly the 1024 bytes the driver oracle states. Arbitrary dims and values
here, not just the fixture's closed-form grid."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from spiderspark.multimodal import (
    _real_blob,
    image_header_meta,
    synthetic_real_media_df,
)
from tests.media_bytes import INVALID


def _roundtrip(fmt, w, h, v, ch):
    blob = _real_blob(fmt, w, h, v)
    assert len(blob) == 1024
    assert image_header_meta(blob) == (w, h, ch, True)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    fmt=st.sampled_from([0, 1, 2]),  # gray, RGB, indexed
    v=st.integers(0, 238),
)
def test_png_encoder_is_decoder_inverse(h, w, fmt, v):
    _roundtrip(fmt, w, h, v, 1 if fmt == 0 else 3)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(h=st.integers(1, 4000), w=st.integers(1, 4000), v=st.integers(0, 238))
def test_gif_encoder_is_decoder_inverse(h, w, v):
    _roundtrip(3, w, h, v, 3)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(h=st.integers(1, 12), w=st.integers(1, 24), v=st.integers(0, 255))
def test_bmp_encoder_is_decoder_inverse(h, w, v):
    _roundtrip(4, w, h, v, 3)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(h=st.integers(1, 4000), w=st.integers(1, 4000), v=st.integers(0, 255))
def test_jpeg_const_encoder_roundtrips_bit_exact(h, w, v):
    """SOI + SOF0 + a COM pad: one-component baseline, every v."""
    _roundtrip(5, w, h, v, 1)


def test_synthetic_real_media_fixture_contract(spark):
    """The driver fixture's wire bytes: every non-null, non-junk row is
    exactly 1024 bytes and walks to the closed-form dims and channels the
    image_meta oracle states."""
    rows = synthetic_real_media_df(spark, 64).orderBy("item_id").collect()
    assert len(rows) == 64
    for r in rows:
        i = r["item_id"]
        if i % 11 == 10:
            assert r["img"] is None
            continue
        got = image_header_meta(r["img"])
        if i % 13 == 12:
            assert len(r["img"]) == 24 and got == INVALID
            continue
        fmt = i % 6
        assert len(r["img"]) == 1024
        assert got == (6 + 2 * (i % 5), 4 + i % 9, 1 if fmt in (0, 5) else 3,
                       True), i
