"""GIF header walk (``_gif_walk_to_frame`` / ``_gif_frame_header`` behind
``image_header_meta``): the logical screen, the global or local color
table, extension blocks skipped by sub-block length, and the first frame's
GCE and image descriptor. Metadata comes from the first frame alone:
later frames, their GCEs and every LZW stream are never read."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from spiderspark.multimodal import image_header_meta, image_meta_real_udf
from tests.media_bytes import INVALID, gif, gif_frame


def test_gif_rgb_roundtrip():
    assert image_header_meta(gif(17, 13, gct_bits=2)) == (17, 13, 3, True)


def test_gif87a_and_local_table():
    a = gif(17, 13, magic=b"GIF87a")
    b = gif(17, 13, gct=False, lct=True)
    assert image_header_meta(a) == image_header_meta(b) == (17, 13, 3, True)


def test_gif_transparency_rgba():
    """A GCE naming a transparent index makes the frame RGBA."""
    assert image_header_meta(gif(17, 13, gce_transparent=True)) == (
        17, 13, 4, True)


def test_gif_interlaced_equals_plain():
    plain = gif(9, 23, frames=[gif_frame(9, 23)])
    inter = gif(9, 23, frames=[gif_frame(9, 23, interlace=True)])
    assert image_header_meta(plain) == image_header_meta(inter) == (
        9, 23, 3, True)


def _animation(first_gce=None, rest_gce=1, lct=False, interlace=False):
    """12×10 screen: a full-screen first frame, then two 5×4 patches."""
    return gif(12, 10, gct_bits=1, frames=[
        gif_frame(12, 10, gce=first_gce, lct=lct, interlace=interlace),
        gif_frame(5, 4, 3, 2, gce=rest_gce),
        gif_frame(5, 4, 7, 5, gce=rest_gce, lct=True),
    ])


def test_gif_first_frame_of_animation():
    assert image_header_meta(_animation()) == (12, 10, 3, True)
    # later frames are never reached: garbage after the first one is unread
    blob = _animation()
    cut = blob.index(b"\x2c", 13) + 10 + 4
    assert image_header_meta(blob[:cut] + b"\x99junk") == (12, 10, 3, True)


def test_gif_header_meta():
    assert image_header_meta(gif(17, 13)) == (17, 13, 3, True)
    assert image_header_meta(gif(17, 13, gce_transparent=True)) == (
        17, 13, 4, True)


def test_gif_malformations():
    blob = gif(17, 13)
    desc = blob.index(b"\x2c", 13)
    assert image_header_meta(blob[: desc + 5]) == INVALID  # truncated
    assert image_header_meta(b"GIF89a") == INVALID
    # no color table anywhere
    assert image_header_meta(gif(17, 13, gct=False)) == INVALID
    # local-table flag set but the table cut short
    local = gif(17, 13, gct=False, lct=True)
    assert image_header_meta(local[: local.index(b"\x2c", 13) + 12]) == INVALID
    # a comment extension whose sub-block runs past the end
    assert image_header_meta(blob[:19] + b"\x21\xfe\x40abc") == INVALID


@pytest.mark.parametrize("dims", [(1, 1), (2, 3), (8, 8), (31, 2)])
def test_gif_tiny_and_odd_dims(dims):
    h, w = dims
    assert image_header_meta(gif(w, h)) == (w, h, 3, True)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 4000),
    w=st.integers(1, 4000),
    gct_bits=st.integers(0, 7),
    local=st.booleans(),
    interlaced=st.booleans(),
    transparent=st.booleans(),
    comment=st.binary(max_size=300),
)
def test_gif_property_random(h, w, gct_bits, local, interlaced, transparent,
                             comment):
    # a comment extension of arbitrary bytes, split into ≤255-byte sub-blocks
    ext = b"\x21\xfe" + b"".join(
        bytes([len(comment[k:k + 255])]) + comment[k:k + 255]
        for k in range(0, len(comment), 255)
    ) + b"\x00"
    frame = gif_frame(w, h, gce=1 if transparent else None, lct=local,
                      interlace=interlaced)
    blob = gif(w, h, gct=not local, gct_bits=gct_bits, ext=ext, frames=[frame])
    assert image_header_meta(blob) == (w, h, 4 if transparent else 3, True)


def test_gif_through_spark_features(spark):
    """GIF blobs through the real-tier metadata UDF in Spark agree with the
    walk run locally."""
    blobs = [gif(22, 16, frames=[gif_frame(22, 16, interlace=True)]),
             b"GIF89a junk", _animation(first_gce=1), None]
    df = spark.createDataFrame(
        [(i, None if b is None else bytearray(b)) for i, b in enumerate(blobs)],
        "item_id long, img binary",
    )
    got = {
        r["item_id"]: tuple(r["m"])
        for r in df.select("item_id", image_meta_real_udf("img").alias("m"))
        .collect()
    }
    lens = [len(b) if b is not None else 0 for b in blobs]
    assert got == {
        0: (22, 16, 3, lens[0], True),
        1: (0, 0, 0, lens[1], False),
        2: (12, 10, 4, lens[2], True),
        3: (0, 0, 0, 0, False),
    }


# --- animations: the first frame's GCE alone sets the channels ---------------
#
# GCE packed byte: bits 2-4 disposal method, bit 1 user input, bit 0
# transparent index present. Only bit 0 of the FIRST frame's GCE matters.


def test_gif_animation_disposal_do_not_dispose():
    assert image_header_meta(_animation(first_gce=1 << 2)) == (12, 10, 3, True)
    assert image_header_meta(_animation(first_gce=(1 << 2) | 1)) == (
        12, 10, 4, True)


def test_gif_animation_disposal_background_clears_rect():
    # disposal 2 with the user-input bit: still opaque without bit 0
    assert image_header_meta(_animation(first_gce=(2 << 2) | 2)) == (
        12, 10, 3, True)
    assert image_header_meta(_animation(first_gce=(2 << 2) | 3)) == (
        12, 10, 4, True)


def test_gif_animation_disposal_unspecified_equals_do_not_dispose():
    for t in (0, 1):
        assert image_header_meta(_animation(first_gce=t)) == image_header_meta(
            _animation(first_gce=(1 << 2) | t))


def test_gif_animation_transparency_shows_through():
    # transparency on later frames only: the first frame stays RGB
    assert image_header_meta(_animation(first_gce=None, rest_gce=1)) == (
        12, 10, 3, True)
    assert image_header_meta(_animation(first_gce=1, rest_gce=0)) == (
        12, 10, 4, True)


def test_gif_animation_interlaced_and_local_palette():
    blob = gif(12, 10, gct=False, frames=[
        gif_frame(12, 10, lct=True, interlace=True),
        gif_frame(5, 4, 3, 2),  # no table of its own: never checked
    ])
    assert image_header_meta(blob) == (12, 10, 3, True)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    first=st.tuples(st.integers(1, 64), st.integers(1, 64),
                    st.one_of(st.none(), st.integers(0, 255))),
    rest=st.lists(st.tuples(st.integers(1, 64), st.integers(1, 64),
                            st.one_of(st.none(), st.integers(0, 255))),
                  max_size=5),
)
def test_gif_animation_property_random(first, rest):
    frames = [gif_frame(w, h, gce=g) for w, h, g in [first, *rest]]
    blob = gif(64, 64, frames=frames)
    w, h, g = first
    ch = 4 if g is not None and g & 1 else 3
    assert image_header_meta(blob) == (w, h, ch, True)
