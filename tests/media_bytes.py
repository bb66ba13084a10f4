"""Hand-written image header bytes for the header-walk tests
(``image_header_meta``). Each builder writes just enough of its wire
format for the walk: the walks never inflate, entropy-decode or unpack
pixel data, so scanlines, scans and LZW streams are placeholders."""

from __future__ import annotations

import struct
import zlib

from spiderspark.multimodal import encode_fake_image

INVALID = (0, 0, 0, False)


def chunk(tag: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(tag + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)


def png(w=4, h=3, depth=8, ctype=2, interlace=0, plte=None, trns=None,
        idat=True, ihdr_crc_flip=False):
    """``idat``: True for one placeholder IDAT, False for none, or a list
    of payloads, one IDAT chunk each."""
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                                      interlace))
    if ihdr_crc_flip:
        ihdr = ihdr[:-1] + bytes([ihdr[-1] ^ 0xFF])
    out = b"\x89PNG\r\n\x1a\n" + ihdr
    if plte is not None:
        out += chunk(b"PLTE", plte)
    if trns is not None:
        out += chunk(b"tRNS", trns)
    if idat is True:
        # not zlib data: the walk is shallow, so this stays header-valid
        idat = [b"not inflated by the header walk"]
    for data in idat or ():
        out += chunk(b"IDAT", data)
    return out + chunk(b"IEND", b"")


def seg(marker: int, payload: bytes) -> bytes:
    """One JPEG marker segment (the length counts itself, not the marker)."""
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload


def jpeg(w=32, h=24, marker=0xC0, prec=8, comps=((1, 0x11),), pre=b"",
         scan=b""):
    """SOI, APP0, ``pre`` (e.g. DQT/DHT/DRI segments), the SOF, then an SOS
    followed by ``scan`` as entropy bytes, and EOI."""
    body = struct.pack(">BHHB", prec, h, w, len(comps))
    body += b"".join(bytes([cid, samp, 0]) for cid, samp in comps)
    app0 = seg(0xE0, b"JFIF\x00" + bytes(9))
    return (b"\xff\xd8" + app0 + pre + seg(marker, body) + b"\xff\xda\x00\x02"
            + scan + b"\xff\xd9")


def gif_frame(w, h, x=0, y=0, gce=None, lct=False, interlace=False):
    """One GIF frame: a GCE with packed byte ``gce`` when given (bit 0 =
    transparent index present, bits 2-4 = disposal), the image descriptor,
    an optional 2-entry local table, LZW minimum code size 2 and one
    1-byte sub-block."""
    out = b""
    if gce is not None:
        out += b"\x21\xf9\x04" + bytes([gce]) + bytes(4)
    flags = (0x80 if lct else 0) | (0x40 if interlace else 0)
    out += b"\x2c" + struct.pack("<HHHHB", x, y, w, h, flags)
    if lct:
        out += bytes(6)
    return out + b"\x02\x01\x2c\x00"


def gif(w=5, h=3, gct=True, lct=False, gce_transparent=False, ext=b"",
        magic=b"GIF89a", frames=None, gct_bits=0):
    """Logical screen w×h with a global table of ``2 << gct_bits`` entries,
    ``ext`` blocks, then ``frames`` (default: one full-screen frame)."""
    out = magic + struct.pack("<HHBBB", w, h, (0x80 | gct_bits) if gct else 0,
                              0, 0)
    if gct:
        out += bytes(3 * (2 << gct_bits))
    if frames is None:
        frames = [gif_frame(w, h, gce=1 if gce_transparent else None, lct=lct)]
    return out + ext + b"".join(frames) + b"\x3b"


def bmp(w=5, h=3, bpp=24, compression=0, pixels=True):
    size = ((abs(w) * 3 + 3) & ~3) * abs(h)
    return (
        b"BM" + struct.pack("<IHHI", (54 + size) & 0xFFFFFFFF, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
                      size & 0xFFFFFFFF, 0, 0, 0, 0)
        + (bytes(size) if pixels else b"")
    )


def img1(w=4, h=3, c=3):
    return encode_fake_image(w, h, c)
