"""Image metadata kernel (K17, SURVEY.md §2.3) — no OCR in this environment.

Reference semantics for the OCR-disabled image path
(reference utils/file_handlers.py:198-207)::

    [Image: {width}x{height}, Format: {format}]
    OCR was not enabled. Enable OCR to extract text content from this image.

Dimensions parsed from raw header bytes (PNG/JPEG/GIF/BMP/TIFF) — no PIL, so
output depends only on this module. Unknown/corrupt image headers fall back
to the no-PIL literal ``[Image file - OCR not enabled]`` (reference :207).

OCR recognition itself lives in :mod:`.ocr_kernel` (K13 — REAL since r3:
a deterministic glyph matcher replacing the r1/r2 unavailable-literal
stub); K14-K16 preprocessing in :mod:`.image_prep`. This module stays the
``use_ocr=False`` metadata path.
"""

from __future__ import annotations

import struct
_NO_OCR_SUFFIX = "OCR was not enabled. Enable OCR to extract text content from this image."


def _png_size(b: bytes):
    if len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return w, h, "PNG"
    return None


def _gif_size(b: bytes):
    if len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return w, h, "GIF"
    return None


def _bmp_size(b: bytes):
    if len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return w, abs(h), "BMP"
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
            return w, h, "JPEG"
        i += 2 + seglen
    return None


def _tiff_size(b: bytes):
    from .tiff_kernel import tiff_size

    dims = tiff_size(b)
    if dims is None:
        return None
    return dims[0], dims[1], "TIFF"


def _webp_size(b: bytes):
    """RIFF WebP dims from plain header fields (r3 verdict missing #1):
    VP8X canvas size (24-bit LE minus-one), 'VP8 ' lossy frame header
    (14-bit LE dims after the 9D 01 2A start code), VP8L (14-bit packed
    minus-one). No entropy decoding — pixel decode stays declined under
    the integrity rule (SURVEY §8c); dims are header math only."""
    if len(b) < 25 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    cc = b[12:16]
    if cc == b"VP8X":
        if len(b) < 30:
            return None
        w = 1 + int.from_bytes(b[24:27], "little")
        h = 1 + int.from_bytes(b[27:30], "little")
        return w, h, "WEBP"
    if cc == b"VP8 ":
        if len(b) < 30 or b[23:26] != b"\x9d\x01\x2a":
            return None
        w = int.from_bytes(b[26:28], "little") & 0x3FFF
        h = int.from_bytes(b[28:30], "little") & 0x3FFF
        return w, h, "WEBP"
    if cc == b"VP8L":
        if b[20] != 0x2F:
            return None
        bits = int.from_bytes(b[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return w, h, "WEBP"
    return None


HEIF_BRANDS = (b"heic", b"heix", b"heif", b"mif1", b"msf1")


def _heic_size(b: bytes):
    """ISOBMFF HEIC/HEIF dims via a real box walk to the 'ispe' item
    property: top-level boxes → meta (FullBox: +4 version/flags) → iprp →
    ipco → ispe (version/flags, width u32be, height u32be)."""
    if len(b) < 16 or b[4:8] != b"ftyp" or b[8:12] not in HEIF_BRANDS:
        return None
    fmt = "HEIF" if b[8:12] in (b"heif", b"msf1") else "HEIC"

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

    r = walk(0, len(b), 0)
    if r is None:
        return None
    return r[0], r[1], fmt


def parse_image_header(payload: bytes):
    """Dispatch on magic bytes and parse (width, height, format) from the
    header, or None for non-image/corrupt payloads. Shared by the K17
    extraction branch below and operators/multimodal.py."""
    try:
        if payload.startswith(b"\x89PNG\r\n\x1a\n"):
            return _png_size(payload)
        if payload.startswith((b"GIF87a", b"GIF89a")):
            return _gif_size(payload)
        if payload.startswith(b"BM"):
            return _bmp_size(payload)
        if payload.startswith(b"\xff\xd8\xff"):
            return _jpeg_size(payload)
        if payload.startswith((b"II*\x00", b"MM\x00*")):
            return _tiff_size(payload)
        if payload.startswith(b"RIFF") and payload[8:12] == b"WEBP":
            return _webp_size(payload)
        if payload[4:8] == b"ftyp" and payload[8:12] in HEIF_BRANDS:
            return _heic_size(payload)
    except Exception:
        return None
    return None


def extract_image_metadata(payload: bytes) -> tuple[str, list[str]]:
    """Returns (text, logs). Never raises."""
    logs = ["OCR not enabled for image file"]
    try:
        dims = parse_image_header(payload)
        if dims is None:
            return "[Image file - OCR not enabled]", logs
        w, h, fmt = dims
        # reference utils/file_handlers.py:204-205
        return f"[Image: {w}x{h}, Format: {fmt}]\n{_NO_OCR_SUFFIX}", logs
    except Exception:
        return "[Image file - OCR not enabled]", logs
