"""TIFF decoder — hand-rolled from the public TIFF 6.0 spec (no PIL).

Supported subset (the baseline-TIFF scanned-document shapes): 8-bit
grayscale (PhotometricInterpretation 0/1), RGB (2), palette-color (3,
via the 16-bit ColorMap) and 1-bit bilevel (the fax/scan shape,
MSB-first packed rows), chunky planar config, strip- OR tile-organized
(edge tiles full-size, predictor resetting per tile), Compression 1
(none), 5 (LZW — the TIFF "early change" variant: code width grows one
entry earlier on the decode side than the encode side, mirroring the
one-entry table lag) and 32773 (PackBits), Predictor 1/2 (horizontal
differencing), both byte orders (II/MM). Everything else — planar=2,
other bit depths, JPEG-in-TIFF, CCITT fax codings, reversed FillOrder,
non-default Orientation — returns None: containment, not a crash (D2).
Decompression is budget-capped per strip and header dims are bounded by
``limits.MAX_PIXELS``, so crafted payloads can't balloon memory either.

TIFF is lossless, so the writer-pixel round-trip oracle is BYTE-EXACT
(tests/test_tiff.py) against the INDEPENDENT spec-based writer
``sources.pages_gen.make_tiff`` (own IFD layout, own LZW/PackBits
encoders — writer ≠ parser).

Reference ancestry: utils/file_handlers.py:105 lists tiff/tif among
SUPPORTED_IMAGE_FORMATS; utils/image_processing.py decodes them via
PIL/OpenCV for preprocessing + OCR. This module is the from-scratch
stand-in for that decode step, feeding the same K14→K13 chain.

Cost model: LZW/PackBits are sequential per-strip byte loops (inherent
to the codings); predictor undo and channel mapping are vectorized
numpy. Payloads decode partition-parallel in the operator layer.
"""

from __future__ import annotations

import struct

import numpy as np

from . import limits


class TiffError(Exception):
    pass


_TYPE_FMT = {1: "B", 3: "H", 4: "I"}  # BYTE / SHORT / LONG
_TYPE_SIZE = {1: 1, 3: 2, 4: 4}


def _byte_order(b: bytes) -> str | None:
    if b[:4] == b"II*\x00":
        return "<"
    if b[:4] == b"MM\x00*":
        return ">"
    return None


def _read_ifd(b: bytes, order: str) -> dict[int, list[int]]:
    """First IFD → {tag: [values]} for integer-typed tags (others are
    skipped — none of the supported-subset tags are RATIONAL/ASCII)."""
    (off,) = struct.unpack_from(order + "I", b, 4)
    if off + 2 > len(b):
        raise TiffError("IFD offset out of range")
    (n,) = struct.unpack_from(order + "H", b, off)
    if off + 2 + 12 * n > len(b):
        raise TiffError("truncated IFD")
    tags: dict[int, list[int]] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(order + "HHI", b, e)
        size = _TYPE_SIZE.get(typ)
        if size is None or cnt == 0:
            continue
        total = size * cnt
        if total <= 4:
            raw = b[e + 8 : e + 8 + total]
        else:
            (voff,) = struct.unpack_from(order + "I", b, e + 8)
            raw = b[voff : voff + total]
        if len(raw) < total:
            raise TiffError("tag value out of range")
        tags[tag] = list(struct.unpack(order + _TYPE_FMT[typ] * cnt, raw))
    return tags


def tiff_size(b: bytes) -> tuple[int, int] | None:
    """(width, height) from the first IFD, or None."""
    try:
        order = _byte_order(b)
        if order is None:
            return None
        tags = _read_ifd(b, order)
        return tags[256][0], tags[257][0]
    except Exception:
        return None


def _packbits(data: bytes, budget: int) -> bytes:
    """``budget`` caps the decompressed size (the strip's known byte
    need) so a crafted payload can't balloon memory before the size
    check — decompression-bomb containment."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        if len(out) > budget:
            raise TiffError("PackBits output exceeds strip size")
        c = data[i]
        i += 1
        if c < 128:  # literal run of c+1 bytes
            if i + c + 1 > n:
                raise TiffError("PackBits literal overrun")
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:  # repeat next byte 257-c times
            if i >= n:
                raise TiffError("PackBits repeat overrun")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op per spec
    return bytes(out)


def _lzw(data: bytes, budget: int) -> bytes:
    """TIFF LZW (spec §13): MSB-first codes, Clear=256, EOI=257, width
    9→12. Early change: the DECODER widens when its next free entry
    reaches 2^width − 1 — one entry before the encoder's 2^width —
    because its table trails the encoder's by exactly one entry (the
    encoder has already added the entry whose first character the next
    code reveals). ``budget`` caps the decompressed size (the strip's
    known byte need) — decompression-bomb containment."""
    out = bytearray()
    CLEAR, EOI = 256, 257
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise TiffError("LZW stream truncated (no EOI)")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        if code == EOI:
            return bytes(out)
        if code == CLEAR:
            del table[258:]
            width = 9
            prev = None
            continue
        if prev is None:
            if code > 255:
                raise TiffError("first LZW code must be a literal")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise TiffError("LZW code out of range")
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
        out += entry
        prev = entry
        if len(out) > budget:
            raise TiffError("LZW output exceeds strip size")


def decode_tiff(payload: bytes) -> np.ndarray | None:
    """Decode a baseline TIFF payload → (H, W, 3) uint8 RGB, or None for
    anything outside the supported subset — containment contract (D2)."""
    try:
        return _decode(payload)
    except Exception:
        return None


def _decompress(chunk: bytes, comp: int, need: int) -> bytes:
    if comp == 5:
        chunk = _lzw(chunk, need + 4096)
    elif comp == 32773:
        chunk = _packbits(chunk, need + 4096)
    if len(chunk) < need:
        raise TiffError("short segment")
    return chunk[:need]


def _undo_predictor(arr: np.ndarray) -> np.ndarray:
    # horizontal differencing: undo with a per-row channel-wise
    # cumulative sum mod 256 (vectorized)
    return (arr.astype(np.int64).cumsum(axis=1) % 256).astype(np.uint8)


def _decode(b: bytes) -> np.ndarray | None:
    order = _byte_order(b)
    if order is None or len(b) < 8:
        return None
    tags = _read_ifd(b, order)
    tiled = all(t in tags for t in (322, 323, 324, 325))
    if 256 not in tags or 257 not in tags:
        return None
    if not tiled and (273 not in tags or 279 not in tags):
        return None
    w, h = tags[256][0], tags[257][0]
    if not w or not h:
        return None
    if w * h > limits.MAX_PIXELS:
        return None  # header-claimed dims beyond the sanity bound
    spp = tags.get(277, [1])[0]
    photo = tags.get(262, [1])[0]
    comp = tags.get(259, [1])[0]
    planar = tags.get(284, [1])[0]
    pred = tags.get(317, [1])[0]
    fill_order = tags.get(266, [1])[0]
    orientation = tags.get(274, [1])[0]
    bps = tags.get(258, [8] * spp)
    cmap = tags.get(320)
    depth = bps[0] if bps else 8
    if (
        spp not in (1, 3)
        or any(v != depth for v in bps)
        or depth not in (1, 8)
        # 1-bit: bilevel only (fax/scan shape) — strip-organized,
        # no predictor, no palette
        or (depth == 1 and (spp != 1 or photo not in (0, 1) or pred != 1 or tiled))
        or photo not in (0, 1, 2, 3)
        or (photo == 2) != (spp == 3)
        or (photo == 3 and (spp != 1 or not cmap or len(cmap) < 768))
        or comp not in (1, 5, 32773)
        or planar != 1
        or pred not in (1, 2)
        or fill_order != 1  # bit-reversed fill order: decode would be wrong
        or orientation != 1  # rotated/flipped layouts: not silently ignored
    ):
        return None  # outside the supported subset — honest None
    if pred == 2 and (comp != 5 or photo == 3):
        return None  # predictor: LZW-only, and meaningless on indices

    if tiled:
        tw, tl = tags[322][0], tags[323][0]
        offsets, counts = tags[324], tags[325]
        if not tw or not tl or len(offsets) != len(counts):
            raise TiffError("bad tile layout")
        across = (w + tw - 1) // tw
        down = (h + tl - 1) // tl
        if across * down != len(offsets) or down * tl * across * tw > 4 * limits.MAX_PIXELS:
            raise TiffError("tile count mismatch")
        canvas = np.zeros((down * tl, across * tw, spp), dtype=np.uint8)
        need = tl * tw * spp  # edge tiles are written FULL-SIZE (spec)
        for t, (so, sc) in enumerate(zip(offsets, counts)):
            if so + sc > len(b):
                raise TiffError("tile out of range")
            chunk = _decompress(b[so : so + sc], comp, need)
            tile = np.frombuffer(chunk, dtype=np.uint8).reshape(tl, tw, spp)
            if pred == 2:
                tile = _undo_predictor(tile)  # predictor resets per tile
            ty, tx = divmod(t, across)
            canvas[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw] = tile
        arr = canvas[:h, :w]
    else:
        offsets, counts = tags[273], tags[279]
        if len(offsets) != len(counts):
            raise TiffError("strip offset/count mismatch")
        rows_per_strip = tags.get(278, [h])[0] or h
        stride = (w * spp * depth + 7) // 8  # 1-bit rows pad to bytes
        raw = bytearray()
        rows_done = 0
        for so, sc in zip(offsets, counts):
            if so + sc > len(b):
                raise TiffError("strip out of range")
            rows_here = min(rows_per_strip, h - rows_done)
            raw += _decompress(b[so : so + sc], comp, rows_here * stride)
            rows_done += rows_here
        if rows_done < h:
            raise TiffError("missing strips")
        if depth == 1:
            bits = np.unpackbits(
                np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, stride),
                axis=1,
            )[:, :w]
            arr = (bits * 255).astype(np.uint8)[:, :, None]
        else:
            arr = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, w, spp)
        if pred == 2:
            arr = _undo_predictor(arr)
    if photo == 0:  # WhiteIsZero
        arr = 255 - arr
    if photo == 3:
        # palette-color: indices through the 16-bit ColorMap (3×256
        # SHORTs, R then G then B planes), high byte = 8-bit channel
        pal = np.array(cmap[:768], dtype=np.uint16).reshape(3, 256) >> 8
        idx = arr[:, :, 0]
        return np.stack(
            [pal[0][idx], pal[1][idx], pal[2][idx]], axis=2
        ).astype(np.uint8)
    if spp == 1:
        return np.repeat(arr, 3, axis=2)
    return arr.copy()
