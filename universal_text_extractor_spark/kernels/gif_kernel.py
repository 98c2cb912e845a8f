"""Animated-GIF frame decode (from-scratch LZW) — promotes
``frame_sample`` from digest stub to REAL demuxed frames for the one
moving-picture container that is spec-simple enough to implement here
(GIF's LZW is a short public algorithm; real video codecs are not in the
sandbox and stay honestly stubbed).

Scope: non-interlaced AND interlaced frames (GIF89a appendix-E 4-pass
row order inverted vectorized), global or local color tables, graphic-
control delays; frames compose by drawing onto the prior canvas (the
writer emits full-canvas frames, so disposal modes beyond draw-on-top
stay out of scope; containment elsewhere). The
synthetic corpus comes from an INDEPENDENT writer
(``sources.pages_gen.make_gif`` — fixed-width literal-code LZW with
periodic clears; own writer ≠ parser).

Two call shapes: :func:`open_gif` streams frames one canvas at a time
(bounded memory for long animations — ``frame_sample`` holds only the
current frame plus its emitted samples), :func:`decode_gif_frames`
materializes a list and returns None on ANY defect (strict whole-payload
validity for the image-decode path). Neither raises to callers.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from . import limits


class GifError(Exception):
    """Raised inside the frame iterator on a malformed stream; converted
    to containment (None / partial-discard) by the public wrappers."""


def _lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytes:
    """GIF-variant LZW: variable code width (min+1 … 12, LSB-first bit
    packing), clear/end codes, table rebuild on clear."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < code_size:
            if pos >= n:
                if out:
                    return bytes(out)  # missing end code: keep decoded px
                raise GifError("LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise GifError("corrupt LZW code")
        out += entry
        if len(out) > max_pixels:
            return bytes(out[:max_pixels])
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry


def open_gif(payload: bytes) -> tuple[int, int, Iterator[tuple[int, np.ndarray]]] | None:
    """→ (width, height, frame iterator) or None when the header doesn't
    parse. The iterator yields (delay_ms, canvas HxWx3 uint8) per frame
    and raises :class:`GifError` on a malformed block — callers decide
    whether partial frames count (streaming demux) or not (strict list
    decode)."""
    b = payload or b""
    try:
        if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        w, h = struct.unpack_from("<HH", b, 6)
        if w <= 0 or h <= 0 or w * h > limits.MAX_PIXELS:
            return None
        flags = b[10]
        pos = 13
        gct = None
        if flags & 0x80:
            size = 2 << (flags & 0x07)
            if pos + size * 3 > len(b):
                return None
            gct = np.frombuffer(b, np.uint8, size * 3, pos).reshape(size, 3)
            pos += size * 3
    except Exception:
        return None

    def frames() -> Iterator[tuple[int, np.ndarray]]:
        nonlocal pos
        canvas = np.zeros((h, w, 3), dtype=np.uint8)
        if gct is not None:
            canvas[:] = gct[b[11] % len(gct)]  # background color
        delay_ms = 0
        try:
            while pos < len(b):
                block = b[pos]
                pos += 1
                if block == 0x3B:  # trailer
                    return
                if block == 0x21:  # extension
                    label = b[pos]
                    pos += 1
                    if label == 0xF9:  # graphic control
                        blen = b[pos]
                        if blen >= 4:
                            (delay_cs,) = struct.unpack_from("<H", b, pos + 2)
                            delay_ms = delay_cs * 10
                        pos += 1 + blen
                    # skip remaining sub-blocks (incl. the terminator)
                    while pos < len(b) and b[pos] != 0:
                        pos += 1 + b[pos]
                    pos += 1
                elif block == 0x2C:  # image descriptor
                    left, top, iw, ih = struct.unpack_from("<HHHH", b, pos)
                    if iw * ih > limits.MAX_PIXELS:
                        raise GifError("frame exceeds the pixel bound")
                    iflags = b[pos + 8]
                    pos += 9
                    interlaced = bool(iflags & 0x40)
                    table = gct
                    if iflags & 0x80:
                        size = 2 << (iflags & 0x07)
                        table = np.frombuffer(b, np.uint8, size * 3, pos).reshape(
                            size, 3
                        )
                        pos += size * 3
                    if table is None:
                        raise GifError("no color table")
                    min_code = b[pos]
                    pos += 1
                    data = bytearray()
                    while pos < len(b) and b[pos] != 0:
                        blen = b[pos]
                        data += b[pos + 1 : pos + 1 + blen]
                        pos += 1 + blen
                    pos += 1  # sub-block terminator
                    idx = _lzw_decode(min_code, bytes(data), iw * ih)
                    if len(idx) < iw * ih:
                        raise GifError("frame pixel data truncated")
                    ind = np.frombuffer(idx, np.uint8, iw * ih).reshape(ih, iw)
                    if interlaced:
                        # GIF89a appendix E: rows stored in 4 passes
                        # (0::8, 4::8, 2::4, 1::2) — invert the reorder
                        order = np.concatenate(
                            [
                                np.arange(0, ih, 8),
                                np.arange(4, ih, 8),
                                np.arange(2, ih, 4),
                                np.arange(1, ih, 2),
                            ]
                        )
                        deint = np.empty_like(ind)
                        deint[order] = ind
                        ind = deint
                    rgb = table[np.minimum(ind, len(table) - 1)]
                    canvas = canvas.copy()
                    canvas[top : top + ih, left : left + iw] = rgb[
                        : h - top, : w - left
                    ]
                    yield delay_ms, canvas
                    delay_ms = 0
                else:
                    raise GifError(f"unknown block 0x{block:02x}")
        except GifError:
            raise
        except Exception as e:  # malformed offsets/structs → containment
            raise GifError(str(e)) from e

    return int(w), int(h), frames()


def decode_gif_frames(
    payload: bytes, max_frames: int = 256
) -> tuple[int, int, list[tuple[int, np.ndarray]]] | None:
    """Strict list form: → (width, height, [(delay_ms, frame), …]) or
    None on ANY malformed block (whole-payload validity — the image-
    decode path wants all-or-nothing). Static GIFs yield one frame with
    delay 0."""
    opened = open_gif(payload)
    if opened is None:
        return None
    w, h, it = opened
    frames: list[tuple[int, np.ndarray]] = []
    try:
        for delay, canvas in it:
            frames.append((delay, canvas))
            if len(frames) >= max_frames:
                break
    except GifError:
        return None
    return (w, h, frames) if frames else None
