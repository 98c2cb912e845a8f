"""Image preprocessing kernels (K14-K16, SURVEY.md §2.3) — the
round-1 'out of scope' trio made real (VERDICT.md missing item 1, minus
OCR character recognition itself, which stays a stub: no Tesseract here).

Reference ancestry (re-expressed, not ported):
- :func:`preprocess_image` ← utils/image_processing.py:31-135 (grayscale →
  contrast → threshold → 3×3 median, the reference's default param chain).
- :func:`is_scanned_document` ← :137-195 (paper aspect ratio + white-pixel
  share; the OpenCV edge-density branch is re-expressed as a numpy
  gradient density — same "moderate edge density" criterion).
- :func:`detect_orientation` ← :197-262 (the reference counts horizontal
  Hough lines per 90° rotation; re-expressed as row-profile variance —
  text lines make the ink histogram spiky along the reading axis — which
  is the same signal without OpenCV. 0 vs 180 is inherently ambiguous for
  both methods; ties resolve to the smaller angle).

Decoders are hand-rolled from the public specs (no PIL): 24-bit BI_RGB
BMP (24/32bpp, 8/4/1bpp palette, RLE8/RLE4, both row orders) and PNG
(palette, Adam7 interlace, 1-16-bit depths, gray+alpha)
(grayscale/RGB/RGBA) with all five scanline filters. The synthetic corpus
is produced by INDEPENDENT writers (``sources.pages_gen.make_bmp`` /
``make_png`` — own writer ≠ parser). Pixel math is numpy-vectorized; PNG
unfiltering is vectorized per row (None/Up), per lane-cumsum (Sub), and
per pixel column with vectorized channel lanes for the sequential
Average/Paeth filters (see ``_unfilter``). Cost is linear in pixels with
a small per-pixel-column Python constant only on Average/Paeth rows.
Failures return None / defaults — never raise (D2 containment).
"""

from __future__ import annotations

import struct

import numpy as np

from . import limits
from .image_kernel import image_format


# ---------------------------------------------------------------- decode


def _bmp_palette(b: bytes, bpp: int) -> np.ndarray | None:
    """Color table after the BITMAPINFOHEADER: BGRA quads → (N, 3) RGB."""
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    clr_used = struct.unpack_from("<I", b, 46)[0] if len(b) >= 50 else 0
    n = clr_used or (1 << bpp)
    start = 14 + hdr_size
    if start + 4 * n > len(b) or n > 256:
        return None
    quads = np.frombuffer(b, np.uint8, 4 * n, start).reshape(n, 4)
    return quads[:, [2, 1, 0]].copy()  # BGR(A) → RGB


def _bmp_rle(data: bytes, w: int, h: int, four_bit: bool) -> np.ndarray | None:
    """RLE8/RLE4 (BI_RLE8/BI_RLE4) → (h, w) palette indices, bottom-up
    row order as stored. Escapes: 0,0=EOL 0,1=EOB 0,2=delta; 0,n≥3 =
    absolute run (word-aligned). Contained: malformed input → None."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n and y < h:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt > 0:  # encoded run
            if four_bit:
                pair = [(val >> 4) & 0xF, val & 0xF]
                for k in range(cnt):
                    if x < w:
                        out[y, x] = pair[k & 1]
                        x += 1
            else:
                end = min(x + cnt, w)
                out[y, x:end] = val
                x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if i + 1 >= n:
                return None
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute mode: val literal pixels
            if four_bit:
                nbytes = (val + 1) // 2
                if i + nbytes > n:
                    return None
                for k in range(val):
                    px = (data[i + k // 2] >> (4 if k % 2 == 0 else 0)) & 0xF
                    if x < w and y < h:
                        out[y, x] = px
                        x += 1
                i += nbytes + (nbytes & 1)  # word-align
            else:
                if i + val > n:
                    return None
                for k in range(val):
                    if x < w and y < h:
                        out[y, x] = data[i + k]
                        x += 1
                i += val + (val & 1)  # word-align
    return out


def _decode_bmp(b: bytes) -> np.ndarray | None:
    """BMP → (H, W, 3) uint8 RGB. Supported: 24/32bpp BI_RGB, 8/4/1bpp
    palette BI_RGB, and BI_RLE8/BI_RLE4 runs (the classic clip-art/
    screenshot shapes). Alpha dropped; anything else → None (D2)."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    data_off = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if w <= 0 or h == 0 or w * abs(h) > limits.MAX_PIXELS:
        return None
    top_down = h < 0
    h = abs(h)
    if compression in (1, 2):  # BI_RLE8 / BI_RLE4
        if (compression == 1) != (bpp == 8) or top_down:
            return None  # spec: RLE bitmaps are bottom-up, bpp matches
        pal = _bmp_palette(b, bpp)
        if pal is None:
            return None
        idx = _bmp_rle(b[data_off:], w, h, four_bit=(compression == 2))
        if idx is None or int(idx.max()) >= pal.shape[0]:
            return None
        return pal[idx][::-1].copy()  # bottom-up → top-down
    if compression != 0 or bpp not in (1, 4, 8, 24, 32):
        return None
    stride = ((w * bpp + 31) // 32) * 4
    need = data_off + stride * h
    if need > len(b):
        return None
    raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=data_off)
    rows2 = raw.reshape(h, stride)
    if bpp == 24:
        rows = rows2[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    elif bpp == 32:
        rows = rows2[:, : w * 4].reshape(h, w, 4)[:, :, [2, 1, 0]]
    else:  # palette depths
        pal = _bmp_palette(b, bpp)
        if pal is None:
            return None
        if bpp == 8:
            idx = rows2[:, :w]
        else:  # 1 or 4 bit, MSB-first
            bits = np.unpackbits(rows2, axis=1)[:, : w * bpp].reshape(h, w, bpp)
            weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint8)
            idx = (bits * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8)
        if int(idx.max()) >= pal.shape[0]:
            return None
        rows = pal[idx]
    if not top_down:
        rows = rows[::-1]
    return np.ascontiguousarray(rows)


def _png_chunks(b: bytes):
    pos = 8
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        yield ctype, data
        pos += 12 + length
        if ctype == b"IEND":
            return


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters 0-4 (spec §9): rows are (filter_byte +
    stride bytes); returns (h, stride) uint8.

    Cost model (ADVICE r2 #4): None/Up are whole-row vectorized; Sub is a
    per-lane prefix sum (addition mod 256 is associative, so one cumsum
    then a final &0xFF); Average/Paeth carry a true left-to-right data
    dependency, so they scan per PIXEL COLUMN (w iterations) with the bpp
    channel lanes vectorized — not per byte."""
    rows = raw.reshape(h, stride + 1)
    ftypes = rows[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    npx = stride // bpp
    for y in range(h):
        cur = rows[y, 1:].astype(np.int32)
        prior = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        ft = ftypes[y]
        if ft == 0:  # None
            line = cur
        elif ft == 2:  # Up
            line = (cur + prior) & 0xFF
        elif ft == 1:  # Sub: recon[x] = cur[x] + recon[x−bpp] → lane cumsum
            lanes = cur.reshape(npx, bpp).astype(np.int64)
            line = (np.cumsum(lanes, axis=0) & 0xFF).reshape(stride).astype(np.int32)
        elif ft == 3:  # Average: sequential per pixel column, lanes vectorized
            lanes = cur.reshape(npx, bpp)
            pr = prior.reshape(npx, bpp)
            acc = np.zeros((npx, bpp), np.int32)
            prev = np.zeros(bpp, np.int32)
            for x in range(npx):
                prev = (lanes[x] + ((prev + pr[x]) >> 1)) & 0xFF
                acc[x] = prev
            line = acc.reshape(stride)
        elif ft == 4:  # Paeth: sequential per pixel column, lanes vectorized
            lanes = cur.reshape(npx, bpp)
            pr = prior.reshape(npx, bpp)
            acc = np.zeros((npx, bpp), np.int32)
            prev = np.zeros(bpp, np.int32)  # recon of left pixel (a)
            prevc = np.zeros(bpp, np.int32)  # prior of left pixel (c)
            for x in range(npx):
                b = pr[x]
                p = prev + b - prevc
                pa, pb, pc = np.abs(p - prev), np.abs(p - b), np.abs(p - prevc)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), prev, np.where(pb <= pc, b, prevc)
                )
                prev = (lanes[x] + pred) & 0xFF
                acc[x] = prev
                prevc = b
            line = acc.reshape(stride)
        else:
            raise ValueError(f"bad filter {ft}")
        out[y] = line.astype(np.uint8)
    return out


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_subimage(
    raw: np.ndarray, w: int, h: int, channels: int, depth: int
) -> tuple[np.ndarray, int]:
    """Unfilter + unpack one (sub-)image → ((h, w, channels) SAMPLES at
    native depth as uint8 — 16-bit keeps the high byte — , bytes consumed).
    Filtering distance is the byte-level bpp (spec: max(1, channels*depth/8))."""
    stride = (w * channels * depth + 7) // 8
    bpp = max(1, (channels * depth) // 8)
    need = h * (stride + 1)
    if raw.size < need:
        raise ValueError("short PNG data")
    flat = _unfilter(raw[:need], h, stride, bpp)
    if depth == 8:
        px = flat[:, : w * channels].reshape(h, w, channels)
    elif depth == 16:
        px = flat.reshape(h, stride)[:, 0 : 2 * w * channels : 2].reshape(
            h, w, channels
        )  # high byte ≡ /257 rounding of the 16-bit sample
    else:  # 1 / 2 / 4 bit, single channel (gray or palette indices)
        bits = np.unpackbits(flat.reshape(h, stride), axis=1)[
            :, : w * depth
        ].reshape(h, w, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        px = (bits * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8)[
            :, :, None
        ]
    return px, need


def _decode_png(b: bytes) -> np.ndarray | None:
    """PNG → (H, W, 3) uint8 RGB. Supported: gray / RGB / gray+alpha /
    RGBA / palette color types, bit depths 1/2/4/8/16 (16-bit keeps the
    high byte), non-interlaced AND Adam7-interlaced (7 independently
    filtered passes). Alpha is dropped; anything outside → None (D2)."""
    if not b.startswith(b"\x89PNG\r\n\x1a\n"):
        return None
    try:
        w = h = None
        color = depth = interlace = None
        idat = b""
        plte = None
        for ctype, data in _png_chunks(b):
            if ctype == b"IHDR":
                w, hh = struct.unpack_from(">II", data, 0)
                depth, color, _comp, _filt, interlace = data[8:13]
                h = hh
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"PLTE":
                plte = np.frombuffer(data, dtype=np.uint8)
        if not w or not h or interlace not in (0, 1):
            return None
        if w * h > limits.MAX_PIXELS:
            return None  # header-claimed dims beyond the sanity bound
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
        if channels is None:
            return None
        valid_depths = {
            0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
            4: (8, 16), 6: (8, 16),
        }[color]
        if depth not in valid_depths:
            return None
        if color == 3 and (plte is None or plte.size % 3 or plte.size == 0):
            return None
        raw = np.frombuffer(limits.inflate(idat), dtype=np.uint8)
        if interlace == 0:
            px, _used = _png_subimage(raw, w, h, channels, depth)
        else:
            px = np.zeros((h, w, channels), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                sub, used = _png_subimage(raw[off:], pw, ph, channels, depth)
                off += used
                px[y0::dy, x0::dx] = sub
        if color == 3:  # palette indices → RGB
            pal = plte.reshape(-1, 3)
            idx = px[:, :, 0]
            if int(idx.max()) >= pal.shape[0]:
                return None
            return pal[idx].astype(np.uint8)
        if color == 0 and depth < 8:
            # expand sub-8 gray to full range (scale 255/(2^d − 1))
            px = (px.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(
                np.uint8
            )
        if channels == 1:
            return np.repeat(px, 3, axis=2)
        if channels == 2:  # gray + alpha: drop alpha
            return np.repeat(px[:, :, :1], 3, axis=2)
        return px[:, :, :3].copy()
    except Exception:
        return None


def _decode_gif(b: bytes) -> np.ndarray | None:
    from .gif_kernel import decode_gif_frames

    dec = decode_gif_frames(b, max_frames=1)
    return dec[2][0][1] if dec else None


def _decode_jpeg(b: bytes) -> np.ndarray | None:
    from .jpeg_kernel import decode_jpeg

    return decode_jpeg(b)


def _decode_tiff(b: bytes) -> np.ndarray | None:
    from .tiff_kernel import decode_tiff

    return decode_tiff(b)


# image_kernel.IMAGE_FORMATS name → pixel decoder (WEBP/HEIC/HEIF have none);
# GIF is the LZW kernel, JPEG Huffman+IDCT, TIFF strip/LZW/PackBits
_DECODERS = {"PNG": _decode_png, "GIF": _decode_gif, "BMP": _decode_bmp,
             "JPEG": _decode_jpeg, "TIFF": _decode_tiff}


def decode_image(payload: bytes) -> np.ndarray | None:
    """(H, W, 3) uint8 RGB, or None for undecodable/unsupported payloads:
    the :data:`_DECODERS` entry for :func:`image_format`'s name. GIF gives
    its first frame (K14-K16 and the feature/resize operators see a still
    image)."""
    b = payload or b""
    try:
        decode = _DECODERS.get(image_format(b))
        return None if decode is None else decode(b)
    except Exception:
        return None


# ------------------------------------------------------------ K14 pipeline


def to_grayscale(rgb: np.ndarray) -> np.ndarray:
    """ITU-R 601 luma (the PIL 'L' weights), integer-truncated —
    deterministic across platforms."""
    r, g, b = rgb[:, :, 0].astype(np.uint32), rgb[:, :, 1].astype(np.uint32), rgb[:, :, 2].astype(np.uint32)
    return ((r * 299 + g * 587 + b * 114) // 1000).astype(np.uint8)


def enhance_contrast(gray: np.ndarray, factor: float) -> np.ndarray:
    """Mean-anchored contrast (ImageEnhance.Contrast semantics):
    out = mean + factor·(in − mean), clipped."""
    mean = int(gray.mean() + 0.5)
    out = mean + factor * (gray.astype(np.float64) - mean)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def binarize(gray: np.ndarray, threshold: int) -> np.ndarray:
    """255 where > threshold else 0 (reference's point lambda)."""
    return np.where(gray > threshold, 255, 0).astype(np.uint8)


def adaptive_threshold(
    gray: np.ndarray, block_size: int = 11, c: int = 2
) -> np.ndarray:
    """Locally-adaptive binarization (r4 verdict item #5): the analogue of
    the reference's optional OpenCV step ``cv2.adaptiveThreshold(gray,
    255, ..., cv2.THRESH_BINARY, 11, 2)`` behind
    ``preprocess_params['use_opencv']`` (reference
    utils/image_processing.py:111-124). Deterministic INTEGER spec (no
    cv2 in this stack, and the reference's Gaussian weighting is a cv2
    implementation detail): out = 255 where pixel > floor(local mean) − c
    else 0, local mean over an edge-replicated block_size × block_size
    window (same border convention as :func:`median3`). One integral
    image, O(n) regardless of block size."""
    if block_size < 3 or block_size % 2 == 0:
        raise ValueError("block_size must be odd and >= 3")
    r = block_size // 2
    p = np.pad(gray, r, mode="edge").astype(np.int64)
    ii = np.zeros((p.shape[0] + 1, p.shape[1] + 1), dtype=np.int64)
    ii[1:, 1:] = p.cumsum(axis=0).cumsum(axis=1)
    bs = block_size
    s = (
        ii[bs:, bs:]
        - ii[:-bs, bs:]
        - ii[bs:, :-bs]
        + ii[:-bs, :-bs]
    )
    mean = s // (bs * bs)
    return np.where(gray.astype(np.int64) > mean - c, 255, 0).astype(np.uint8)


def median3(gray: np.ndarray) -> np.ndarray:
    """3×3 median filter, edge-replicated (noise reduction step)."""
    p = np.pad(gray, 1, mode="edge")
    stack = np.stack(
        [p[dy : dy + gray.shape[0], dx : dx + gray.shape[1]]
         for dy in range(3) for dx in range(3)]
    )
    return np.median(stack, axis=0).astype(np.uint8)


_DEFAULT_PARAMS = {
    "enhance": True,
    "grayscale": True,
    "contrast": 1.5,
    "threshold": 130,
    "noise_reduction": True,
    # the reference's optional OpenCV stage (utils/image_processing.py:
    # 111-124, gated on params['use_opencv'] defaulting False) — default
    # OFF keeps every golden and the m3 oracle byte-identical
    "adaptive_threshold": False,
    "adaptive_block_size": 11,
    "adaptive_c": 2,
}


def preprocess_gray(gray: np.ndarray, params: dict | None = None) -> np.ndarray:
    """K14 chain over an already-decoded luma array (callers that hold the
    pixels — e.g. the m3 operator — decode/grayscale ONCE and fan out to
    the array variants)."""
    p = dict(_DEFAULT_PARAMS, **(params or {}))
    img = gray
    if p.get("enhance", True):
        factor = p.get("contrast", 1.5)
        if factor != 1.0:
            img = enhance_contrast(img, factor)
        # truthiness deliberate: the reference's own gate is
        # `params.get("threshold", None)` (utils/image_processing.py:100),
        # so threshold=0 SKIPS binarization there too — fidelity over
        # tidiness
        if p.get("grayscale", True) and p.get("threshold", None):
            img = binarize(img, p["threshold"])
        if p.get("noise_reduction", True):
            img = median3(img)
    # mirrors the reference's ordering: the OpenCV adaptive step runs
    # AFTER the PIL chain, outside the `enhance` gate
    if p.get("adaptive_threshold", False):
        img = adaptive_threshold(
            img, p.get("adaptive_block_size", 11), p.get("adaptive_c", 2)
        )
    return img


def preprocess_image(payload: bytes, params: dict | None = None) -> np.ndarray | None:
    """K14: the reference's default chain over a decoded payload.
    Returns the processed grayscale array, or None if undecodable."""
    rgb = decode_image(payload)
    if rgb is None or rgb.size == 0:
        return None
    return preprocess_gray(to_grayscale(rgb), params)


# ---------------------------------------------------- K15 scanned-doc test


def edge_count(gray: np.ndarray) -> int:
    """Number of interior pixels with a strong local gradient (right or
    down neighbor differs by > 60) — the integer numerator of
    :func:`_edge_density`, exposed for the oracle-checkable m3 profile."""
    g = gray.astype(np.int32)
    gx = np.abs(np.diff(g, axis=1))
    gy = np.abs(np.diff(g, axis=0))
    edges = (gx[:-1, :] > 60) | (gy[:, :-1] > 60)
    return int(edges.sum())


def _edge_density(gray: np.ndarray) -> float:
    """Share of pixels with a strong local gradient — the numpy stand-in
    for the reference's Canny edge density."""
    h, w = gray.shape[:2]
    n = (h - 1) * (w - 1)
    return edge_count(gray) / n if n > 0 else 0.0


def is_scanned_gray(gray: np.ndarray) -> bool:
    """K15 over an already-decoded luma array."""
    h, w = gray.shape[:2]
    aspect = w / h
    is_document_size = 0.65 <= aspect <= 0.75 or 1.3 <= aspect <= 1.55
    white_pct = float((gray >= 200).mean())
    has_white_background = white_pct > 0.7
    edge = _edge_density(gray)
    has_text_regions = 0.01 <= edge <= 0.1
    return (is_document_size and has_white_background) or has_text_regions


def is_scanned_document(payload: bytes) -> bool:
    """K15 (reference :137-195): paper-like aspect ratio AND predominantly
    white background, OR moderate edge density (text regions)."""
    rgb = decode_image(payload)
    if rgb is None or rgb.size == 0:
        return False
    return is_scanned_gray(to_grayscale(rgb))


# --------------------------------------------------- K16 orientation guess


def profile_scores(gray: np.ndarray) -> tuple[int, int]:
    """(S_rows, S_cols): INTEGER row-profile variance scores, directly
    comparable across the 0°/90° rotations.

    Derivation: for an (h, w) image with per-row ink counts c_y
    (c_y = #{x : gray[y,x] < 128}), the row-density variance is
    var(c/w) = (h·Σc² − (Σc)²) / (h²w²). The 90° rotation has per-row
    counts equal to the original per-COLUMN counts d_x and variance
    (w·Σd² − (Σd)²) / (w²h²) — the SAME denominator h²w², so the
    comparison reduces to the integer numerators. Exact (no float
    summation order), hence reproducible bit-for-bit in the DuckDB
    oracle."""
    ink = gray < 128
    c = ink.sum(axis=1).astype(np.int64)
    d = ink.sum(axis=0).astype(np.int64)
    h, w = gray.shape[:2]
    s_rows = h * int((c * c).sum()) - int(c.sum()) ** 2
    s_cols = w * int((d * d).sum()) - int(d.sum()) ** 2
    return s_rows, s_cols


def detect_orientation_gray(gray: np.ndarray) -> int:
    """K16 over an already-decoded luma array. Correctly-oriented text
    stacks ink into horizontal line bands → spiky row profile → high
    row-count variance. 0 vs 180 (and 90 vs 270) have identical row-count
    multisets, so the detector resolves to {0, 90} — the smaller angle of
    each profile-equivalent pair, matching the reference's tie behavior."""
    s_rows, s_cols = profile_scores(gray)
    return 0 if s_rows >= s_cols else 90


def detect_orientation(payload: bytes) -> int:
    """K16 (reference :197-262): best of {0, 90, 180, 270} by the
    horizontal-structure score; 0 on undecodable input (the reference's
    no-OpenCV default). 0/180 (and 90/270) are profile-equivalent, so
    ties resolve to the smaller angle — same ambiguity class as the
    reference's line-count heuristic."""
    rgb = decode_image(payload)
    if rgb is None or rgb.size == 0:
        return 0
    return detect_orientation_gray(to_grayscale(rgb))
