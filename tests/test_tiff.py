"""TIFF codec pair: independent writer (pages_gen.make_tiff) ↔
from-scratch decoder (kernels/tiff_kernel.py).

TIFF is lossless, so every round-trip contract here is BYTE-EXACT —
across compressions (none/PackBits/LZW), the horizontal-differencing
predictor, both byte orders, strip layouts, and gray/RGB/WhiteIsZero
photometrics. The LZW pair must stay in sync across code-width
boundaries (early change) and table resets, which the noise sweeps
force. Scanned-TIFF pages must OCR end-to-end through the same
K14→K13 chain the PNG/BMP fixtures use (the reference accepts
tiff/tif via PIL — utils/file_handlers.py:105).
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from universal_text_extractor_spark.kernels.image_kernel import parse_image_header
from universal_text_extractor_spark.kernels.image_prep import decode_image
from universal_text_extractor_spark.kernels.options import ExtractOptions
from universal_text_extractor_spark.kernels.tiff_kernel import (
    TiffError,
    _lzw,
    decode_tiff,
    tiff_size,
)
from universal_text_extractor_spark.sources.pages_gen import (
    _tiff_lzw_encode,
    make_tiff,
    render_text_rows,
)


def _gradient(w: int, h: int) -> list[list[tuple[int, int, int]]]:
    return [
        [(x * 5 % 256, y * 7 % 256, (x + y) * 3 % 256) for x in range(w)]
        for y in range(h)
    ]


def _rgb_arr(px) -> np.ndarray:
    return np.array([[list(p) for p in r] for r in px], np.uint8)


def test_roundtrip_byte_exact_all_layouts():
    px = _gradient(17, 9)
    want = _rgb_arr(px)
    gray = [[(x * 9 + y) % 256 for x in range(13)] for y in range(7)]
    wantg = np.repeat(np.array(gray, np.uint8)[:, :, None], 3, axis=2)
    for comp in ("none", "packbits", "lzw"):
        for order in ("<", ">"):
            for rps in (0, 3):
                got = decode_tiff(
                    make_tiff(px, compression=comp, byte_order=order, rows_per_strip=rps)
                )
                assert got is not None and (got == want).all(), (comp, order, rps)
                gotg = decode_tiff(
                    make_tiff(gray, color="gray", compression=comp,
                              byte_order=order, rows_per_strip=rps)
                )
                assert gotg is not None and (gotg == wantg).all(), (comp, order, rps)


def test_lzw_predictor_roundtrip():
    """Horizontal differencing makes gradients near-constant — the case
    the predictor exists for — and must invert exactly."""
    px = _gradient(40, 25)
    want = _rgb_arr(px)
    plain = make_tiff(px, compression="lzw")
    pred = make_tiff(px, compression="lzw", predictor=True)
    assert len(pred) < len(plain)  # differencing must actually help here
    got = decode_tiff(pred)
    assert got is not None and (got == want).all()


def test_white_is_zero_photometric():
    gray = [[(x * 7) % 256 for x in range(11)] for _ in range(6)]
    want = np.repeat(np.array(gray, np.uint8)[:, :, None], 3, axis=2)
    got = decode_tiff(make_tiff(gray, color="gray", white_is_zero=True))
    assert got is not None and (got == want).all()


def test_header_parser_and_size():
    b = make_tiff(_gradient(31, 22), byte_order=">")
    assert tiff_size(b) == (31, 22)
    assert parse_image_header(b) == (31, 22, "TIFF")
    assert (decode_image(b) == _rgb_arr(_gradient(31, 22))).all()


def test_golden_bytes_pinned():
    b = make_tiff(_gradient(32, 20), compression="lzw", predictor=True,
                  rows_per_strip=6)
    assert hashlib.sha256(b).hexdigest() == GOLDEN_TIFF_BYTES


GOLDEN_TIFF_BYTES = (
    "48735846c1abd41ece43907328e9729212dc77f6285f5daf82dc2db79af090e9"
)


def test_lzw_width_boundaries_and_reset():
    """Noise long enough to cross the 511/1023/2047 width boundaries and
    the 4094-entry table reset — the early-change sync killers."""
    rng = random.Random(5)
    for n in (253, 254, 255, 600, 1200, 3000, 9000, 30000):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert _lzw(_tiff_lzw_encode(data), n) == data, n
    # repetitive data grows long table strings instead of wide tables
    for n in (511, 1023, 5000):
        data = bytes((i // 3) % 5 for i in range(n))
        assert _lzw(_tiff_lzw_encode(data), n) == data, n


def test_unsupported_subsets_contained():
    good = bytearray(make_tiff(_gradient(8, 8)))
    # not a TIFF at all
    assert decode_tiff(b"") is None
    assert decode_tiff(b"II*\x00") is None
    assert decode_tiff(b"II+\x00" + bytes(good[4:])) is None  # BigTIFF magic
    # 16-bit BitsPerSample → None (patch tag 258's inline SHORT values)
    import struct

    b = bytes(good)
    order, = ("<",)
    (ifd_off,) = struct.unpack_from("<I", b, 4)
    (n,) = struct.unpack_from("<H", b, ifd_off)
    patched = bytearray(b)
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", b, e)
        if tag == 258:
            struct.pack_into("<HHH", patched, e + 8, 16, 16, 16)
        if tag == 284:  # planar=2 → None
            pass
    assert decode_tiff(bytes(patched)) is None
    # unsupported compression id (CCITT G3 = 3) → None
    patched = bytearray(b)
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", b, e)
        if tag == 259:
            struct.pack_into("<H", patched, e + 8, 3)
    assert decode_tiff(bytes(patched)) is None


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 32),
    h=st.integers(1, 32),
    comp=st.sampled_from(["none", "packbits", "lzw"]),
    pred=st.booleans(),
    order=st.sampled_from(["<", ">"]),
    rps=st.integers(0, 5),
    gray=st.booleans(),
    seed=st.integers(0, 2**32 - 1),
)
def test_roundtrip_property(w, h, comp, pred, order, rps, gray, seed):
    rng = random.Random(seed)
    pred = pred and comp == "lzw"
    if gray:
        px = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        want = np.repeat(np.array(px, np.uint8)[:, :, None], 3, axis=2)
    else:
        px = [
            [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w)]
            for _ in range(h)
        ]
        want = _rgb_arr(px)
    b = make_tiff(px, color="gray" if gray else "rgb", compression=comp,
                  predictor=pred, byte_order=order, rows_per_strip=rps)
    got = decode_tiff(b)
    assert got is not None and (got == want).all()


@settings(max_examples=40, deadline=None)
@given(
    pos=st.integers(0, 10_000),
    val=st.integers(0, 255),
    seed=st.integers(0, 2**16),
)
def test_corruption_fuzz_never_raises(pos, val, seed):
    """D2 containment: a mutated payload decodes to None or a valid
    array — never an exception escaping decode_tiff."""
    rng = random.Random(seed)
    px = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(12)]
        for _ in range(10)
    ]
    comp = ("none", "packbits", "lzw")[seed % 3]
    b = bytearray(make_tiff(px, compression=comp, rows_per_strip=seed % 4))
    b[pos % len(b)] = val
    got = decode_tiff(bytes(b))
    assert got is None or (got.dtype == np.uint8 and got.ndim == 3)


def test_scanned_tiff_ocr_end_to_end():
    """A text page rendered to TIFF OCRs through the same K14→K13 chain
    as the PNG/BMP fixtures — reference parity for its tiff/tif entries
    in SUPPORTED_IMAGE_FORMATS (utils/file_handlers.py:105)."""
    from universal_text_extractor_spark.kernels.dispatch import extract_payload
    from universal_text_extractor_spark.kernels.ocr_kernel import perform_ocr

    rng = random.Random(21)
    rows = render_text_rows(["SCANNED TIFF PAGE", "SECOND LINE 42"], rng)
    for comp in ("none", "lzw"):
        payload = make_tiff(rows, compression=comp)
        assert perform_ocr(payload) == "SCANNED TIFF PAGE\nSECOND LINE 42", comp
    payload = make_tiff(rows, compression="packbits")
    text, ocr_used, success, error, logs = extract_payload(
        "https://h/scan.tiff", payload, "image",
        options=ExtractOptions(use_ocr=True),
    )
    assert text == "SCANNED TIFF PAGE\nSECOND LINE 42"
    assert ocr_used and success and error is None
    # metadata path: the reference's PIL format name is TIFF
    text0, ocr0, *_rest = extract_payload("https://h/scan.tiff", payload, "image")
    assert not ocr0 and text0.startswith("[Image: ")
    assert "Format: TIFF" in text0


def test_operator_surface_sees_real_tiff_pixels(spark):
    from universal_text_extractor_spark.operators.multimodal import (
        _pixel_features,
        image_features,
        media_metadata,
    )

    payloads = {
        "https://m/t1.tiff": make_tiff(_gradient(40, 28), compression="lzw",
                                       predictor=True),
        "https://m/t2.tif": make_tiff(
            [[(x * 9) % 256 for x in range(26)] for _ in range(18)],
            color="gray", compression="packbits", byte_order=">",
        ),
    }
    df = spark.createDataFrame(
        [(u, p) for u, p in payloads.items()], "url string, payload binary"
    )
    meta = {r["url"]: r for r in media_metadata(df).collect()}
    assert meta["https://m/t1.tiff"]["format"] == "TIFF"
    assert (meta["https://m/t1.tiff"]["width"], meta["https://m/t1.tiff"]["height"]) == (40, 28)
    assert meta["https://m/t2.tif"]["format"] == "TIFF"

    feats = {r["url"]: r for r in image_features(df).collect()}
    for url, payload in payloads.items():
        row = feats[url]
        assert row["decoded"] is True, url
        want = _pixel_features(decode_image(payload))
        assert all(abs(a - b) < 1e-4 for a, b in zip(row["features"], want)), url


def test_decompression_bomb_contained():
    """A strip that inflates far past its row budget must abort during
    decompression, not after materializing the blown-up buffer."""
    import struct
    import time

    from universal_text_extractor_spark.sources.pages_gen import _tiff_lzw_encode

    # honest 4x4 gray LZW tiff, then re-point the dims at 4096x4096 with
    # a strip whose LZW stream expands ~1000x
    bomb_strip = _tiff_lzw_encode(bytes(4096 * 4096 // 1000))
    px = [[0] * 4 for _ in range(4)]
    b = bytearray(make_tiff(px, color="gray", compression="lzw"))
    (ifd_off,) = struct.unpack_from("<I", b, 4)
    (n,) = struct.unpack_from("<H", b, ifd_off)
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", b, e)
        if tag in (256, 257):
            struct.pack_into("<I", b, e + 8, 4096)
        if tag == 279:
            struct.pack_into("<I", b, e + 8, len(bomb_strip))
        if tag == 273:
            struct.pack_into("<I", b, e + 8, len(b) + 100)
        if tag == 278:
            struct.pack_into("<I", b, e + 8, 4096)
    payload = bytes(b) + bytes(100) + bomb_strip
    t0 = time.monotonic()
    assert decode_tiff(payload) is None  # need = 4096*4096 > budgeted chunk
    assert time.monotonic() - t0 < 2.0
    # and header-claimed dims beyond MAX_PIXELS reject instantly
    big = bytearray(make_tiff(px, color="gray"))
    (ifd_off,) = struct.unpack_from("<I", big, 4)
    (n,) = struct.unpack_from("<H", big, ifd_off)
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", big, e)
        if tag in (256, 257):
            struct.pack_into("<I", big, e + 8, 65500)
    assert decode_tiff(bytes(big)) is None


def test_fillorder_and_orientation_rejected():
    """FillOrder=2 (bit-reversed) and Orientation!=1 would decode to
    wrong pixels if ignored — they must return None instead."""
    import struct

    base = make_tiff(_gradient(8, 8))
    (ifd_off,) = struct.unpack_from("<I", base, 4)
    (n,) = struct.unpack_from("<H", base, ifd_off)
    # append a FillOrder=2 (or Orientation=3) entry by rebuilding the IFD
    for tag, val in ((266, 2), (274, 3)):
        entries = [base[ifd_off + 2 + 12 * i : ifd_off + 14 + 12 * i] for i in range(n)]
        extra = struct.pack("<HHI", tag, 3, 1) + struct.pack("<H", val) + b"\x00\x00"
        entries.append(extra)
        entries.sort(key=lambda e: struct.unpack_from("<H", e)[0])
        ifd = struct.pack("<H", n + 1) + b"".join(entries) + struct.pack("<I", 0)
        patched = base[:ifd_off] + ifd
        assert decode_tiff(patched) is None, tag


def test_palette_tiff_round_trip():
    """Photometric 3 (palette-color): indices through a 16-bit ColorMap.
    Lossless → byte-exact across codecs, byte orders, strip layouts."""
    import random

    import numpy as np

    from universal_text_extractor_spark.kernels.tiff_kernel import decode_tiff
    from universal_text_extractor_spark.sources.pages_gen import make_tiff

    rng = random.Random(3)
    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (128, 128, 0), (10, 200, 250)]
    pix = [[rng.choice(colors) for _ in range(37)] for _ in range(23)]
    want = np.array(pix, dtype=np.uint8)
    for comp in ("none", "packbits", "lzw"):
        for bo in ("<", ">"):
            for rps in (0, 7):
                t = make_tiff(
                    pix, color="palette", compression=comp,
                    byte_order=bo, rows_per_strip=rps,
                )
                arr = decode_tiff(t)
                assert arr is not None and np.array_equal(arr, want), (comp, bo, rps)
    # corruption containment on the palette path
    good = bytearray(make_tiff(pix, color="palette", compression="lzw"))
    for pos in range(8, len(good), max(1, len(good) // 30)):
        mut = bytearray(good)
        mut[pos] ^= 0xA5
        r = decode_tiff(bytes(mut))
        assert r is None or isinstance(r, np.ndarray)


def test_palette_guards():
    """Writer refuses >256 colors; reader refuses palette without a
    ColorMap and palette+predictor combinations."""
    import pytest as _pytest

    from universal_text_extractor_spark.kernels.tiff_kernel import decode_tiff
    from universal_text_extractor_spark.sources.pages_gen import make_tiff

    big = [[(i % 256, j, 0) for i in range(300)] for j in range(2)]
    with _pytest.raises(ValueError):
        make_tiff(big, color="palette")
    # strip the ColorMap tag (320) → honest None, not a crash
    t = bytearray(make_tiff([[(1, 2, 3)] * 4] * 4, color="palette"))
    idx = t.find((320).to_bytes(2, "little"))
    assert idx > 0
    t[idx : idx + 2] = (999).to_bytes(2, "little")
    assert decode_tiff(bytes(t)) is None


def test_bilevel_tiff_round_trip():
    """1-bit bilevel (the fax/scanned-document shape): MSB-first packed
    rows, byte-padded; both photometrics; byte-exact across codecs."""
    import random

    import numpy as np

    from universal_text_extractor_spark.kernels.tiff_kernel import decode_tiff
    from universal_text_extractor_spark.sources.pages_gen import make_tiff

    rng = random.Random(9)
    bl = [[255 if rng.random() < 0.5 else 0 for _ in range(37)] for _ in range(23)]
    want = np.repeat(np.array(bl, np.uint8)[:, :, None], 3, axis=2)
    for comp in ("none", "packbits", "lzw"):
        for wiz in (False, True):
            for rps in (0, 5):
                t = make_tiff(
                    bl, color="bilevel", compression=comp,
                    white_is_zero=wiz, rows_per_strip=rps,
                )
                arr = decode_tiff(t)
                assert arr is not None and np.array_equal(arr, want), (comp, wiz, rps)
    # corruption containment
    good = make_tiff(bl, color="bilevel", compression="packbits")
    for pos in range(8, len(good), max(1, len(good) // 25)):
        mut = bytearray(good)
        mut[pos] ^= 0xA5
        r = decode_tiff(bytes(mut))
        assert r is None or isinstance(r, np.ndarray)


def test_tiled_tiff_round_trip():
    """Tiled layout (TileWidth/Length/Offsets/ByteCounts): edge tiles
    written full-size, predictor resets per tile; byte-exact."""
    import random

    import numpy as np

    from universal_text_extractor_spark.kernels.tiff_kernel import decode_tiff
    from universal_text_extractor_spark.sources.pages_gen import make_tiff

    rng = random.Random(9)
    pix = [
        [(rng.randint(0, 255), rng.randint(0, 255), rng.randint(0, 255))
         for _ in range(21)]
        for _ in range(17)
    ]
    want = np.array(pix, np.uint8)
    for comp in ("none", "packbits", "lzw"):
        for tsize in ((8, 8), (16, 4), (32, 32)):
            for pred in (False, True):
                if pred and comp != "lzw":
                    continue
                t = make_tiff(pix, compression=comp, tiles=tsize, predictor=pred)
                arr = decode_tiff(t)
                assert arr is not None and np.array_equal(arr, want), (comp, tsize, pred)
    # gray + palette through tiles
    g = [[rng.randint(0, 255) for _ in range(21)] for _ in range(17)]
    t = make_tiff(g, color="gray", tiles=(8, 8), compression="lzw")
    assert np.array_equal(
        decode_tiff(t), np.repeat(np.array(g, np.uint8)[:, :, None], 3, axis=2)
    )
    # corruption containment on the tiled path
    good = make_tiff(pix, compression="lzw", tiles=(8, 8))
    for pos in range(8, len(good), max(1, len(good) // 25)):
        mut = bytearray(good)
        mut[pos] ^= 0xA5
        r = decode_tiff(bytes(mut))
        assert r is None or isinstance(r, np.ndarray)
