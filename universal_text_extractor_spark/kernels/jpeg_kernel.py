"""JPEG (JFIF) pixel decoder — baseline AND progressive, hand-rolled
from the public ITU T.81 spec (no PIL/libjpeg).

Architecture (r3, progressive rewrite): a marker walk feeds every SOS
into a per-component COEFFICIENT STORE; scans accumulate coefficients
(baseline = one interleaved scan; progressive = §G.2 scan scripts: DC
first/refine, AC first with EOB runs, AC refinement with correction
bits, non-interleaved single-component scan geometry, restart resync in
every scan kind — with ONE subset restriction: a multi-component scan
must cover ALL frame components; partially-interleaved scans, Ns
strictly between 1 and Nf, return None); EOI triggers the finish pass — dequantize + dezigzag,
batched orthonormal IDCT (one einsum per component), nearest-neighbor
chroma upsampling, JFIF YCbCr→RGB. Supported: 8-bit, 1 or 3 components,
sampling factors 1-2 (4:4:4, 4:2:2, 4:2:0, grayscale), SOF0 + SOF1 +
SOF2, and SOF3 LOSSLESS (Annex H: per-sample predictive coding,
predictors 1-7, point transform, mod-2^16 reconstruction — the one JPEG
mode whose pixel round-trip is BYTE-EXACT, tests/test_jpeg.py).
Arithmetic coding, 12-bit, and CMYK return None — containment, not a
crash (D2).

Progressive reconstruction is EXACT: once every scan is consumed the
coefficient store is bit-identical to what a baseline scan of the same
quantized coefficients yields, so a progressive encode of the same
pixels decodes to the SAME array as its baseline twin — that equality
is the test oracle (tests/test_jpeg.py).

The synthetic corpus is produced by the INDEPENDENT spec-based writer
``sources.pages_gen.make_jpeg`` (own Annex-K-style tables, own fDCT,
own progressive scan-script emitter — writer ≠ parser). JPEG is lossy
by construction, so the pixel round-trip contract is a TOLERANCE bound,
not the byte-exact writer-pixel oracle the PNG/BMP paths carry.

Reference ancestry: utils/file_handlers.py:198-207 reads JPEG metadata
via PIL; utils/image_processing.py decodes pixels via PIL/OpenCV. This
module is the from-scratch stand-in for that decode step.

Cost model: the entropy decode is a sequential per-symbol loop (Huffman
is inherently serial within a scan); everything after coefficients —
dequant, IDCT, upsample, color convert — is vectorized numpy over whole
planes. Per-payload cost is linear in coded symbols + pixels, and the
operator layer runs payloads partition-parallel, so scale comes from
Spark, not from this kernel.
"""

from __future__ import annotations

import struct

import numpy as np

from . import limits

# Zigzag scan order: index k in the coded stream → natural (row-major)
# position in the 8×8 coefficient block (row = vertical frequency).
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Orthonormal 8-point DCT-II matrix: M[u, x] = c(u)/2 · cos((2x+1)uπ/16).
# IDCT of a natural-order coefficient block F is  M.T @ F @ M.
_M = np.zeros((8, 8), dtype=np.float64)
for _u in range(8):
    _c = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _M[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


class JpegError(Exception):
    pass


class _Huffman:
    """Canonical Huffman table from the DHT (BITS, HUFFVAL) lists:
    per-code-length dict of code → value (max 16 lookups per symbol)."""

    def __init__(self, bits: bytes, vals: bytes):
        self.lookup: list[dict[int, int]] = [dict() for _ in range(17)]
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                if k >= len(vals):
                    raise JpegError("DHT overflow")
                self.lookup[length][code] = vals[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing and restart-marker resync."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data
        p = self.pos
        if p >= len(b):
            raise JpegError("truncated entropy stream")
        byte = b[p]
        if byte == 0xFF:
            if p + 1 >= len(b):
                raise JpegError("truncated after 0xFF")
            nxt = b[p + 1]
            if nxt == 0x00:
                self.pos = p + 2
            elif 0xD0 <= nxt <= 0xD7:
                # restart marker reached mid-read: only legal at a
                # restart boundary, which resync() handles — reading
                # into one is a stream error
                raise JpegError("unexpected restart marker")
            else:
                raise JpegError(f"marker 0x{nxt:02x} inside scan")
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: _Huffman) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            hit = table.lookup[length].get(code)
            if hit is not None:
                return hit
        raise JpegError("bad Huffman code")

    def resync(self, expected: int) -> None:
        """Consume padding + the RSTn marker at a restart boundary."""
        self.acc = 0
        self.n = 0
        b = self.data
        p = self.pos
        while p + 1 < len(b) and not (b[p] == 0xFF and b[p + 1] != 0x00):
            p += 1
        if p + 1 >= len(b):
            raise JpegError("missing restart marker")
        marker = b[p + 1]
        if not (0xD0 <= marker <= 0xD7) or (marker & 7) != expected:
            raise JpegError("restart marker mismatch")
        self.pos = p + 2

    def end_of_scan_pos(self) -> int:
        """Byte position just past this scan's entropy data (discarding
        the final partial byte's pad bits)."""
        return self.pos


def _extend(value: int, size: int) -> int:
    """T.81 F.12: map a SIZE-bit magnitude to its signed coefficient."""
    if size == 0:
        return 0
    if value < (1 << (size - 1)):
        return value - (1 << size) + 1
    return value


def decode_jpeg(payload: bytes) -> np.ndarray | None:
    """Decode a baseline, progressive, or lossless JPEG payload →
    (H, W, 3) uint8 RGB, or None for anything this decoder doesn't cover
    (arithmetic, 12-bit, CMYK, corrupt) — the callers' containment
    contract (D2)."""
    try:
        return _decode(payload)
    except Exception:
        return None


def _decode(b: bytes) -> np.ndarray | None:
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huffman] = {}
    huff_ac: dict[int, _Huffman] = {}
    restart_interval = 0
    frame: dict | None = None
    saw_scan = False
    pos = 2
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise JpegError("marker sync lost")
        marker = b[pos + 1]
        if marker == 0xFF:  # fill byte (B.1.1.2) — spec-legal padding
            pos += 1
            continue
        if marker == 0xD9:  # EOI — finish
            if frame is None or not saw_scan:
                return None
            if frame.get("lossless"):
                return _finish_lossless(frame)
            return _finish(frame, qtables)
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(b):
            raise JpegError("truncated marker segment")
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        seg = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                off += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[off : off + 64], np.uint8).astype(np.int64)
                    off += 64
                else:
                    tbl = np.frombuffer(seg[off : off + 128], ">u2").astype(np.int64)
                    off += 128
                if tbl.size != 64:
                    raise JpegError("short DQT")
                qtables[tq] = tbl  # zigzag order, as coded
        elif marker == 0xC4:  # DHT
            off = 0
            while off + 17 <= len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = seg[off + 1 : off + 17]
                count = sum(bits)
                vals = seg[off + 17 : off + 17 + count]
                (huff_dc if tc == 0 else huff_ac)[th] = _Huffman(bits, vals)
                off += 17 + count
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (at 8-bit precision
            # the coded stream is baseline-shaped — the extension is only
            # 12-bit precision + more table slots) / SOF2 progressive
            if frame is not None:
                raise JpegError("multiple frames")
            frame = _parse_sof(seg, progressive=(marker == 0xC2))
            if frame is None:
                return None
        elif marker == 0xC3:  # SOF3 lossless (Annex H, Huffman)
            if frame is not None:
                raise JpegError("multiple frames")
            frame = _parse_sof3(seg)
            if frame is None:
                return None
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # differential/arithmetic variants
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            if frame.get("lossless"):
                if restart_interval:
                    # restart prediction-reset semantics in lossless scans
                    # are out of this decoder's subset — contained, not
                    # guessed (the independent writer never emits them)
                    raise JpegError("lossless restart not supported")
                end = _decode_lossless_scan(b, pos + 2 + seglen, seg, frame, huff_dc)
            else:
                end = _decode_scan(
                    b, pos + 2 + seglen, seg, frame, qtables, huff_dc, huff_ac,
                    restart_interval,
                )
            saw_scan = True
            # skip to the next marker (pad bits already discarded)
            pos = end
            while pos + 1 < len(b) and not (
                b[pos] == 0xFF and b[pos + 1] not in (0x00, 0xFF)
            ):
                pos += 1
            continue
        pos += 2 + seglen
    # Missing EOI: real-world JPEGs are routinely truncated after the
    # last scan's entropy data — finish with what was decoded (the
    # pre-rewrite baseline decoder never required EOI either)
    if frame is not None and saw_scan:
        if frame.get("lossless"):
            return _finish_lossless(frame)
        return _finish(frame, qtables)
    raise JpegError("no frame/scan before end of data")


def _parse_sof(seg: bytes, progressive: bool) -> dict | None:
    precision = seg[0]
    h, w = struct.unpack_from(">HH", seg, 1)
    ncomp = seg[5]
    if precision != 8 or ncomp not in (1, 3) or not h or not w:
        return None
    if int(h) * int(w) > limits.MAX_PIXELS:
        # checked before the coefficient stores: progressive EOB runs
        # cover thousands of blocks in a few bytes
        return None  # header-claimed dims beyond the sanity bound
    comps = []
    for ci in range(ncomp):
        cid = seg[6 + ci * 3]
        hv = seg[7 + ci * 3]
        comps.append(
            {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": seg[8 + ci * 3]}
        )
    for c in comps:
        if c["h"] not in (1, 2) or c["v"] not in (1, 2):
            return None
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        # MCU-padded block grid (what interleaved scans cover) and the
        # non-interleaved grid (A.2.2: ceil of the component's own
        # sample dims — the trailing padded blocks are NOT coded in
        # single-component scans)
        c["bw"] = mcux * c["h"]
        c["bh"] = mcuy * c["v"]
        samples_w = -(-w * c["h"] // hmax)
        samples_h = -(-h * c["v"] // vmax)
        c["nbw"] = -(-samples_w // 8)
        c["nbh"] = -(-samples_h // 8)
        c["coef"] = np.zeros((c["bh"], c["bw"], 64), dtype=np.int64)
        c["pred"] = 0
    return {
        "H": int(h), "W": int(w), "comps": comps,
        "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
        "progressive": progressive,
    }


def _parse_sof3(seg: bytes) -> dict | None:
    """Lossless frame header (SOF3, Annex H). Supported subset: 8-bit
    precision, 1 or 3 components, all sampling factors 1×1 (the common
    lossless layout; our output contract is uint8 RGB, so 16-bit-deep
    lossless would need a lossy re-scale — honestly None instead)."""
    precision = seg[0]
    h, w = struct.unpack_from(">HH", seg, 1)
    ncomp = seg[5]
    if precision != 8 or ncomp not in (1, 3) or not h or not w:
        return None
    if int(h) * int(w) > limits.MAX_PIXELS:
        return None  # header-claimed dims beyond the sanity bound
    comps = []
    for ci in range(ncomp):
        cid = seg[6 + ci * 3]
        hv = seg[7 + ci * 3]
        if hv != 0x11:
            return None
        # Tq (seg[8+ci*3]) is unused in lossless frames (H.1)
        comps.append({"id": cid, "plane": None, "pt": 0})
    return {"H": int(h), "W": int(w), "comps": comps, "lossless": True}


def _decode_lossless_scan(
    b: bytes, data_pos: int, seg: bytes, frame: dict, huff_dc
) -> int:
    """One lossless scan (H.1-H.2): per sample, a DC-style Huffman size
    category + magnitude bits code the difference from the prediction
    Px; reconstruction is (Px + diff) mod 2^16 in the point-transformed
    domain. Interleaved (all components, sample-interleaved raster — the
    1×1-sampling MCU of H.2) or single-component scans. Returns the byte
    position just past the scan data."""
    ns = seg[0]
    if len(seg) < 1 + 2 * ns + 3:
        raise JpegError("short SOS")
    by_id = {c["id"]: c for c in frame["comps"]}
    scan_comps = []
    for si in range(ns):
        cid = seg[1 + si * 2]
        td = seg[2 + si * 2] >> 4
        if cid not in by_id:
            raise JpegError("scan references unknown component")
        if td not in huff_dc:
            raise JpegError("missing DC DHT")
        scan_comps.append((by_id[cid], td))
    predictor = seg[1 + 2 * ns]  # Ss = predictor selector
    se = seg[2 + 2 * ns]
    a = seg[3 + 2 * ns]
    ah, al = a >> 4, a & 0x0F  # Al = point transform Pt
    if not (1 <= predictor <= 7) or se != 0 or ah != 0 or al > 7:
        raise JpegError("bad lossless scan header")
    pt = al
    default = 1 << (8 - pt - 1)  # H.1.1: 2^(P - Pt - 1)
    H, W = frame["H"], frame["W"]
    reader = _BitReader(b, data_pos)
    planes = []
    for c, _td in scan_comps:
        if c["plane"] is None:
            c["plane"] = [[0] * W for _ in range(H)]
        c["pt"] = pt
        planes.append(c["plane"])
    tables = [huff_dc[td] for _c, td in scan_comps]

    def _diff(table) -> int:
        size = reader.decode_huff(table)
        if size == 16:  # H.1.2.2: SSS=16 codes diff=32768, no extra bits
            return 32768
        return _extend(reader.read_bits(size), size)

    for y in range(H):
        for x in range(W):
            for plane, table in zip(planes, tables):
                if y == 0:
                    px = default if x == 0 else plane[0][x - 1]
                elif x == 0:
                    px = plane[y - 1][0]
                else:
                    ra = plane[y][x - 1]
                    rb = plane[y - 1][x]
                    if predictor == 1:
                        px = ra
                    elif predictor == 2:
                        px = rb
                    elif predictor == 3:
                        px = plane[y - 1][x - 1]
                    elif predictor == 4:
                        px = ra + rb - plane[y - 1][x - 1]
                    elif predictor == 5:
                        px = ra + ((rb - plane[y - 1][x - 1]) >> 1)
                    elif predictor == 6:
                        px = rb + ((ra - plane[y - 1][x - 1]) >> 1)
                    else:
                        px = (ra + rb) >> 1
                plane[y][x] = (px + _diff(table)) & 0xFFFF
    return reader.end_of_scan_pos()


def _finish_lossless(frame: dict) -> np.ndarray:
    """Undo the point transform (H.1: output = sample << Pt) and map
    components to channels. Lossless JPEG defines NO color transform —
    3-component frames are taken as RGB in component order (what the
    independent writer emits), 1-component as grayscale."""
    full = []
    for c in frame["comps"]:
        if c["plane"] is None:
            raise JpegError("component never scanned")
        arr = np.array(c["plane"], dtype=np.int64) << c["pt"]
        full.append(np.clip(arr, 0, 255).astype(np.uint8))
    if len(full) == 1:
        return np.repeat(full[0][:, :, None], 3, axis=2)
    return np.stack(full, axis=2)


def _decode_scan(
    b: bytes,
    data_pos: int,
    seg: bytes,
    frame: dict,
    qtables,
    huff_dc,
    huff_ac,
    restart_interval: int,
) -> int:
    """Decode one entropy-coded scan into the frame's coefficient store;
    returns the byte position just past the scan data."""
    ns = seg[0]
    if len(seg) < 1 + 2 * ns + 3:
        raise JpegError("short SOS")
    by_id = {c["id"]: c for c in frame["comps"]}
    scan_comps = []
    for si in range(ns):
        cid = seg[1 + si * 2]
        tables = seg[2 + si * 2]
        if cid not in by_id:
            raise JpegError("scan references unknown component")
        scan_comps.append((by_id[cid], tables >> 4, tables & 0x0F))
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    a = seg[3 + 2 * ns]
    ah, al = a >> 4, a & 0x0F
    prog = frame["progressive"]
    if prog:
        if ss == 0:
            if se != 0:
                raise JpegError("progressive DC scan must have Se=0")
        else:
            if ns != 1 or not (ss <= se <= 63):
                raise JpegError("bad progressive AC scan header")
        if ah and ah != al + 1:
            raise JpegError("successive approximation must step one bit")
        if al > 13:
            raise JpegError("bad Al")
    else:
        if ss != 0 or se != 63 or ah != 0 or al != 0:
            raise JpegError("bad sequential scan header")

    # Resolve tables up front (refinement DC scans use none; AC scans
    # only the AC table; DC-first only the DC table).
    need_dc = ss == 0 and (not prog or ah == 0)
    need_ac = (not prog) or ss > 0
    for c, td, ta in scan_comps:
        if need_dc and td not in huff_dc:
            raise JpegError("missing DC DHT")
        if need_ac and ta not in huff_ac:
            raise JpegError("missing AC DHT")
        if c["tq"] not in qtables:
            raise JpegError("missing DQT")

    # MCU geometry: interleaved scans walk the MCU grid; a
    # single-component scan's "MCU" is one block over the component's
    # own (non-padded) block grid.
    if ns > 1 or not prog:
        if ns != len(frame["comps"]) and ns != 1:
            raise JpegError("partial interleave not supported")
    if ns == 1:
        # non-interleaved (sequential or progressive): one block per
        # MCU over the component's own non-padded block grid (A.2.2)
        c0 = scan_comps[0][0]
        nbw = c0["nbw"]
        nbh = c0["nbh"]
        total_mcus = nbh * nbw
    else:
        total_mcus = frame["mcux"] * frame["mcuy"]

    reader = _BitReader(b, data_pos)
    for c, _td, _ta in scan_comps:
        c["pred"] = 0
    eobrun = [0]
    rst = 0
    for m in range(total_mcus):
        if restart_interval and m and m % restart_interval == 0:
            reader.resync(rst)
            rst = (rst + 1) & 7
            for c, _td, _ta in scan_comps:
                c["pred"] = 0
            eobrun[0] = 0
        if ns == 1:
            c, td, ta = scan_comps[0]
            by, bx = divmod(m, nbw)
            _decode_block(
                reader, c, c["coef"][by, bx], td, ta, huff_dc, huff_ac,
                prog, ss, se, ah, al, eobrun,
            )
        else:
            my, mx = divmod(m, frame["mcux"])
            for c, td, ta in scan_comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        _decode_block(
                            reader, c,
                            c["coef"][my * c["v"] + by, mx * c["h"] + bx],
                            td, ta, huff_dc, huff_ac,
                            prog, ss, se, ah, al, eobrun,
                        )
    return reader.end_of_scan_pos()


def _decode_block(
    reader: _BitReader,
    c: dict,
    row: np.ndarray,
    td: int,
    ta: int,
    huff_dc,
    huff_ac,
    prog: bool,
    ss: int,
    se: int,
    ah: int,
    al: int,
    eobrun: list,
) -> None:
    """Decode one block's contribution from the current scan into
    ``row`` (the block's 64 zigzag-order coefficients)."""
    if not prog:
        # baseline: DC + full AC band in one pass
        size = reader.decode_huff(huff_dc[td])
        diff = _extend(reader.read_bits(size), size)
        c["pred"] += diff
        row[0] = c["pred"]
        k = 1
        while k < 64:
            rs = reader.decode_huff(huff_ac[ta])
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise JpegError("AC index overflow")
            row[k] = _extend(reader.read_bits(s), s)
            k += 1
        return

    if ss == 0:
        if ah == 0:  # DC first (G.2.1): diff coded in the shifted domain
            size = reader.decode_huff(huff_dc[td])
            diff = _extend(reader.read_bits(size), size)
            c["pred"] += diff
            row[0] = c["pred"] << al
        else:  # DC refinement: one raw bit per block
            if reader.read_bit():
                row[0] = int(row[0]) | (1 << al)
        return

    if ah == 0:  # AC first scan (G.2.2) with EOB runs
        if eobrun[0] > 0:
            eobrun[0] -= 1
            return
        k = ss
        while k <= se:
            rs = reader.decode_huff(huff_ac[ta])
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun[0] = (1 << r) - 1
                if r:
                    eobrun[0] += reader.read_bits(r)
                break
            k += r
            if k > se:
                raise JpegError("AC index overflow")
            row[k] = _extend(reader.read_bits(s), s) << al
            k += 1
        return

    # AC refinement scan (G.2.3): newly-nonzero insertions + one
    # correction bit per already-nonzero coefficient passed.
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun[0] == 0:
        while k <= se:
            rs = reader.decode_huff(huff_ac[ta])
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r < 15:
                    eobrun[0] = 1 << r
                    if r:
                        eobrun[0] += reader.read_bits(r)
                    break
                val = 0  # ZRL: skip 16 zero-history positions
            elif s == 1:
                val = p1 if reader.read_bit() else m1
            else:
                raise JpegError("refinement magnitude must be 1")
            while k <= se:
                cur = int(row[k])
                if cur != 0:
                    if reader.read_bit() and (cur & p1) == 0:
                        row[k] = cur + (p1 if cur >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                row[k] = val
            k += 1
    if eobrun[0] > 0:
        # inside an EOB run: the rest of the band carries only
        # correction bits for coefficients with nonzero history
        while k <= se:
            cur = int(row[k])
            if cur != 0:
                if reader.read_bit() and (cur & p1) == 0:
                    row[k] = cur + (p1 if cur >= 0 else m1)
            k += 1
        eobrun[0] -= 1


def _finish(frame: dict, qtables) -> np.ndarray:
    """Dequantize + dezigzag + batched IDCT every component, upsample,
    crop, and color-map — one einsum per component."""
    H, W = frame["H"], frame["W"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    full = []
    for c in frame["comps"]:
        if c["tq"] not in qtables:
            raise JpegError("missing DQT")
        q = qtables[c["tq"]]
        zz = c["coef"].reshape(-1, 64)  # (nb, 64) zigzag order
        nat = np.zeros((zz.shape[0], 64), dtype=np.float64)
        nat[:, ZIGZAG] = zz * q
        blocks = nat.reshape(-1, 8, 8)
        spatial = np.einsum("ur,nuv,vc->nrc", _M, blocks, _M) + 128.0
        plane = (
            spatial.reshape(c["bh"], c["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["bh"] * 8, c["bw"] * 8)
        )
        if c["v"] != vmax:
            plane = np.repeat(plane, vmax // c["v"], axis=0)
        if c["h"] != hmax:
            plane = np.repeat(plane, hmax // c["h"], axis=1)
        full.append(plane[:H, :W])
    if len(full) == 1:
        gray = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    rgb = np.stack([r, g, bl], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
