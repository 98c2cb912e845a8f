"""Legacy .xls (BIFF8 inside an OLE2/CFB container) extraction — K-family
kernel closing the round-1 gap (VERDICT.md item 6; reference
utils/file_handlers.py:777-878 reads .xls via pandas/xlrd and emits
``--- Sheet: name ---`` + pipe-separated rows; this kernel reproduces that
framing with a hand-rolled parser, no libraries).

Scope (documented limits — all misses fall into the error-containment
literal, never a crash):
- container limits per kernels/cfb.py (v3, header DIFAT; mini-stream
  supported).
- BIFF8 records: SST / BOUNDSHEET / LABELSST / LABEL / NUMBER / RK / BOF /
  EOF / CONTINUE. SSTs spanning CONTINUE records are reassembled with the
  standard BIFF8 rules (split between strings, or inside a character
  array with the continuation fragment's re-declared option byte —
  ubiquitous in real workbooks, ADVICE r2 #5). CONTINUE after a non-SST
  record, or a split inside a string HEADER/rgRun (spec-invalid / exotic)
  → literal.

The test corpus is produced by an INDEPENDENT writer
(``sources.pages_gen.make_xls`` — own-writer≠parser principle, same as the
PDF kernel pair).
"""

from __future__ import annotations

import struct

from .cfb import CfbFile, _u16, _u32
from .office_kernel import XLS_LEGACY_LITERAL

# ----------------------------------------------------------------- BIFF8

_BOF = 0x0809
_EOF = 0x000A
_SST = 0x00FC
_BOUNDSHEET = 0x0085
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_CONTINUE = 0x003C


def _read_xl_unicode(b: bytes, o: int, short: bool = False) -> tuple[str, int]:
    """XLUnicodeRichExtendedString (long cch) / ShortXLUnicodeString."""
    if short:
        cch = b[o]
        o += 1
    else:
        cch = _u16(b, o)
        o += 2
    flags = b[o]
    o += 1
    crun = cext = 0
    if flags & 0x08:
        crun = _u16(b, o)
        o += 2
    if flags & 0x04:
        cext = _u32(b, o)
        o += 4
    if flags & 0x01:  # fHighByte: UTF-16LE
        s = b[o : o + 2 * cch].decode("utf-16-le", "replace")
        o += 2 * cch
    else:  # compressed: low bytes of UTF-16 code units
        s = b[o : o + cch].decode("latin-1")
        o += cch
    o += 4 * crun + cext
    return s, o


def _fmt_num(v: float) -> str:
    """Whole doubles print as ints (pandas/xlrd show 5.0 as '5.0' but the
    reference pipes through to_csv which keeps pandas' repr; this kernel
    normalizes whole numbers to ints — deterministic and
    writer-mirrored)."""
    return str(int(v)) if float(v).is_integer() and abs(v) < 1e15 else repr(float(v))


def _decode_rk(raw: int) -> float:
    val: float
    if raw & 0x02:  # 30-bit signed integer
        n = raw >> 2
        if n & (1 << 29):
            n -= 1 << 30
        val = float(n)
    else:  # high 30 bits of an IEEE double
        val = struct.unpack("<d", struct.pack("<Q", (raw & 0xFFFFFFFC) << 32))[0]
    return val / 100.0 if raw & 0x01 else val


def _records(data: bytes, pos: int):
    while pos + 4 <= len(data):
        op, ln = struct.unpack_from("<HH", data, pos)
        body = data[pos + 4 : pos + 4 + ln]
        pos += 4 + ln
        yield op, body
        if op == _EOF:
            return


def _parse_sst(frags: list[bytes]) -> list[str]:
    """Parse an SST whose body spans ``frags`` = [SST body, CONTINUE
    bodies…] using the BIFF8 reassembly rules: a split may fall between
    strings (the continuation starts directly with the next string header)
    or inside a character array (the continuation starts with a fresh
    option byte re-declaring compressed/UTF-16). Splits inside a fixed
    header or rgRun raise (spec-invalid; containment turns it into the
    legacy literal)."""
    unique = _u32(frags[0], 4)
    fi, o = 0, 8
    out: list[str] = []

    def advance() -> None:
        nonlocal fi, o
        while fi < len(frags) and o >= len(frags[fi]):
            fi += 1
            o = 0

    def fixed(n: int) -> bytes:
        nonlocal fi, o
        advance()
        if fi >= len(frags) or o + n > len(frags[fi]):
            raise ValueError("SST fixed field spans a CONTINUE boundary")
        b = frags[fi][o : o + n]
        o += n
        return b

    def skip(n: int) -> None:  # raw skip (rgRun/ExtRst continue without flags)
        nonlocal fi, o
        while n > 0:
            advance()
            if fi >= len(frags):
                raise ValueError("SST truncated")
            take = min(n, len(frags[fi]) - o)
            o += take
            n -= take

    for _ in range(unique):
        cch = _u16(fixed(2), 0)
        flags = fixed(1)[0]
        crun = _u16(fixed(2), 0) if flags & 0x08 else 0
        cext = _u32(fixed(4), 0) if flags & 0x04 else 0
        high = flags & 0x01
        parts: list[str] = []
        remaining = cch
        while remaining > 0:
            if o >= len(frags[fi]):
                fi += 1
                o = 0
                if fi >= len(frags) or not frags[fi]:
                    raise ValueError("SST truncated mid-string")
                high = frags[fi][o] & 0x01  # continuation re-declares encoding
                o += 1
            width = 2 if high else 1
            take = min(remaining, (len(frags[fi]) - o) // width)
            if take == 0:
                raise ValueError("SST split inside a character")
            raw = frags[fi][o : o + take * width]
            o += take * width
            parts.append(
                raw.decode("utf-16-le", "replace") if high else raw.decode("latin-1")
            )
            remaining -= take
        skip(4 * crun + cext)
        out.append("".join(parts))
    return out


def _parse_workbook(data: bytes):
    """→ (sst: list[str], bounds: list[(stream_pos, sheet_name)])."""
    bounds: list[tuple[int, str]] = []
    sst_frags: list[bytes] | None = None
    sst_open = False  # CONTINUEs directly following the SST extend it
    for op, body in _records(data, 0):
        if op == _CONTINUE:
            if not sst_open or sst_frags is None:
                raise ValueError("CONTINUE after a non-SST record not supported")
            sst_frags.append(body)
            continue
        sst_open = False
        if op == _BOUNDSHEET:
            name, _ = _read_xl_unicode(body, 6, short=True)
            bounds.append((_u32(body, 0), name))
        elif op == _SST:
            sst_frags = [body]
            sst_open = True
    sst = _parse_sst(sst_frags) if sst_frags is not None else []
    return sst, bounds


def _parse_sheet(data: bytes, pos: int, sst: list[str]) -> dict[tuple[int, int], str]:
    cells: dict[tuple[int, int], str] = {}
    for op, body in _records(data, pos):
        if op == _LABELSST:
            rw, col, _ixfe, isst = struct.unpack_from("<HHHI", body)
            cells[(rw, col)] = sst[isst] if isst < len(sst) else ""
        elif op == _LABEL:
            rw, col = struct.unpack_from("<HH", body)
            s, _ = _read_xl_unicode(body, 6)
            cells[(rw, col)] = s
        elif op == _NUMBER:
            rw, col, _ixfe = struct.unpack_from("<HHH", body)
            (num,) = struct.unpack_from("<d", body, 6)
            cells[(rw, col)] = _fmt_num(num)
        elif op == _RK:
            rw, col, _ixfe, raw = struct.unpack_from("<HHHI", body)
            cells[(rw, col)] = _fmt_num(_decode_rk(raw))
    return cells


def extract_xls(payload: bytes) -> tuple[str, list[str]]:
    """``--- Sheet: name ---`` + pipe-separated rows (the same framing as
    extract_xlsx / the reference's pandas to_csv path, :808-829); the
    reference literal on any parse failure (:870-872)."""
    logs = ["Attempting XLS extraction (OLE2/CFB + BIFF8 record walk)"]
    try:
        data = CfbFile(payload).stream("Workbook", "Book")
        sst, bounds = _parse_workbook(data)
        sheet_texts = []
        for stream_pos, name in bounds:
            cells = _parse_sheet(data, stream_pos, sst)
            lines = []
            for rw in sorted({r for r, _ in cells}):
                row_cols = sorted(c for r, c in cells if r == rw)
                width = row_cols[-1] + 1
                lines.append(
                    "|".join(cells.get((rw, c), "") for c in range(width))
                )
            sheet_texts.append(f"--- Sheet: {name} ---\n" + "\n".join(lines) + "\n")
        if not sheet_texts:
            raise ValueError("no sheets")
        logs.append(f"Successfully extracted data from {len(sheet_texts)} sheets")
        return "\n\n".join(sheet_texts), logs
    except Exception as e:
        logs.append(f"XLS extraction failed: {e}")
        logs.append("All spreadsheet extraction methods failed")
        return XLS_LEGACY_LITERAL, logs
