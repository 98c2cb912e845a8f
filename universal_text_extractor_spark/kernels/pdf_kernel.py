"""PDF extraction kernel (K2, SURVEY.md §2.3) — from scratch, stdlib only.

Scope per SURVEY.md §7.2: uncompressed + Flate-compressed content streams,
text-show operators (Tj, TJ, ', \"), page order via the /Root → /Pages →
/Kids tree (document-order /Type /Page scan as fallback), newline heuristics
on Td/TD/T*/'/\". Everything else degrades to the reference's informative
bracket literals.

Framing/sentinel literals reproduced from the reference PDF extractor
(reference utils/file_handlers.py:261-466):

- ``\\n--- Page N ---\\n{text}\\n`` per page with text (reference :303)
- ``[Page appears to be image-based. Enable OCR to extract text.]`` for a
  page without text ops, use_ocr=False path (reference :347)
- ``[PDF has {n} pages but appears to be image-based or scanned. Enable OCR
  to extract text from scanned documents.]`` when no page had text
  (reference :460)
- ``[Could not process this PDF file. It may be corrupted, protected, or in
  an unsupported format.]`` when the document doesn't parse (reference :462)

OCR (reference :306-349): REAL since r3 for scanned pages whose raster is
an embedded DeviceGray image XObject — the K13 glyph recognizer
(:mod:`.ocr_kernel`) stands in for the Tesseract cascade, and decoding
the page's scan image stands in for ``page.get_pixmap()`` (a scanned
page IS its image; arbitrary vector rasterization remains out of scope).
``--- Page N (OCR) ---`` framing preserved (reference :327).
"""

from __future__ import annotations

import re

from . import limits
from .options import ExtractOptions

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.S)
_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")
_STREAM_KW_RE = re.compile(rb"stream\r?\n")
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

CORRUPT_LITERAL = (
    "[Could not process this PDF file. It may be corrupted, protected, "
    "or in an unsupported format.]"
)


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


def _skip_ws(b: bytes, i: int) -> int:
    n = len(b)
    while i < n:
        c = b[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # '%' comment to EOL
            while i < n and b[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


_NUM_RE = re.compile(rb"[-+]?\d+(\.\d*)?|[-+]?\.\d+")
_REF_RE = re.compile(rb"\s+(\d+)\s+R\b")
_KEYWORD_RE = re.compile(rb"true|false|null")
_HEX_JUNK_RE = re.compile(rb"[^0-9A-Fa-f]")
_LIT_SPECIAL_RE = re.compile(rb"[\\()]")


def _parse_obj(b: bytes, i: int):
    """Parse one PDF object at offset i. Returns (value, next_offset)."""
    i = _skip_ws(b, i)
    n = len(b)
    if i >= n:
        return None, i
    c = b[i]
    if b.startswith(b"<<", i):
        d = {}
        i += 2
        while True:
            i = _skip_ws(b, i)
            if b.startswith(b">>", i) or i >= n:
                return d, min(i + 2, n)
            key, i = _parse_obj(b, i)
            val, i = _parse_obj(b, i)
            if isinstance(key, str):
                d[key] = val
    if c == 0x2F:  # /Name
        j = i + 1
        while j < n and b[j] not in _WS and b[j] not in _DELIM:
            j += 1
        return "/" + b[i + 1 : j].decode("latin-1"), j
    if c == 0x5B:  # [ array
        arr = []
        i += 1
        while True:
            i = _skip_ws(b, i)
            if i >= n or b[i] == 0x5D:
                return arr, i + 1
            v, i = _parse_obj(b, i)
            arr.append(v)
    if c == 0x28:  # ( string
        s, i = _parse_literal_string(b, i)
        return s, i
    if c == 0x3C:  # < hex string
        j = b.find(b">", i + 1)
        if j < 0:
            j = n
        hx = _HEX_JUNK_RE.sub(b"", b[i + 1 : j])
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")), j + 1
    # pos/endpos matching ≡ the former b[i:i+32]-slice semantics (endpos
    # behaves as end-of-string, incl. for \b), minus the slice allocation
    m = _NUM_RE.match(b, i, i + 32)
    if m:
        tok = m.group(0)
        j = m.end()
        # reference-style indirect reference: N G R
        m2 = _REF_RE.match(b, j, j + 16)
        if m2 and b"." not in tok:
            return _Ref(int(tok)), m2.end()
        return (float(tok) if b"." in tok else int(tok)), j
    m = _KEYWORD_RE.match(b, i, i + 5)
    if m:
        val = {b"true": True, b"false": False, b"null": None}[m.group(0)]
        return val, m.end()
    return None, i + 1  # unknown token: skip a byte


def _parse_literal_string(b: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ( ) string with PDF escapes and nested parens."""
    assert b[i] == 0x28
    out = bytearray()
    depth = 1
    i += 1
    n = len(b)
    while i < n and depth:
        # bulk-copy the run up to the next escape/paren (C-speed scan);
        # the per-byte logic below only ever handles special bytes
        m = _LIT_SPECIAL_RE.search(b, i)
        if m is None:
            out += b[i:n]
            i = n
            break
        k = m.start()
        if k > i:
            out += b[i:k]
            i = k
        c = b[i]
        if c == 0x5C and i + 1 < n:  # backslash
            e = b[i + 1]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                i += 2
            elif e in b"()\\":
                out.append(e)
                i += 2
            elif 0x30 <= e <= 0x37:  # octal \ddd
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and 0x30 <= b[j] <= 0x37:
                    oct_digits += bytes([b[j]])
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 2
                if e == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:
                out.append(e)
                i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                i += 1
                break
        out.append(c)
        i += 1
    return bytes(out), i


_TRAILER_KW_RE = re.compile(rb"\btrailer\b")


def _trailer_dicts(payload: bytes, objs):
    """Every trailer-context dict in document order: classic
    ``trailer << … >>`` keyword dicts plus ``/Type /XRef`` cross-reference
    stream dicts (PDF 1.5+, which have no classic trailer). Scoping the
    /Encrypt and /ID lookups to these dicts — instead of regex-scanning the
    whole payload — keeps a document whose *content stream or string data*
    happens to contain ``/Encrypt N G R`` or ``/ID [<…>`` bytes from being
    misclassified as encrypted (PyMuPDF/the reference opens such documents
    fine; whole-payload last-match-wins did not)."""
    found: list[tuple[int, dict]] = []
    for m in _TRAILER_KW_RE.finditer(payload):
        try:
            d, _end = _parse_obj(payload, m.end())
        except Exception:
            continue
        if isinstance(d, dict):
            found.append((m.start(), d))
    for _num, (val, end) in objs.items():
        if isinstance(val, dict) and val.get("/Type") == "/XRef":
            found.append((end if isinstance(end, int) else 0, val))
    found.sort(key=lambda t: t[0])
    return [d for _pos, d in found]


_ENC_FALLBACK_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R\b")
_ID_FALLBACK_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>")


def _find_crypt(payload: bytes, objs, gens):
    """Locate /Encrypt in a trailer (classic or xref-stream dict) and build
    the standard-security-handler decryptor (kernels/pdf_crypt.py). Returns
    None (unencrypted), a StdDecryptor (empty-user-password document — the
    kind PyMuPDF opens transparently, reference utils/file_handlers.py:262),
    or UnsupportedEncryption. Incremental-update semantics: the LAST
    trailer-context dict carrying each key wins.

    Damaged-trailer fallback (ADVICE r4): when the document yields NO
    parsable trailer-context dict at all (exotic syntax, corruption) the
    trailer-scoped lookup alone would silently treat an encrypted file as
    plaintext and emit success-flagged garbled text. In that one case we
    fall back to the pre-r4 whole-payload scan, but gated twice so the r4
    false-positive class stays closed: the ``/Encrypt N G R`` byte pattern
    must RESOLVE to an object that structurally looks like an ENCRYPTION
    dict — ``/Filter /Standard``, or the ``/O``+``/U`` password digests,
    or the ``/V``+``/R`` algorithm/revision pair — before the document is
    treated as encrypted. A bare ``/Filter`` is NOT enough: every ordinary
    stream dict carries ``/Filter /FlateDecode``, so a decoy that resolves
    to one would flip a plaintext document to the corrupt literal (r5
    review finding)."""
    enc_ref = None
    file_id = b""
    dicts = _trailer_dicts(payload, objs)
    for d in dicts:
        if "/Encrypt" in d:
            enc_ref = d["/Encrypt"]
        ids = d.get("/ID")
        if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
            file_id = ids[0]
    from .pdf_crypt import UnsupportedEncryption, make_handler

    if enc_ref is None and not dicts:
        last = None
        for m in _ENC_FALLBACK_RE.finditer(payload):
            last = m
        if last is not None:
            cand = _resolve(objs, _Ref(int(last.group(1))))
            if isinstance(cand, dict) and (
                cand.get("/Filter") == "/Standard"
                or ("/O" in cand and "/U" in cand)
                or ("/V" in cand and "/R" in cand)
            ):
                idm = None
                for m in _ID_FALLBACK_RE.finditer(payload):
                    idm = m
                if idm is not None:
                    try:
                        file_id = bytes.fromhex(
                            re.sub(rb"\s+", b"", idm.group(1)).decode("ascii")
                        )
                    except ValueError:
                        file_id = b""
                return make_handler(cand, file_id, gens)
    if enc_ref is None:
        return None
    enc = _resolve(objs, enc_ref)
    if not isinstance(enc, dict):
        return UnsupportedEncryption("unresolvable /Encrypt dict")
    return make_handler(enc, file_id, gens)


def _scan_objects(payload: bytes):
    """Map obj number -> (parsed top value, offset after the value) in
    document order; returns ``(objs, crypt)`` where crypt is the document
    decryptor (None / StdDecryptor / UnsupportedEncryption — see
    :func:`_find_crypt`). xref tables/streams are ignored (robust against
    corruption — the scan finds every top-level object without them),
    but /Type /ObjStm object streams (PDF 1.5+, where modern writers
    compress the page-tree dicts; reference PyMuPDF reads them natively)
    ARE unpacked: their embedded objects get offset None (they are plain
    values — the spec forbids streams inside object streams).

    Incremental updates (signed docs, annotation saves — an appended
    revision redefines object N after the previous ``%%EOF``): the LATER
    revision's definition wins, matching the xref-based readers and the
    trailer's own last-wins rule. WITHIN one revision the FIRST
    definition still wins — that is the guard against ``N 0 obj`` byte
    patterns inside stream data overriding the real object (r5 review,
    batch 4: pure first-wins extracted the STALE pre-update content)."""
    eof_offsets = [m.start() for m in re.finditer(rb"%%EOF", payload)]

    def _rev(off: int) -> int:
        from bisect import bisect_right

        return bisect_right(eof_offsets, off)

    objs: dict[int, tuple[object, int | None]] = {}
    gens: dict[int, int] = {}
    revs: dict[int, int] = {}
    for m in _OBJ_RE.finditer(payload):
        num = int(m.group(1))
        r = _rev(m.start())
        if num in objs and r <= revs[num]:
            continue
        val, end = _parse_obj(payload, m.end())
        objs[num] = (val, end)
        gens[num] = int(m.group(2))
        revs[num] = r
    crypt = _find_crypt(payload, objs, gens)
    for num in list(objs):
        d = objs[num][0]
        if not (isinstance(d, dict) and d.get("/Type") == "/ObjStm"):
            continue
        data = _stream_bytes(payload, objs, num, crypt)
        n_objs = _resolve(objs, d.get("/N"))
        first = _resolve(objs, d.get("/First"))
        if data is None or not isinstance(n_objs, int) or not isinstance(first, int):
            continue
        try:
            header = data[:first].split()
            pairs = [
                (int(header[2 * i]), int(header[2 * i + 1]))
                for i in range(n_objs)
            ]
        except Exception:
            continue
        for onum, ooff in pairs:
            # an embedded object never overrides a SAME-or-later-revision
            # direct definition; a later revision's ObjStm overrides
            # earlier revisions (incremental-update semantics above)
            crev = revs.get(num, 0)
            if onum in objs and crev <= revs.get(onum, 0):
                continue
            try:
                val, _end = _parse_obj(data, first + ooff)
            except Exception:
                continue
            objs[onum] = (val, None)
            revs[onum] = crev
    return objs, crypt


def _resolve(objs, v):
    seen = 0
    while isinstance(v, _Ref) and seen < 32:
        entry = objs.get(v.num)
        v = entry[0] if entry else None
        seen += 1
    return v


def _stream_bytes(payload: bytes, objs, num: int, crypt=None) -> bytes | None:
    entry = objs.get(num)
    if entry is None:
        return None
    d, end = entry
    if not isinstance(d, dict) or end is None:
        return None  # ObjStm-embedded objects never carry streams
    m = _STREAM_KW_RE.search(payload, end - 2, end + 32)
    if not m:
        m = _STREAM_KW_RE.search(payload, end - 2)
        if not m:
            return None
    start = m.end()
    length = _resolve(objs, d.get("/Length"))
    if isinstance(length, int) and start + length <= len(payload):
        raw = payload[start : start + length]
        # trust /Length only if endstream follows
        tail = payload[start + length : start + length + 20]
        if b"endstream" not in tail:
            e = payload.find(b"endstream", start)
            raw = payload[start:e] if e >= 0 else payload[start:]
    else:
        e = payload.find(b"endstream", start)
        raw = payload[start:e] if e >= 0 else payload[start:]
        raw = raw.rstrip(b"\r\n")
    if crypt is not None:
        # encrypted document: every top-level stream is enciphered with the
        # per-object key BEFORE the filter stack applies (§7.6.2); an
        # UnsupportedEncryption sentinel has no .decrypt → contained None
        dec = getattr(crypt, "decrypt", None)
        if dec is None:
            return None
        try:
            raw = dec(num, raw)
        except Exception:
            return None
        if raw is None:
            return None
    filt = d.get("/Filter")
    filters = filt if isinstance(filt, list) else ([filt] if filt else [])
    parms = _resolve(objs, d.get("/DecodeParms"))
    parms_list = parms if isinstance(parms, list) else [parms] * max(1, len(filters))
    for fi, f in enumerate(filters):
        parm = _resolve(objs, parms_list[fi]) if fi < len(parms_list) else None
        if f == "/FlateDecode":
            try:
                raw = limits.inflate(raw)
            except Exception:
                return None
        elif f == "/LZWDecode":
            # identical coding to TIFF LZW (same early-change rule; PDF's
            # /EarlyChange default 1) — reuse that decoder. Predictors
            # and EarlyChange 0 are outside the subset.
            if isinstance(parm, dict) and (
                parm.get("/Predictor", 1) != 1 or parm.get("/EarlyChange", 1) != 1
            ):
                return None
            from .tiff_kernel import _lzw

            try:
                raw = _lzw(raw, limits.MAX_INFLATE_BYTES)
            except Exception:
                return None
        elif f == "/ASCIIHexDecode":
            hx = bytes(c for c in raw if c not in b"\x00\t\n\x0c\r ")
            hx = hx.split(b">")[0]
            if len(hx) % 2:
                hx += b"0"  # spec: odd count behaves as if 0 appended
            try:
                raw = bytes.fromhex(hx.decode("ascii"))
            except Exception:
                return None
        elif f == "/ASCII85Decode":
            import base64

            a85 = bytes(c for c in raw if c not in b"\x00\t\n\x0c\r ")
            if a85.startswith(b"<~"):
                a85 = a85[2:]
            a85 = a85.split(b"~>")[0]
            try:
                raw = base64.a85decode(a85)
            except Exception:
                return None
        elif f == "/DCTDecode":
            # terminal image filter: the "decoded" stream IS entropy-coded
            # JPEG data — the image path (_page_image_gray) turns it into
            # pixels via the baseline JPEG kernel
            return raw
        elif f is not None:
            return None  # unsupported filter → treat as no text
    return raw


def _page_order(payload: bytes, objs) -> list[int]:
    """Page object numbers via /Root→/Pages→/Kids; fallback doc order."""
    pages: list[int] = []

    def walk(num: int, depth: int):
        if depth > 64:
            return
        entry = objs.get(num)
        if not entry or not isinstance(entry[0], dict):
            return
        d = entry[0]
        if d.get("/Type") == "/Page":
            pages.append(num)
            return
        kids = _resolve(objs, d.get("/Kids"))
        if isinstance(kids, list):
            for k in kids:
                if isinstance(k, _Ref):
                    walk(k.num, depth + 1)

    root_num = None
    m = _ROOT_RE.search(payload)
    if m:
        root_num = int(m.group(1))
    if root_num is not None:
        cat = objs.get(root_num)
        if cat and isinstance(cat[0], dict):
            ptree = cat[0].get("/Pages")
            if isinstance(ptree, _Ref):
                walk(ptree.num, 0)
    if not pages:
        for num, (val, _end) in objs.items():
            if isinstance(val, dict) and val.get("/Type") == "/Page":
                pages.append(num)
    return pages


_OP_RE = re.compile(rb"[A-Za-z'\"*]{1,3}")


def _content_text(content: bytes, fonts=None) -> str:
    """Extract shown text from one content stream (stream order; newline on
    Td/TD/T*/'/\"). String bytes decode latin-1 (simple-font byte
    semantics, the golden-locked default) unless the Tf-selected font has
    a /ToUnicode CMap in ``fonts`` — then codes map through it (Type0 /
    Identity-H subset fonts, reference PyMuPDF's normal text path)."""
    out: list[str] = []
    stack: list[object] = []
    cur_map: tuple[int, dict[int, str]] | None = None

    def shown(sb: bytes) -> str:
        if cur_map is None:
            return sb.decode("latin-1")
        clen, mp = cur_map
        return "".join(
            mp.get(int.from_bytes(sb[k : k + clen], "big"), "")
            for k in range(0, len(sb) - clen + 1, clen)
        )
    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c in _WS:
            i += 1
            continue
        if c == 0x25:  # comment
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == 0x28:
            s, i = _parse_literal_string(content, i)
            stack.append(s)
            continue
        if content.startswith(b"<<", i):
            v, i = _parse_obj(content, i)
            stack.append(v)
            continue
        if c == 0x3C:
            v, i = _parse_obj(content, i)
            stack.append(v)
            continue
        if c == 0x5B:
            v, i = _parse_obj(content, i)
            stack.append(v)
            continue
        if c == 0x2F:
            v, i = _parse_obj(content, i)
            stack.append(v)
            continue
        m = _NUM_RE.match(content, i, i + 32)
        if m:
            tok = m.group(0)
            stack.append(float(tok) if b"." in tok else int(tok))
            i = m.end()
            continue
        m = _OP_RE.match(content, i)
        if not m:
            i += 1
            continue
        op = m.group(0)
        i = m.end()
        if op == b"Tj":
            if stack and isinstance(stack[-1], bytes):
                out.append(shown(stack[-1]))
        elif op == b"TJ":
            if stack and isinstance(stack[-1], list):
                out.append(
                    "".join(
                        shown(e) for e in stack[-1] if isinstance(e, bytes)
                    )
                )
        elif op == b"'":
            out.append("\n")
            if stack and isinstance(stack[-1], bytes):
                out.append(shown(stack[-1]))
        elif op == b'"':
            out.append("\n")
            if stack and isinstance(stack[-1], bytes):
                out.append(shown(stack[-1]))
        elif op == b"Tf":
            if fonts and len(stack) >= 2 and isinstance(stack[-2], str):
                cur_map = fonts.get(stack[-2])
        elif op in (b"Td", b"TD", b"T*"):
            out.append("\n")
        stack.clear() if op not in (b"BT", b"ET") else None
    return "".join(out)


_CMAP_HEX = re.compile(rb"<([0-9A-Fa-f\s]+)>")


def _scan_cmap_items(body: bytes) -> list[bytes | list[bytes]]:
    """Tokenize a bfchar/bfrange body: hex strings and [ ... ] arrays."""
    items: list[bytes | list[bytes]] = []
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == 0x3C:  # <hex>
            j = body.find(b">", i)
            if j < 0:
                break
            hx = _HEX_JUNK_RE.sub(b"", body[i + 1 : j])
            if len(hx) % 2 == 0 and hx:
                items.append(bytes.fromhex(hx.decode("ascii")))
            i = j + 1
        elif c == 0x5B:  # [ <hex> <hex> ... ]
            j = body.find(b"]", i)
            if j < 0:
                break
            arr = [
                bytes.fromhex(_HEX_JUNK_RE.sub(b"", t).decode("ascii"))
                for t in _CMAP_HEX.findall(body[i + 1 : j])
            ]
            items.append(arr)
            i = j + 1
        else:
            i += 1
    return items


def _parse_cmap(data: bytes) -> tuple[int, dict[int, str]] | None:
    """Parse a /ToUnicode CMap stream → (code byte-length, code → text).
    Handles bfchar, both bfrange forms (incrementing destination and
    per-code array), and the codespacerange code width. Destinations are
    UTF-16BE (possibly multi-char, e.g. ligatures)."""
    try:
        clen = 0
        m = re.search(rb"begincodespacerange(.*?)endcodespacerange", data, re.S)
        if m:
            toks = _CMAP_HEX.findall(m.group(1))
            if toks:
                clen = max(
                    1, len(_HEX_JUNK_RE.sub(b"", toks[0])) // 2
                )
        mp: dict[int, str] = {}

        def dst_text(d: bytes) -> str:
            return d.decode("utf-16-be", "ignore")

        for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
            items = _scan_cmap_items(m.group(1))
            for j in range(0, len(items) - 1, 2):
                src, dst = items[j], items[j + 1]
                if not isinstance(src, bytes) or not isinstance(dst, bytes):
                    continue
                clen = clen or len(src)
                mp[int.from_bytes(src, "big")] = dst_text(dst)
        for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
            items = _scan_cmap_items(m.group(1))
            for j in range(0, len(items) - 2, 3):
                lo, hi, dst = items[j], items[j + 1], items[j + 2]
                if not isinstance(lo, bytes) or not isinstance(hi, bytes):
                    continue
                clen = clen or len(lo)
                lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
                if hi_i < lo_i or hi_i - lo_i > 65535:
                    continue
                if isinstance(dst, list):
                    for k, d in enumerate(dst):
                        if lo_i + k <= hi_i:
                            mp[lo_i + k] = dst_text(d)
                elif isinstance(dst, bytes) and dst:
                    base = int.from_bytes(dst, "big")
                    width = len(dst)
                    for k in range(hi_i - lo_i + 1):
                        mp[lo_i + k] = dst_text(
                            (base + k).to_bytes(width, "big")
                        )
        if not mp:
            return None
        return (clen or 2, mp)
    except Exception:
        return None


def _font_maps(payload: bytes, objs, page_dict, crypt=None) -> dict[str, tuple[int, dict[int, str]]]:
    """Page /Resources/Font → {name: parsed ToUnicode CMap}. Fonts
    without a /ToUnicode keep the latin-1 byte fallback (the pre-CID
    behavior, byte-locked by the goldens)."""
    fonts: dict[str, tuple[int, dict[int, str]]] = {}
    res = _resolve(objs, page_dict.get("/Resources"))
    if not isinstance(res, dict):
        return fonts
    fd = _resolve(objs, res.get("/Font"))
    if not isinstance(fd, dict):
        return fonts
    for name, ref in fd.items():
        f = _resolve(objs, ref)
        if not isinstance(f, dict):
            continue
        tu = f.get("/ToUnicode")
        if not isinstance(tu, _Ref):
            continue
        data = _stream_bytes(payload, objs, tu.num, crypt)
        if not data:
            continue
        parsed = _parse_cmap(data)
        if parsed:
            fonts[name] = parsed
    return fonts


def _page_image_gray(payload: bytes, objs, page_dict, crypt=None):
    """The scanned-page raster: the page's /XObject image (DeviceGray,
    8-bit) decoded to an (H, W) uint8 array — the from-scratch stand-in
    for the reference's page.get_pixmap() rasterization (which this
    sandbox cannot do for arbitrary vector content; a scanned page IS its
    embedded image, so decoding it recovers exactly what the reference
    rasterizes). Returns None when the page carries no decodable image."""
    import numpy as np

    res = _resolve(objs, page_dict.get("/Resources"))
    if not isinstance(res, dict):
        return None
    xobjs = _resolve(objs, res.get("/XObject"))
    if not isinstance(xobjs, dict):
        return None
    for ref in xobjs.values():
        if not isinstance(ref, _Ref):
            continue
        d = objs.get(ref.num, (None, 0))[0]
        if not isinstance(d, dict) or d.get("/Subtype") != "/Image":
            continue
        w = _resolve(objs, d.get("/Width"))
        h = _resolve(objs, d.get("/Height"))
        if (
            _resolve(objs, d.get("/BitsPerComponent")) != 8
            or not isinstance(w, int)
            or not isinstance(h, int)
        ):
            continue
        filt = d.get("/Filter")
        filters = filt if isinstance(filt, list) else ([filt] if filt else [])
        if "/DCTDecode" in filters:
            # JPEG-compressed scan (the encoding real scanners emit) —
            # reference PyMuPDF decodes this inside get_pixmap(); here the
            # baseline JPEG kernel does
            if d.get("/ColorSpace") not in ("/DeviceGray", "/DeviceRGB"):
                continue
            raw = _stream_bytes(payload, objs, ref.num, crypt)
            if raw is None:
                continue
            from .image_prep import to_grayscale
            from .jpeg_kernel import decode_jpeg

            arr = decode_jpeg(raw)
            if arr is None or arr.shape[:2] != (h, w):
                continue
            return to_grayscale(arr)
        if d.get("/ColorSpace") != "/DeviceGray":
            continue
        raw = _stream_bytes(payload, objs, ref.num, crypt)
        if raw is None or len(raw) < w * h:
            continue
        return np.frombuffer(raw, np.uint8, w * h).reshape(h, w)
    return None


def extract_pdf(
    payload: bytes, options: ExtractOptions = ExtractOptions()
) -> tuple[str, bool, list[str]]:
    """Returns (text, ocr_used, logs). Never raises.

    ``options.use_ocr`` mirrors reference utils/file_handlers.py:305-345:
    a page without text operators is rasterized (here: its embedded scan
    image decoded) and run through ``ocr_kernel.ocr_gray`` — the cascade
    image payloads get, with the options' language and handwriting mode;
    recognized pages get the ``--- Page N (OCR) ---`` framing. Like the
    reference's ``perform_ocr``, the OCR result is never empty (the
    no-text literal stands in), so an OCR'd page always lands in the
    (OCR) branch — preserved observable."""
    logs = ["Attempting to extract text using content-stream parser"]
    try:
        if not payload.startswith(b"%PDF"):
            logs.append("No text could be extracted from the PDF")
            return CORRUPT_LITERAL, False, logs
        objs, crypt = _scan_objects(payload)
        if crypt is not None:
            from .pdf_crypt import UnsupportedEncryption

            if isinstance(crypt, UnsupportedEncryption):
                # PyMuPDF refuses these (password required / unknown
                # scheme) and the reference lands on the corrupt/protected
                # literal — same observable here
                logs.append(f"PDF encryption unsupported: {crypt.reason}")
                logs.append("No text could be extracted from the PDF")
                return CORRUPT_LITERAL, False, logs
            logs.append(
                "PDF is encrypted; opened with empty user password"
            )
        page_nums = _page_order(payload, objs)
        total_pages = len(page_nums)
        logs.append(f"PDF has {total_pages} pages")
        if total_pages == 0:
            logs.append("No text could be extracted from the PDF")
            return CORRUPT_LITERAL, False, logs
        extracted = []
        pages_with_text = 0
        ocr_used = False
        for idx, pnum in enumerate(page_nums, start=1):
            d = objs[pnum][0]
            contents = d.get("/Contents")
            refs = (
                [c for c in contents if isinstance(c, _Ref)]
                if isinstance(contents, list)
                else ([contents] if isinstance(contents, _Ref) else [])
            )
            fonts = _font_maps(payload, objs, d, crypt)
            # a page's /Contents array forms ONE logical stream (spec
            # §7.8.2) — concatenate before parsing so text state (Tf
            # font selection) crosses stream boundaries
            parts = [
                raw
                for r in refs
                if (raw := _stream_bytes(payload, objs, r.num, crypt))
            ]
            page_text = _content_text(b"\n".join(parts), fonts) if parts else ""
            if page_text.strip():
                pages_with_text += 1
                # reference utils/file_handlers.py:303
                extracted.append(f"\n--- Page {idx} ---\n{page_text}\n")
            elif options.use_ocr:
                # reference :305-334 (PyMuPDF pixmap → perform_ocr), with
                # the embedded-scan-image decode as the rasterizer
                logs.append(f"Page {idx} has no text, attempting OCR")
                try:
                    from .ocr_kernel import ocr_gray

                    gray = _page_image_gray(payload, objs, d, crypt)
                    ocr_text = ocr_gray(
                        gray, options.ocr_language, options.handwriting_mode
                    )
                    # ocr_gray never returns empty (reference
                    # ocr_utils.py:208) → always the (OCR) branch
                    extracted.append(f"\n--- Page {idx} (OCR) ---\n{ocr_text}\n")
                    ocr_used = True
                    pages_with_text += 1
                except Exception as ocr_error:  # reference :332-334
                    logs.append(f"OCR failed for page {idx}: {ocr_error}")
                    extracted.append(
                        f"\n--- Page {idx} ---\n[OCR failed for this page]\n"
                    )
            else:
                # use_ocr=False path, reference :347
                extracted.append(
                    f"\n--- Page {idx} ---\n"
                    "[Page appears to be image-based. Enable OCR to extract text.]\n"
                )
        if pages_with_text > 0:
            logs.append(
                f"Successfully extracted text from {pages_with_text}/{total_pages} pages"
            )
            return "".join(extracted), ocr_used, logs
        # reference :460
        logs.append("No text could be extracted from the PDF")
        return (
            f"[PDF has {total_pages} pages but appears to be image-based or "
            "scanned. Enable OCR to extract text from scanned documents.]",
            ocr_used,
            logs,
        )
    except Exception as e:
        logs.append(f"PDF extraction failed: {e}")
        logs.append("No text could be extracted from the PDF")
        return CORRUPT_LITERAL, False, logs
