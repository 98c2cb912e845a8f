"""Deterministic synthetic Common-Crawl-style ``pages`` table generator.

Schema per BASELINE.json input_hint:
``url string, warc_ts timestamp, html binary, text string, lang string``.

Design constraints (FIXTURES.md §1):
- **index-pure**: row *i* is a pure function of ``(i, seed)`` — the table is
  identical regardless of partitioning/parallelism (required for the
  resume-equivalence and scaling benches).
- **Zipfian host skew** (s≈1.2) over a fixed 1000-host universe — the
  deliberate host-level skew the salted repartition must break.
- content-class mix (every dispatch branch exercised end-to-end): 40%
  well-formed HTML, 8% malformed HTML, 6% non-UTF-8 HTML, 10% PDF, 6% plain
  text, 4% XML, 4% CSV, 3% RTF, 4% EML, 4% image (PNG/GIF/BMP/JPEG headers
  + corrupt tail), 7% office zip-family (docx/pptx/xlsx/odt/odp/epub +
  legacy OLE literals + corrupt-zip error path), 4% binary junk.
- Every payload *writer* here is independent of the kernel *parsers*
  (SURVEY.md §7.2): the PDF writer, the zip writer (fixed DOS timestamp for
  index-purity), the MIME builder, the image headers — none share code with
  the extraction kernels.

The ``text`` column is left empty — the oracle text is computed at test time
by the kernels themselves (tests/test_pipeline.py), per SURVEY.md §5.
"""

from __future__ import annotations

import datetime as _dt
import random
import zlib

_SEED_DEFAULT = 42
_N_HOSTS = 1000
_ZIPF_S = 1.2
_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)

_LANGS = ["en", "fr", "de", "es", "pt", "zh", "ja", "ko", "unknown"]

_WORDS = (
    "data spark engine page content extract pipeline shuffle partition skew "
    "lineage batch arrow vector kernel parser document corpus crawl archive "
    "index token charset layout stream snapshot resume metric latency byte "
    "throughput cluster executor broadcast salt hash bucket catalyst plan"
).split()

_BOILER_LINKS = ["Home", "About", "Contact", "Privacy", "Terms", "Login", "Sitemap"]

# Zipf CDF over host ranks, precomputed once (deterministic).
_zipf_w = [1.0 / (r ** _ZIPF_S) for r in range(1, _N_HOSTS + 1)]
_zipf_tot = sum(_zipf_w)
_ZIPF_CDF = []
_acc = 0.0
for _w in _zipf_w:
    _acc += _w / _zipf_tot
    _ZIPF_CDF.append(_acc)


def _zipf_host(rng: random.Random) -> str:
    u = rng.random()
    lo, hi = 0, _N_HOSTS - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if _ZIPF_CDF[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return f"host{lo:04d}.example.com"


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)).capitalize() + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng, rng.randint(5, 14)) for _ in range(rng.randint(2, 6)))


def _n_paragraphs(rng: random.Random) -> int:
    """Heavy-tailed paragraph count (FIXTURES.md size heavy-tail): Pareto
    body sizes give a ~15-20 KB mean page with a 100 KB+ tail — realistic
    Common-Crawl page weight, and enough per-doc kernel work that the
    throughput bench measures extraction, not scheduling."""
    return min(600, 8 + int(rng.paretovariate(1.25) * 16))


def _html_doc(rng: random.Random, malformed: bool) -> bytes:
    parts = ["<!DOCTYPE html>\n<html>\n<head>\n"]
    if rng.random() < 0.85:
        parts.append(f"<title>{_sentence(rng, rng.randint(2, 6))[:-1]}</title>\n")
    parts.append("<style>body { color: #333; } .nav a { padding: 4px; }</style>\n")
    parts.append("<script>function f(){ if (1 < 2) { return 'x & y'; } }</script>\n")
    parts.append("</head>\n<body>\n")
    nlinks = rng.randint(3, 7)
    parts.append(
        "<nav><ul>"
        + "".join(f'<li><a href="/{w.lower()}">{w}</a></li>' for w in rng.sample(_BOILER_LINKS, nlinks))
        + "</ul></nav>\n"
    )
    parts.append(f"<header><h1>{_sentence(rng, rng.randint(3, 7))[:-1]}</h1></header>\n")
    parts.append("<main>\n")
    for pi in range(_n_paragraphs(rng)):
        p = _paragraph(rng)
        if rng.random() < 0.3:
            p += " Fish &amp; chips &lt;daily&gt;."
        if rng.random() < 0.2:
            p = p.replace(". ", ".  ", 1)  # double-space chunk case
        parts.append(f"<p>{p}</p>\n")
        if rng.random() < 0.12:
            items = "".join(
                f"<li>{_sentence(rng, rng.randint(2, 5))}</li>"
                for _ in range(rng.randint(2, 5))
            )
            parts.append(f"<ul>{items}</ul>\n")
        if rng.random() < 0.08:
            links = " ".join(
                f'<a href="/p{j}">{rng.choice(_WORDS)}</a>'
                for j in range(rng.randint(5, 12))
            )
            parts.append(f"<div>{links}</div>\n")
    parts.append("</main>\n")
    parts.append('<footer><p>Copyright 2025 &copy; example</p><a href="/rss">RSS</a></footer>\n')
    parts.append("</body>\n</html>\n")
    doc = "".join(parts)
    if malformed:
        mode = rng.randint(0, 2)
        if mode == 0:
            doc = doc[: rng.randint(len(doc) // 3, len(doc) - 1)]  # truncate
        elif mode == 1:
            doc = doc.replace("</p>", "", 3).replace("</div>", "")  # unclosed
        else:
            doc = doc.replace("<p>", "<p><<broken>", 2)  # stray brackets
    return doc.encode("utf-8")


def _html_nonutf8(rng: random.Random) -> bytes:
    body = (
        f"<html><head><title>Café {rng.choice(_WORDS)}</title></head>"
        f"<body><p>Résumé — naïve façade. {_paragraph(rng)}</p>"
        f"</body></html>"
    )
    enc = rng.choice(["windows-1252", "utf-16-le-bom", "latin-1"])
    if enc == "utf-16-le-bom":
        return b"\xff\xfe" + body.encode("utf-16-le")
    return body.encode("windows-1252" if enc == "windows-1252" else "latin-1", errors="replace")


# --- from-scratch minimal PDF writer (no code shared with the parser) -------

def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_doc(rng: random.Random) -> bytes:
    kind = rng.random()
    if kind < 0.10:  # corrupt / truncated
        good = _pdf_doc_pages(rng, npages=1, flate=False)
        return good[: rng.randint(20, max(21, len(good) // 2))]
    if kind < 0.25:  # image-only pages (no text ops)
        return _pdf_doc_pages(rng, npages=rng.randint(1, 2), flate=False, empty=True)
    return _pdf_doc_pages(rng, npages=rng.randint(1, 8), flate=rng.random() < 0.5)


def _pdf_doc_pages(
    rng: random.Random,
    npages: int,
    flate: bool,
    empty: bool = False,
    scan_lines: list[list[str]] | None = None,
    scan_scale: int = 1,
    scan_codec: str = "flate",
    objstm: bool = False,
    stream_filter: str | None = None,
    encrypt: str | None = None,
    user_password: bytes = b"",
    cid_font: bool = False,
) -> bytes:
    """Spec-based PDF writer. ``scan_lines`` (one list of text lines per
    page) makes each page a SCANNED page: no text operators, but a real
    embedded image XObject (DeviceGray 8-bit) rasterized with the shared
    OCR font — the shape a scanner produces and the use_ocr=True kernel
    path recognizes. ``scan_codec='jpeg'`` embeds the raster as a
    DCTDecode (baseline JPEG) stream — the encoding real scanners emit —
    instead of FlateDecode. ``objstm=True`` emits the modern PDF 1.5+
    layout: every non-stream dict (catalog, pages node, page dicts) is
    packed into a Flate-compressed /Type /ObjStm object stream and the
    classic xref table is replaced by a cross-reference STREAM with
    type-1/type-2 entries — the shape virtually every current PDF
    producer writes. ``encrypt`` ∈ {'rc4-40', 'rc4-128', 'aesv2'} emits a
    standard-security-handler encrypted document (owner password set,
    user password ``user_password`` — default empty, the
    openable-without-prompting shape that dominates real crawls); the
    derivation helpers are the shared spec constants of
    kernels/pdf_crypt.py, the document structure on each side is
    independent (same pattern as the OCR font table). ``cid_font=True``
    renders text through a Type0 /Identity-H font with 2-byte codes and
    a /ToUnicode CMap (the subset-font shape every modern PDF producer
    emits) — extracted text must equal the simple-font twin's."""
    objects: list[bytes] = []
    cid_map: dict[str, int] = {}

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)  # 1-based object number

    handler = None
    # (o, u, id, p, r, v, ue, oe, perms) — ue/oe/perms are b"" outside AES-256
    enc_meta: tuple[bytes, bytes, bytes, int, int, int, bytes, bytes, bytes] | None = None
    if encrypt is not None:
        import hashlib as _hl

        from ..kernels.pdf_crypt import (
            StdDecryptor,
            compute_file_key,
            compute_o_entry,
            compute_u_entry,
        )

        p_flags = -44
        file_id = _hl.md5(
            b"utes-pdf-id" + repr((npages, flate, encrypt, scan_scale)).encode()
        ).digest()
        if encrypt == "aes256":
            from ..kernels.pdf_crypt import (
                aes_cbc_encrypt_nopad,
                hash_r6,
                v5_perms_blob,
            )

            r, v = 6, 5
            file_key = _hl.sha256(b"utes-file-key" + file_id).digest()
            u_vs = _hl.md5(b"utes-uvs" + file_id).digest()[:8]
            u_ks = _hl.md5(b"utes-uks" + file_id).digest()[:8]
            o_vs = _hl.md5(b"utes-ovs" + file_id).digest()[:8]
            o_ks = _hl.md5(b"utes-oks" + file_id).digest()[:8]
            u_entry = hash_r6(user_password, u_vs) + u_vs + u_ks
            ue = aes_cbc_encrypt_nopad(
                hash_r6(user_password, u_ks), b"\x00" * 16, file_key
            )
            o_entry = hash_r6(b"owner-secret", o_vs, u_entry) + o_vs + o_ks
            oe = aes_cbc_encrypt_nopad(
                hash_r6(b"owner-secret", o_ks, u_entry), b"\x00" * 16, file_key
            )
            perms = v5_perms_blob(file_key, p_flags)
            handler = StdDecryptor(file_key, aes=True, v5=True)
            enc_meta = (o_entry, u_entry, file_id, p_flags, r, v, ue, oe, perms)
        else:
            r, v, keylen = {
                "rc4-40": (2, 1, 5),
                "rc4-128": (3, 2, 16),
                "aesv2": (4, 4, 16),
            }[encrypt]
            o_entry = compute_o_entry(b"owner-secret", user_password, r, keylen)
            file_key = compute_file_key(
                user_password, o_entry, p_flags, file_id, r, keylen
            )
            u_entry = compute_u_entry(file_key, file_id, r)
            handler = StdDecryptor(file_key, aes=(encrypt == "aesv2"))
            enc_meta = (o_entry, u_entry, file_id, p_flags, r, v, None, None, None)

    def enc_stream(data: bytes) -> bytes:
        """Encrypt a stream body for the NEXT object number (what the
        following add() call will assign)."""
        if handler is None:
            return data
        num = len(objects) + 1
        import hashlib as _hl

        iv = _hl.md5(b"utes-pdf-iv%d" % num).digest()[:16]
        return handler.encrypt(num, data, iv=iv)

    if scan_lines is not None:
        npages = len(scan_lines)
    page_obj_nums = []
    content_nums = []
    image_nums: list[int | None] = []
    image_dims: list[tuple[int, int] | None] = []
    for p in range(npages):
        img_num = None
        if scan_lines is not None:
            rows = render_text_rows(scan_lines[p], rng, scale=scan_scale)
            h = len(rows)
            w = len(rows[0]) if rows else 1
            if scan_codec == "jpeg":
                comp = make_jpeg(
                    [[px[0] for px in row] for row in rows],
                    color="gray",
                    quality=95,
                )
                filter_name = b"/DCTDecode"
            else:
                comp = zlib.compress(bytes(px[0] for row in rows for px in row))
                filter_name = b"/FlateDecode"
            comp = enc_stream(comp)
            img_num = add(
                b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
                + b" /Height " + str(h).encode()
                + b" /ColorSpace /DeviceGray /BitsPerComponent 8"
                + b" /Filter " + filter_name
                + b" /Length " + str(len(comp)).encode()
                + b" >>\nstream\n" + comp + b"\nendstream"
            )
            stream = (
                b"q " + str(w).encode() + b" 0 0 " + str(h).encode()
                + b" 0 0 cm /Im0 Do Q"
            )
            image_dims.append((w, h))
        elif empty:
            stream = b"q 1 0 0 1 0 0 cm Q"  # graphics only, no BT/Tj
            image_dims.append(None)
        else:
            image_dims.append(None)
        image_nums.append(img_num)
        if scan_lines is None and not empty:
            raw_lines = [_sentence(rng, rng.randint(4, 9)) for _ in range(rng.randint(8, 40))]
            if cid_font:
                def _hexshow(t: str) -> str:
                    codes = []
                    for ch in t:
                        if ch not in cid_map:
                            cid_map[ch] = len(cid_map) + 1
                        codes.append("%04X" % cid_map[ch])
                    return "<" + "".join(codes) + ">"

                ops = ["BT /F1 12 Tf 72 720 Td"]
                ops.append(f"{_hexshow(raw_lines[0])} Tj")
                for ln in raw_lines[1:]:
                    ops.append(f"0 -14 Td {_hexshow(ln)} Tj")
                ops.append("ET")
            else:
                lines = [_pdf_escape(t) for t in raw_lines]
                ops = ["BT /F1 12 Tf 72 720 Td"]
                ops.append(f"({lines[0]}) Tj")
                for ln in lines[1:]:
                    ops.append(f"0 -14 Td ({ln}) Tj")
                ops.append("ET")
            stream = " ".join(ops).encode("latin-1")
        if stream_filter == "lzw":
            # PDF LZWDecode is the TIFF coding — same early-change rule
            comp = _tiff_lzw_encode(stream)
            fname = b"/LZWDecode"
        elif stream_filter == "ahx":
            comp = stream.hex().encode("ascii") + b">"
            fname = b"/ASCIIHexDecode"
        elif stream_filter == "a85":
            import base64 as _b64

            comp = _b64.a85encode(stream) + b"~>"
            fname = b"/ASCII85Decode"
        elif flate:
            comp = zlib.compress(stream)
            fname = b"/FlateDecode"
        else:
            comp = None
            fname = b""
        if comp is not None:
            comp = enc_stream(comp)
            body = (
                b"<< /Length " + str(len(comp)).encode() + b" /Filter "
                + fname + b" >>\nstream\n" + comp + b"\nendstream"
            )
        else:
            raw = enc_stream(stream)
            body = (
                b"<< /Length " + str(len(raw)).encode() + b" >>\nstream\n"
                + raw + b"\nendstream"
            )
        content_nums.append(add(body))

    # reserve: we add page objects now, then the pages node, then catalog
    for p in range(npages):
        if cid_font:
            fdict = (
                b"<< /Type /Font /Subtype /Type0 /BaseFont /UTES+Synth"
                b" /Encoding /Identity-H /ToUnicode TOUNIREF >>"
            )
        else:
            fdict = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        res = b" /Resources << /Font << /F1 " + fdict + b" >>"

        if image_nums[p] is not None:
            res += (
                b" /XObject << /Im0 " + str(image_nums[p]).encode() + b" 0 R >>"
            )
        res += b" >>"
        page_obj_nums.append(
            add(
                b"<< /Type /Page /Parent PAGESREF /MediaBox [0 0 612 792] /Contents "
                + str(content_nums[p]).encode() + b" 0 R" + res + b" >>"
            )
        )
    kids = b"[" + b" ".join(str(n).encode() + b" 0 R" for n in page_obj_nums) + b"]"
    pages_num = add(
        b"<< /Type /Pages /Kids " + kids + b" /Count " + str(npages).encode() + b" >>"
    )
    catalog_num = add(b"<< /Type /Catalog /Pages " + str(pages_num).encode() + b" 0 R >>")
    touni_patch = None
    if cid_font:
        cmap_src = _build_tounicode_cmap(cid_map)
        if flate:
            tcomp = enc_stream(zlib.compress(cmap_src))
            tbody = (
                b"<< /Length " + str(len(tcomp)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + tcomp + b"\nendstream"
            )
        else:
            traw = enc_stream(cmap_src)
            tbody = (
                b"<< /Length " + str(len(traw)).encode()
                + b" >>\nstream\n" + traw + b"\nendstream"
            )
        touni_patch = str(add(tbody)).encode() + b" 0 R"
    trailer_extra = b""
    if enc_meta is not None:
        o_entry, u_entry, file_id, p_flags, r, v, ue, oe, perms = enc_meta
        enc_body = (
            b"<< /Filter /Standard /V " + str(v).encode()
            + b" /R " + str(r).encode()
            + b" /Length " + str(8 * len(handler.file_key)).encode()
            + b" /O <" + o_entry.hex().encode() + b">"
            + b" /U <" + u_entry.hex().encode() + b">"
            + b" /P " + str(p_flags).encode()
        )
        if encrypt == "aesv2":
            enc_body += (
                b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
                b" /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
            )
        elif encrypt == "aes256":
            enc_body += (
                b" /UE <" + ue.hex().encode() + b">"
                + b" /OE <" + oe.hex().encode() + b">"
                + b" /Perms <" + perms.hex().encode() + b">"
                + b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
                b" /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
            )
        enc_num = add(enc_body + b" >>")
        idhex = file_id.hex().encode()
        trailer_extra = (
            b" /Encrypt " + str(enc_num).encode() + b" 0 R"
            + b" /ID [<" + idhex + b"> <" + idhex + b">]"
        )
    # patch parent refs
    parent = str(pages_num).encode() + b" 0 R"
    objects = [o.replace(b"PAGESREF", parent) for o in objects]
    if touni_patch is not None:
        objects = [o.replace(b"TOUNIREF", touni_patch) for o in objects]

    if objstm:
        return _pdf_emit_objstm(
            objects, catalog_num, handler=handler,
            enc_num=(enc_num if enc_meta is not None else None),
            enc_extra=trailer_extra,
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 " + str(len(objects) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += ("%010d 00000 n \n" % off).encode()
    out += (
        b"trailer\n<< /Size " + str(len(objects) + 1).encode()
        + b" /Root " + str(catalog_num).encode() + b" 0 R"
        + trailer_extra + b" >>\nstartxref\n"
        + str(xref_off).encode() + b"\n%%EOF\n"
    )
    return bytes(out)


def _build_tounicode_cmap(cid_map: dict[str, int]) -> bytes:
    """Spec-shaped /ToUnicode CMap: Identity-H 2-byte codes, bfchar
    blocks chunked at the spec's 100-entry limit, UTF-16BE targets."""
    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CMapName /UTES-Identity-UCS def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        b"<0000> <FFFF>",
        b"endcodespacerange",
    ]
    items = sorted((code, ch) for ch, code in cid_map.items())
    for i in range(0, len(items), 100):
        chunk = items[i : i + 100]
        lines.append(b"%d beginbfchar" % len(chunk))
        for code, ch in chunk:
            dst = ch.encode("utf-16-be").hex().upper().encode()
            lines.append(b"<%04X> <" % code + dst + b">")
        lines.append(b"endbfchar")
    lines += [
        b"endcmap",
        b"CMapName currentdict /CMap defineresource pop",
        b"end",
        b"end",
    ]
    return b"\n".join(lines)


def _pdf_emit_objstm(
    objects: list[bytes],
    catalog_num: int,
    handler=None,
    enc_num: int | None = None,
    enc_extra: bytes = b"",
) -> bytes:
    """Emit the PDF 1.5+ container for a built object list: non-stream
    dicts packed into one Flate-compressed /Type /ObjStm, stream objects
    top-level (the spec forbids streams inside object streams), and a
    cross-reference STREAM (/W [1 4 2]: type-1 offsets for top-level
    objects, type-2 (objstm, index) entries for packed ones) with /Root
    in its dict — no classic trailer. With ``handler`` (encrypted
    document): the ObjStm body is enciphered under ITS object number
    (embedded objects are not separately encrypted — §7.6.2), the
    /Encrypt dict stays top-level (a reader must parse it before it can
    decrypt anything), and the xref STREAM itself is never encrypted."""
    comp_nums = [
        i for i, b in enumerate(objects, 1)
        if b"stream\n" not in b and i != enc_num
    ]
    top_nums = [
        i for i, b in enumerate(objects, 1)
        if b"stream\n" in b or i == enc_num
    ]
    objstm_num = len(objects) + 1
    xref_num = len(objects) + 2

    body = bytearray()
    offs: list[tuple[int, int]] = []
    for n in comp_nums:
        offs.append((n, len(body)))
        body += objects[n - 1] + b"\n"
    header = b" ".join(
        str(x).encode() for pair in offs for x in pair
    ) + b" "
    comp = zlib.compress(bytes(header) + bytes(body))
    if handler is not None:
        import hashlib as _hl

        iv = _hl.md5(b"utes-pdf-iv%d" % objstm_num).digest()[:16]
        comp = handler.encrypt(objstm_num, comp, iv=iv)
    objstm_body = (
        b"<< /Type /ObjStm /N " + str(len(comp_nums)).encode()
        + b" /First " + str(len(header)).encode()
        + b" /Filter /FlateDecode /Length " + str(len(comp)).encode()
        + b" >>\nstream\n" + comp + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.5\n")
    positions: dict[int, int] = {}
    for n in top_nums:
        positions[n] = len(out)
        out += str(n).encode() + b" 0 obj\n" + objects[n - 1] + b"\nendobj\n"
    positions[objstm_num] = len(out)
    out += str(objstm_num).encode() + b" 0 obj\n" + objstm_body + b"\nendobj\n"

    xref_pos = len(out)
    positions[xref_num] = xref_pos
    size = xref_num + 1
    rows = bytearray()
    for n in range(size):
        if n == 0:
            rows += b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        elif n in positions:
            rows += b"\x01" + positions[n].to_bytes(4, "big") + (0).to_bytes(2, "big")
        else:
            rows += (
                b"\x02"
                + objstm_num.to_bytes(4, "big")
                + comp_nums.index(n).to_bytes(2, "big")
            )
    xref_body = (
        b"<< /Type /XRef /Size " + str(size).encode()
        + b" /W [1 4 2] /Root " + str(catalog_num).encode() + b" 0 R"
        + enc_extra
        + b" /Length " + str(len(rows)).encode()
        + b" >>\nstream\n" + bytes(rows) + b"\nendstream"
    )
    out += str(xref_num).encode() + b" 0 obj\n" + xref_body + b"\nendobj\n"
    out += b"startxref\n" + str(xref_pos).encode() + b"\n%%EOF\n"
    return bytes(out)


def _xml_doc(rng: random.Random) -> bytes:
    valid = rng.random() > 0.2
    items = "".join(
        f"<item id='{j}'><name>{rng.choice(_WORDS)}</name><note>{_sentence(rng, 3)}</note></item>"
        for j in range(rng.randint(4, 40))
    )
    doc = f"<?xml version='1.0'?><catalog region='{rng.choice(_WORDS)}'>{items}</catalog>"
    if not valid:
        doc = doc.replace("</catalog>", "")  # unclosed root → fallback path
    return doc.encode("utf-8")


def _txt_doc(rng: random.Random) -> bytes:
    if rng.random() < 0.05:
        return b""  # empty file → Warning-status path (reference app.py:498-500)
    return "\n".join(
        _paragraph(rng) for _ in range(_n_paragraphs(rng) // 2 + 1)
    ).encode("utf-8")


def _junk_doc(rng: random.Random) -> bytes:
    return bytes(rng.getrandbits(8) for _ in range(rng.randint(16, 512)))


def _csv_doc(rng: random.Random) -> bytes:
    cols = rng.randint(2, 6)
    header = ",".join(rng.choice(_WORDS) for _ in range(cols))
    rows = [header]
    for _ in range(rng.randint(3, 60)):
        cells = []
        for _c in range(cols):
            if rng.random() < 0.15:  # quoted cell with comma / escaped quote
                cells.append(f'"{rng.choice(_WORDS)}, ""{rng.choice(_WORDS)}"""')
            elif rng.random() < 0.05:  # quoted multi-line cell
                cells.append(f'"{rng.choice(_WORDS)}\n{rng.choice(_WORDS)}"')
            else:
                cells.append(rng.choice(_WORDS) if rng.random() < 0.8 else str(rng.randint(0, 999)))
        rows.append(",".join(cells))
    return ("\n".join(rows) + "\n").encode("utf-8")


def _rtf_doc(rng: random.Random) -> bytes:
    body = []
    for _ in range(rng.randint(2, 12)):
        s = _sentence(rng, rng.randint(4, 10))[:-1]
        if rng.random() < 0.4:
            s = s.replace(" ", r" \b ", 1).replace(" ", r"\b0  ", 2)
        body.append(s + r"\par")
    if rng.random() < 0.3:
        body.append(r"caf\'e9 and \u233? done.\par")
    doc = r"{\rtf1\ansi\deff0{\fonttbl{\f0 Helvetica;}}\f0\fs24 " + " ".join(body) + "}"
    return doc.encode("latin-1", errors="replace")


def _eml_doc(rng: random.Random) -> bytes:
    frm = f"{rng.choice(_WORDS)}@example.com"
    to = f"{rng.choice(_WORDS)}@example.org"
    subj = _sentence(rng, rng.randint(2, 6))[:-1]
    kind = rng.random()
    if kind < 0.4:  # simple single-part
        return (
            f"From: {frm}\r\nTo: {to}\r\nSubject: {subj}\r\n\r\n"
            f"{_paragraph(rng)}\r\n"
        ).encode("utf-8")
    parts = [
        f"From: {frm}\r\nTo: {to}\r\nSubject: {subj}\r\n"
        "Date: Mon, 06 Jan 2025 10:00:00 +0000\r\n"
        "MIME-Version: 1.0\r\nContent-Type: multipart/alternative; boundary=BND\r\n\r\n"
    ]
    if kind < 0.8:  # text/plain preferred part present
        parts.append(
            "--BND\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"
            f"{_paragraph(rng)}\r\n"
        )
    parts.append(
        "--BND\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        f"<html><body><p>{_paragraph(rng)}</p></body></html>\r\n"
    )
    if rng.random() < 0.3:  # attachment → skipped (D9 predicate)
        parts.append(
            "--BND\r\nContent-Type: application/octet-stream\r\n"
            "Content-Disposition: attachment; filename=x.bin\r\n\r\nBINDATA\r\n"
        )
    parts.append("--BND--\r\n")
    return "".join(parts).encode("utf-8")


def make_bmp(
    pixels: list[list[tuple[int, int, int]]],
    top_down: bool = False,
    bpp: int = 24,
    rle: bool = False,
) -> bytes:
    """BMP writer (spec-based, independent of kernels/image_prep.py's
    decoder). ``pixels`` is rows of (r, g, b), row 0 = top. ``bpp``:
    24 (default, byte-stable legacy layout), 32 (alpha 0xFF), 8/4/1
    (palette built from unique colors); ``rle=True`` emits BI_RLE8/RLE4
    runs (bottom-up, per spec; bpp must be 8 or 4)."""
    import struct as _st

    h = len(pixels)
    w = len(pixels[0]) if h else 0
    palette = b""
    compression = 0
    if bpp in (1, 4, 8):
        uniq: dict[tuple[int, int, int], int] = {}
        for row in pixels:
            for px in row:
                key = (int(px[0]), int(px[1]), int(px[2]))
                if key not in uniq:
                    uniq[key] = len(uniq)
        if len(uniq) > (1 << bpp):
            raise ValueError("palette too large for bpp")
        pal = [(0, 0, 0)] * (1 << bpp)
        for rgb, i in uniq.items():
            pal[i] = rgb
        palette = b"".join(bytes((c[2], c[1], c[0], 0)) for c in pal)
        idx_rows = [
            [uniq[(int(px[0]), int(px[1]), int(px[2]))] for px in row]
            for row in pixels
        ]
        if rle:
            if bpp not in (4, 8) or top_down:
                raise ValueError("RLE is bottom-up 4/8bpp only")
            compression = 1 if bpp == 8 else 2
            body = bytearray()
            for row in reversed(idx_rows):  # bottom-up storage
                x = 0
                while x < w:
                    run = 1
                    while x + run < w and row[x + run] == row[x] and run < 255:
                        run += 1
                    if bpp == 8:
                        body += bytes((run, row[x]))
                    else:
                        body += bytes((run, (row[x] << 4) | row[x]))
                    x += run
                body += b"\x00\x00"  # end of line
            body += b"\x00\x01"  # end of bitmap
        else:
            stride = ((w * bpp + 31) // 32) * 4
            body = bytearray()
            for row in (idx_rows if top_down else list(reversed(idx_rows))):
                rb = bytearray(stride)
                for i, v in enumerate(row):
                    if bpp == 8:
                        rb[i] = v
                    else:
                        bitpos = i * bpp
                        rb[bitpos >> 3] |= (v & ((1 << bpp) - 1)) << (
                            8 - bpp - (bitpos & 7)
                        )
                body += rb
    else:
        nch = {24: 3, 32: 4}[bpp]
        stride = ((w * nch + 3) & ~3) if bpp == 24 else w * 4
        body = bytearray()
        for row in (pixels if top_down else reversed(pixels)):
            rb = bytearray()
            for r, g, b in row:
                rb += bytes((b, g, r)) if bpp == 24 else bytes((b, g, r, 0xFF))
            rb += b"\x00" * (stride - len(rb))
            body += rb
    data_off = 14 + 40 + len(palette)
    header = b"BM" + _st.pack("<IHHI", data_off + len(body), 0, 0, data_off)
    dib = _st.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, compression,
        len(body), 2835, 2835, len(palette) // 4 if palette else 0, 0,
    )
    return header + dib + palette + bytes(body)


def make_png(
    pixels: list[list],
    color: str = "rgb",
    filters: list[int] | None = None,
    interlace: bool = False,
    depth: int = 8,
) -> bytes:
    """PNG writer with per-row scanline filters (0=None 1=Sub 2=Up
    3=Average 4=Paeth — the full spec set, forward transform; the kernel
    decoder implements the inverse). ``pixels`` is rows of (r,g,b) /
    (r,g,b,a) tuples or gray ints; ``filters`` picks the filter per
    emitted row (cycled). ``color``: gray / rgb / rgba / graya /
    palette (PLTE from unique colors); ``depth``: 8 (default, byte-
    stable legacy layout), 16 (samples widened ×257), or 1/2/4 for
    gray (quantized) and palette (packed indices); ``interlace`` emits
    Adam7 (7 independently filtered passes)."""
    import struct as _st

    h = len(pixels)
    w = len(pixels[0]) if h else 0
    ctype, nch = {
        "gray": (0, 1), "rgb": (2, 3), "rgba": (6, 4),
        "graya": (4, 2), "palette": (3, 1),
    }[color]
    plte = b""
    # sample grid: per row, a flat list of native-depth sample ints
    if color == "palette":
        if depth not in (1, 2, 4, 8):
            raise ValueError("palette depth must be 1/2/4/8")
        uniq: dict[tuple[int, int, int], int] = {}
        grid = []
        for row in pixels:
            out_row = []
            for px in row:
                key = (int(px[0]), int(px[1]), int(px[2]))
                if key not in uniq:
                    uniq[key] = len(uniq)
                out_row.append(uniq[key])
            grid.append(out_row)
        if len(uniq) > (1 << depth):
            raise ValueError("palette too large for depth")
        pal = [(0, 0, 0)] * len(uniq)
        for rgb, i in uniq.items():
            pal[i] = rgb
        plte = b"".join(bytes(c) for c in pal)
    else:
        def scale(v: int) -> int:
            if depth == 16:
                return int(v) * 257
            if depth < 8:
                return int(v) // (255 // ((1 << depth) - 1))
            return int(v)

        if depth != 8 and not (color == "gray" or depth == 16):
            raise ValueError("sub-8 depths are gray/palette only")
        grid = [
            [
                scale(c)
                for px in row
                for c in (px if isinstance(px, (tuple, list)) else (px,))
            ]
            for row in pixels
        ]

    def pack_row(samples: list[int]) -> bytes:
        if depth == 8:
            return bytes(v & 0xFF for v in samples)
        if depth == 16:
            return b"".join(_st.pack(">H", v & 0xFFFF) for v in samples)
        out = bytearray((len(samples) * depth + 7) // 8)
        for i, v in enumerate(samples):
            bitpos = i * depth
            out[bitpos >> 3] |= (v & ((1 << depth) - 1)) << (
                8 - depth - (bitpos & 7)
            )
        return bytes(out)

    bpp = max(1, (nch * depth) // 8)
    filters = filters or [0] * max(1, h)
    scan = bytearray()
    row_no = 0

    def emit_image(sample_rows: list[list[int]]):
        nonlocal row_no, scan
        if not sample_rows:
            return
        raws = [pack_row(r) for r in sample_rows]
        prior = b"\x00" * len(raws[0])
        for cur in raws:
            ft = filters[row_no % len(filters)]
            row_no += 1
            enc = bytearray()
            for x in range(len(cur)):
                a = cur[x - bpp] if x >= bpp else 0
                b = prior[x]
                c = prior[x - bpp] if x >= bpp else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc.append((cur[x] - pred) & 0xFF)
            scan += bytes([ft]) + bytes(enc)
            prior = cur

    if interlace:
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            sub = [
                [
                    v
                    for xi in range(x0, w, dx)
                    for v in grid[yi][xi * nch : (xi + 1) * nch]
                ]
                for yi in range(y0, h, dy)
            ]
            emit_image([r for r in sub if r])
    else:
        emit_image(grid)

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return _st.pack(">I", len(data)) + body + _st.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = _st.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1 if interlace else 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte:
        out += chunk(b"PLTE", plte)
    return out + chunk(b"IDAT", zlib.compress(bytes(scan))) + chunk(b"IEND", b"")


def _document_pixels(rng: random.Random, w: int, h: int) -> list[list]:
    """Synthetic 'scanned page' pixels: white background, dark horizontal
    text bands (2-px line every 8 rows with ragged right margins) — the
    shape K15/K16 classify. Paper-ish aspect (w/h ≈ 0.72)."""
    rows = []
    for y in range(h):
        band = 6 <= (y % 8) <= 7
        width_used = int(w * (0.55 + 0.4 * rng.random())) if band else 0
        row = []
        for x in range(w):
            ink = band and 3 <= x < width_used
            v = rng.randint(10, 60) if ink else rng.randint(235, 255)
            row.append((v, v, v))
        rows.append(row)
    return rows


def make_document_image(
    rng: random.Random, w: int = 64, h: int = 88, fmt: str = "png"
) -> bytes:
    rows = _document_pixels(rng, w, h)
    if fmt == "bmp":
        return make_bmp(rows, top_down=rng.random() < 0.5)
    filters = [rng.choice([0, 1, 2, 3, 4]) for _ in range(h)]
    return make_png(rows, "rgb", filters)


def render_text_rows(
    lines: list[str],
    rng: random.Random,
    scale: int = 1,
    margin: int = 4,
) -> list[list[tuple[int, int, int]]]:
    """Rasterize text lines with the shared 5×7 font (the font table is
    the SPEC — ``kernels.ocr_kernel.FONT`` — but this rasterizer shares no
    segmentation/matching code with the recognizer): glyph cell 6×10 font
    px (5+1 gap, 7+3 leading) at ``scale``, noisy ink (10-60) on noisy
    paper (235-255) like ``_document_pixels``. Unknown chars render as
    blanks."""
    from ..kernels.ocr_kernel import FONT

    ncols = max((len(ln) for ln in lines), default=0)
    w = 2 * margin + ncols * 6 * scale
    h = 2 * margin + (len(lines) * 10 - 3) * scale
    ink = [[False] * w for _ in range(h)]
    for li, ln in enumerate(lines):
        for ci, ch in enumerate(ln):
            rows = FONT.get(ch.upper())
            if rows is None:
                continue
            for r in range(7):
                for c in range(5):
                    if (rows[r] >> (4 - c)) & 1:
                        y0 = margin + (li * 10 + r) * scale
                        x0 = margin + (ci * 6 + c) * scale
                        for dy in range(scale):
                            for dx in range(scale):
                                ink[y0 + dy][x0 + dx] = True
    out = []
    for y in range(h):
        row = []
        for x in range(w):
            v = rng.randint(10, 60) if ink[y][x] else rng.randint(235, 255)
            row.append((v, v, v))
        out.append(row)
    return out


def make_ocr_page(
    rng: random.Random,
    lines: list[str],
    fmt: str = "png",
    scale: int = 1,
) -> bytes:
    """Encoded scanned-text page (PNG/BMP) whose glyphs the OCR kernel can
    recognize — the end-to-end K13 fixture."""
    rows = render_text_rows(lines, rng, scale=scale)
    if fmt == "bmp":
        return make_bmp(rows, top_down=rng.random() < 0.5)
    return make_png(rows, "rgb", [rng.choice([0, 1, 2, 3, 4]) for _ in rows])


def make_noise_image(rng: random.Random, w: int = 60, h: int = 40, fmt: str = "png") -> bytes:
    """Photo-ish uniform noise — the negative class for K15."""
    rows = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w)]
        for _ in range(h)
    ]
    if fmt == "bmp":
        return make_bmp(rows)
    return make_png(rows, "rgb")


def make_wav(
    rng: random.Random,
    n_samples: int = 8000,
    rate: int = 8000,
    channels: int = 1,
    bits: int = 16,
    codec: str = "pcm",
) -> bytes:
    """Minimal RIFF WAV writer — INDEPENDENT of
    ``kernels.audio_kernel`` (own writer ≠ parser). Integer-only
    synthesis (triangle carrier with per-segment amplitude steps + LCG
    noise) so payloads are byte-deterministic across platforms — no
    float trig anywhere. ``codec="pcm"`` (default, byte-identical to the
    pre-ADPCM writer) or ``codec="ima_adpcm"`` — the encoder direction
    of the published IMA spec, written here independently of the
    kernel's decoder loop (mono 4-bit, 256-byte blocks)."""
    import struct as _st

    signal = []
    period = rng.randint(20, 120)
    seg = max(n_samples // 8, 1)
    amps = [rng.randint(0, 28000) for _ in range(8 + 1)]
    for t in range(n_samples):
        amp = amps[min(t // seg, len(amps) - 1)]
        # integer triangle in [-period/2, period/2] scaled to amp
        ph = t % period
        tri = abs(ph - period // 2) - period // 4
        val = (tri * amp * 4) // max(period, 1)
        val += rng.randint(-500, 500)  # noise floor
        signal.append(max(-32768, min(32767, val)))

    if codec == "ima_adpcm":
        if channels != 1:
            raise ValueError("ADPCM writer is mono-only")
        data = _ima_adpcm_encode(signal, block_align=256)
        spb = (256 - 4) * 2 + 1  # header sample + 2 nibbles per body byte
        bps = (rate * 256 + spb - 1) // spb
        fmt = _st.pack("<HHIIHHHH", 0x11, 1, rate, bps, 256, 4, 2, spb)
    else:
        frames = []
        for val in signal:
            for _c in range(channels):
                if bits == 16:
                    frames.append(_st.pack("<h", val))
                else:
                    frames.append(bytes([max(0, min(255, (val >> 8) + 128))]))
        data = b"".join(frames)
        bps = rate * channels * (bits // 8)
        fmt = _st.pack(
            "<HHIIHH", 1, channels, rate, bps, channels * (bits // 8), bits
        )
    body = b"WAVE" + b"fmt " + _st.pack("<I", len(fmt)) + fmt
    body += b"data" + _st.pack("<I", len(data)) + data
    return b"RIFF" + _st.pack("<I", len(body)) + body


# IMA ADPCM spec constants (quantizer steps + index adjust) — the same
# published tables the kernel uses; the encoder LOOP below is this
# writer's own (quantize-against-step comparisons), not a copy of the
# kernel's reconstruction loop.
_IMA_ENC_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_ENC_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_adpcm_encode(signal: list[int], block_align: int = 256) -> bytes:
    """Mono IMA ADPCM encoder: per 256-byte block, a 4-byte header
    (current predictor as sample 0, step index, reserved) + 4-bit codes
    packed low-nibble-first. Quantizes each delta by successive
    step/step÷2/step÷4 comparisons, then tracks the decoder's
    reconstruction so predictor state never drifts from what a reader
    will compute."""
    import struct as _st

    out = []
    pred, index = 0, 0
    pos = 0
    spb = (block_align - 4) * 2 + 1
    while pos < len(signal):
        block_samples = signal[pos : pos + spb]
        pos += spb
        pred = max(-32768, min(32767, block_samples[0]))
        out.append(_st.pack("<hBB", pred, index, 0))
        nibbles = []
        for sample in block_samples[1:]:
            step = _IMA_ENC_STEPS[index]
            delta = sample - pred
            code = 0
            if delta < 0:
                code = 8
                delta = -delta
            if delta >= step:
                code |= 4
                delta -= step
            if delta >= step >> 1:
                code |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                code |= 1
            # mirror the reconstruction so the predictor tracks the reader
            rec = step >> 3
            if code & 4:
                rec += step
            if code & 2:
                rec += step >> 1
            if code & 1:
                rec += step >> 2
            pred = pred - rec if code & 8 else pred + rec
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + _IMA_ENC_INDEX[code & 7]))
            nibbles.append(code)
        if len(nibbles) % 2:
            nibbles.append(0)  # pad nibble (decoded as a tiny tail blip)
        body = bytes(
            nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
        )
        out.append(body.ljust(block_align - 4, b"\x00"))
    return b"".join(out)


def make_gif(
    frames: list[list[list[int]]],
    delays_ms: list[int] | None = None,
    interlace: bool = False,
) -> bytes:
    """Minimal animated-GIF writer: 256-entry grayscale palette, full-
    canvas frames, graphic-control delays, and the fixed-width
    literal-code LZW trick (emit a CLEAR before the decoder's code width
    would grow — spec-valid, compression-free). INDEPENDENT of
    ``kernels.gif_kernel`` (own writer ≠ parser).

    ``frames``: list of H×W grayscale (0-255) pixel lists, equal dims.
    ``delays_ms``: per-frame delay (rounded down to centiseconds).
    ``interlace=True`` stores rows in the GIF89a 4-pass order (appendix
    E) with the interlace flag set.
    """
    import struct as _st

    h = len(frames[0])
    w = len(frames[0][0])
    delays_ms = delays_ms or [100] * len(frames)
    out = bytearray(b"GIF89a")
    out += _st.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    for i in range(256):
        out += bytes([i, i, i])  # grayscale palette
    # netscape loop extension (standard for animation)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"

    def lzw_literal(indices: bytes, min_code: int = 8) -> bytes:
        clear, end = 1 << min_code, (1 << min_code) + 1
        code_size = min_code + 1
        # emit CLEAR every (2^min_code − 4) literals so the decoder's
        # table never reaches the width-growth threshold
        burst = (1 << min_code) - 4
        acc = nbits = 0
        packed = bytearray()

        def emit(code: int) -> None:
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += code_size
            while nbits >= 8:
                packed.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(clear)
        for k, px in enumerate(indices):
            if k and k % burst == 0:
                emit(clear)
            emit(px)
        emit(end)
        if nbits:
            packed.append(acc & 0xFF)
        return bytes(packed)

    pass_order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    for frame, delay in zip(frames, delays_ms):
        out += b"\x21\xf9\x04\x00" + _st.pack("<H", delay // 10) + b"\x00\x00"
        out += b"\x2c" + _st.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0x00])
        out += bytes([8])  # LZW min code size
        rows_out = [frame[y] for y in pass_order] if interlace else frame
        data = lzw_literal(bytes(v for row in rows_out for v in row))
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def make_avi(
    frames: list[list[list[tuple[int, int, int]]]], fps: int = 10
) -> bytes:
    """Minimal uncompressed AVI writer: RIFF 'AVI ' with one 'vids'
    stream of BI_RGB 24-bit DIB frames ('00db' chunks, bottom-up BGR,
    4-byte row stride) plus a spec-complete idx1 index. INDEPENDENT of
    ``kernels.video_kernel`` (own writer ≠ parser).

    ``frames``: list of H×W rows of (r, g, b) tuples, equal dims, row 0 =
    top (the writer flips to DIB order itself)."""
    import struct as _st

    h = len(frames[0])
    w = len(frames[0][0])
    stride = (w * 3 + 3) & ~3
    frame_blobs = []
    for frame in frames:
        body = bytearray()
        for row in reversed(frame):  # DIB is bottom-up
            rb = bytearray()
            for r, g, b in row:
                rb += bytes((b, g, r))  # and BGR
            rb += b"\x00" * (stride - len(rb))
            body += rb
        frame_blobs.append(bytes(body))

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + _st.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    uspf = 1_000_000 // max(fps, 1)
    avih = _st.pack(
        "<14I", uspf, stride * h * fps, 0, 0x10, len(frames), 0, 1,
        stride * h, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vidsDIB "
        + _st.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames), stride * h, 0xFFFFFFFF, 0)
        + _st.pack("<4H", 0, 0, w, h)
    )
    strf = _st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(chunk(b"00db", blob) for blob in frame_blobs)
    movi = lst(b"movi", movi_body)
    # idx1: one entry per frame (offset from 'movi' fourcc, keyframe flag)
    idx = bytearray()
    off = 4
    for blob in frame_blobs:
        idx += b"00db" + _st.pack("<III", 0x10, off, len(blob))
        off += 8 + len(blob) + (len(blob) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + _st.pack("<I", len(body)) + body


def _jpeg_zigzag() -> list[tuple[int, int]]:
    """Spec zigzag order generated from its geometric rule (diagonal
    d = row+col ascending; odd diagonals walk row-increasing) — shared
    SEMANTICS with the decoder's constant table, independent code."""
    out = []
    for d in range(15):
        rows = list(range(max(0, d - 7), min(d, 7) + 1))
        for r in rows if d % 2 == 1 else reversed(rows):
            out.append((r, d - r))
    return out


class _JpegBitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 §B.1.1.5)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        for k in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> k) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.put(1, 1)  # pad with 1-bits per spec

    def restart(self, rst: int) -> None:
        """Flush the partial byte and append an RSTn marker (B.2.1.2)."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + rst])


def _jpeg_canonical(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) from a (BITS, HUFFVAL) spec pair."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


# Own Huffman specs (NOT Annex K — the decoder reads whatever DHT the
# file carries, so the writer is free to use its own canonical tables;
# multi-length layouts deliberately exercise the decoder's per-length
# walk). DC: all 12 size categories at 4 bits. AC: EOB/ZRL short, the
# 160 (run,size) symbols at 9 bits; the chroma variant shifts lengths.
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_SYMS = [(r << 4) | s for r in range(16) for s in range(1, 11)]
_JPEG_AC_BITS_Y = [0, 1, 1, 0, 0, 0, 0, 0, 160, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS_Y = [0x00, 0xF0] + _JPEG_AC_SYMS
_JPEG_AC_BITS_C = [0, 0, 1, 1, 0, 0, 0, 0, 160, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS_C = [0x00, 0xF0] + _JPEG_AC_SYMS


def _jpeg_quant_table(quality: int, chroma: bool) -> list[int]:
    """Own base tables (frequency-ramped) scaled by the public libjpeg
    quality rule: scale = 5000/q below 50 else 200−2q."""
    scale = 5000 // max(quality, 1) if quality < 50 else 200 - 2 * min(quality, 100)
    base = lambda u, v: (12 + 3 * (u + v)) if chroma else (10 + 2 * (u + v))
    out = []
    for u in range(8):
        for v in range(8):
            q = (base(u, v) * scale + 50) // 100
            out.append(max(1, min(q, 255)))
    return out


# Progressive-scan AC table: the 15 EOBn run codes (r=0..14, s=0) and ZRL
# at 5 bits, the 160 (run,size) symbols at 9 bits. Kraft: 16/32 + 160/512
# = 0.8125 ≤ 1. Baseline scans keep the tables above; progressive AC
# scans need EOBn (G.2.2) so they carry their own DHT.
_JPEG_AC_PROG_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 160, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_PROG_VALS = [r << 4 for r in range(15)] + [0xF0] + _JPEG_AC_SYMS


def _jpeg_sos(comps_sel: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    import struct as _st

    body = bytes([len(comps_sel)])
    for cid, td, ta in comps_sel:
        body += bytes([cid, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + _st.pack(">H", 2 + len(body)) + body


def _jpeg_prog_dc_first(stores, mcux, mcuy, al, dc_code, restart_interval):
    """G.2.1 DC-first scan: DPCM of (DC >> Al), interleaved over the MCU
    grid (single-component frames have an identical grid)."""
    bw = _JpegBitWriter()
    preds = [0] * len(stores)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * len(stores)
        my, mx = divmod(m, mcux)
        for ci, st_ in enumerate(stores):
            for by in range(st_["v"]):
                for bx in range(st_["h"]):
                    dc = st_["grid"][my * st_["v"] + by][mx * st_["h"] + bx][0] >> al
                    diff = dc - preds[ci]
                    preds[ci] = dc
                    size = abs(diff).bit_length()
                    code, ln = dc_code[size]
                    bw.put(code, ln)
                    if size:
                        bw.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
    bw.flush()
    return bytes(bw.out)


def _jpeg_prog_dc_refine(stores, mcux, mcuy, al, restart_interval):
    """DC refinement: one raw bit (bit Al of the DC coefficient) per
    block — no Huffman tables involved."""
    bw = _JpegBitWriter()
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.restart(rst)
            rst = (rst + 1) & 7
        my, mx = divmod(m, mcux)
        for st_ in stores:
            for by in range(st_["v"]):
                for bx in range(st_["h"]):
                    bw.put((st_["grid"][my * st_["v"] + by][mx * st_["h"] + bx][0] >> al) & 1, 1)
    bw.flush()
    return bytes(bw.out)


def _jpeg_prog_ac_first(blocks, ss, se, al, ac_code, restart_interval):
    """G.2.2 AC-first scan over one component's non-padded block grid:
    run/size coding of the point-transformed band plus EOBn run codes
    (a run of n end-of-band blocks → code r=⌊log2 n⌋ + r extra bits)."""
    bw = _JpegBitWriter()
    eobrun = 0
    rst = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = ac_code[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun - (1 << r), r)
            eobrun = 0

    for m, coef in enumerate(blocks):
        if restart_interval and m and m % restart_interval == 0:
            flush_eob()
            bw.restart(rst)
            rst = (rst + 1) & 7
        last = -1
        for k in range(ss, se + 1):
            if abs(coef[k]) >> al:
                last = k
        if last < 0:
            eobrun += 1
            if eobrun == 32767:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for k in range(ss, last + 1):
            a = abs(coef[k]) >> al
            if a == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_code[0xF0]
                bw.put(code, ln)
                run -= 16
            size = a.bit_length()
            code, ln = ac_code[(run << 4) | size]
            bw.put(code, ln)
            v = a if coef[k] >= 0 else -a
            bw.put(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if last < se:
            eobrun += 1
    flush_eob()
    bw.flush()
    return bytes(bw.out)


def _jpeg_prog_ac_refine(blocks, ss, se, al, ac_code, restart_interval):
    """G.2.3 AC refinement: newly-nonzero ±1 insertions with correction
    bits for already-nonzero coefficients interleaved at the exact walk
    positions the decoder reads them (after each code/ZRL it skips past),
    and EOB runs whose deferred correction bits flush with the run code."""
    bw = _JpegBitWriter()
    eobrun = 0
    pending: list[int] = []
    rst = 0

    def flush_eob():
        nonlocal eobrun, pending
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = ac_code[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun - (1 << r), r)
            for bit in pending:
                bw.put(bit, 1)
            pending = []
            eobrun = 0

    for m, coef in enumerate(blocks):
        if restart_interval and m and m % restart_interval == 0:
            flush_eob()
            bw.restart(rst)
            rst = (rst + 1) & 7
        last_new = -1
        for k in range(ss, se + 1):
            if (abs(coef[k]) >> (al + 1)) == 0 and (abs(coef[k]) >> al):
                last_new = k
        if last_new < 0:
            eobrun += 1
            pending.extend(
                (abs(coef[k]) >> al) & 1
                for k in range(ss, se + 1)
                if abs(coef[k]) >> (al + 1)
            )
            if eobrun == 32767:
                flush_eob()
            continue
        flush_eob()
        run = 0
        corr: list[int] = []
        for k in range(ss, last_new + 1):
            a = abs(coef[k]) >> al
            if abs(coef[k]) >> (al + 1):  # nonzero history → correction bit
                corr.append(a & 1)
            elif a == 0:
                run += 1
                if run == 16:  # eager ZRL keeps bit/position interleave exact
                    code, ln = ac_code[0xF0]
                    bw.put(code, ln)
                    for bit in corr:
                        bw.put(bit, 1)
                    corr = []
                    run = 0
            else:  # newly nonzero (magnitude exactly 1 at this precision)
                code, ln = ac_code[(run << 4) | 1]
                bw.put(code, ln)
                bw.put(1 if coef[k] > 0 else 0, 1)
                for bit in corr:
                    bw.put(bit, 1)
                corr = []
                run = 0
        if last_new < se:
            eobrun += 1
            pending.extend(
                (abs(coef[k]) >> al) & 1
                for k in range(last_new + 1, se + 1)
                if abs(coef[k]) >> (al + 1)
            )
    flush_eob()
    bw.flush()
    return bytes(bw.out)


def make_jpeg(
    pixels: list[list],
    color: str = "rgb",
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """JFIF writer (spec-based, INDEPENDENT of ``kernels/jpeg_kernel.py``
    — own zigzag generation, own Huffman specs, own fDCT, own progressive
    scan-script emitter; writer ≠ parser). ``pixels`` follows the
    :func:`make_png` convention: rows of (r, g, b) tuples (``color=
    'rgb'``) or gray ints (``color='gray'``). ``subsample=True`` emits
    4:2:0 (Y 2×2, chroma 1×1); ``restart_interval`` (in MCUs, honored in
    every scan) emits DRI + RSTn resync markers. ``progressive=True``
    emits SOF2 with a full §G script — interleaved DC first (Al=1),
    per-component spectral-selection AC first scans (Y split 1-5/6-63,
    chroma 1-63, Al=1), DC refine, AC refine (Ah=1→Al=0) — over the SAME
    quantized coefficients as the baseline path, so a progressive encode
    decodes bit-identically to its baseline twin (tests/test_jpeg.py).
    Lossy by construction — pixel round-trips vs the input are
    quality-bounded, not byte-exact."""
    import struct as _st

    import numpy as np

    h = len(pixels)
    w = len(pixels[0]) if h else 0
    if not h or not w:
        raise ValueError("empty image")
    if color == "gray":
        arr = np.array(pixels, dtype=np.float64)
        comps = [("Y", arr, 0, (1, 1))]
        ncomp = 1
    else:
        rgb = np.array(
            [[list(px) for px in row] for row in pixels], dtype=np.float64
        )
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            # pad to even dims, then 2×2 box mean
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            cb = (cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2] + cbp[1::2, 1::2]) / 4.0
            cr = (crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2] + crp[1::2, 1::2]) / 4.0
            comps = [("Y", y, 0, (2, 2)), ("Cb", cb, 1, (1, 1)), ("Cr", cr, 1, (1, 1))]
        else:
            comps = [("Y", y, 0, (1, 1)), ("Cb", cb, 1, (1, 1)), ("Cr", cr, 1, (1, 1))]
        ncomp = 3

    hmax = max(c[3][0] for c in comps)
    vmax = max(c[3][1] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # orthonormal DCT-II matrix, built here independently
    xs = np.arange(8, dtype=np.float64)
    T = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16.0) * 0.5
    T[0, :] = np.sqrt(0.125)

    zz = _jpeg_zigzag()
    qtabs = {0: _jpeg_quant_table(quality, False)}
    if ncomp == 3:
        qtabs[1] = _jpeg_quant_table(quality, True)
    dc_code = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = {0: _jpeg_canonical(_JPEG_AC_BITS_Y, _JPEG_AC_VALS_Y)}
    if ncomp == 3:
        ac_codes[1] = _jpeg_canonical(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)

    # pad every plane to its own MCU-aligned size (edge replication)
    planes = []
    for name, plane, tq, (ch, cv) in comps:
        ph, pw = mcuy * 8 * cv, mcux * 8 * ch
        padded = np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )
        planes.append((name, padded, tq, ch, cv))

    def quant_block(block, q):
        f = T @ (block - 128.0) @ T.T
        coef = []
        for k, (u, v) in enumerate(zz):
            x = f[u, v] / q[k]
            coef.append(int(np.floor(x + 0.5)) if x >= 0 else -int(np.floor(-x + 0.5)))
        return coef

    def encode_block(bw, block, q, pred, ac_code):
        coef = quant_block(block, q)
        diff = coef[0] - pred
        size = abs(diff).bit_length()
        code, length = dc_code[size]
        bw.put(code, length)
        if size:
            bw.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
        run = 0
        last_nz = 0
        for k in range(1, 64):
            if coef[k]:
                last_nz = k
        for k in range(1, last_nz + 1):
            if coef[k] == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_code[0xF0]
                bw.put(c, ln)
                run -= 16
            size = abs(coef[k]).bit_length()
            c, ln = ac_code[(run << 4) | size]
            bw.put(c, ln)
            v = coef[k]
            bw.put(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if last_nz < 63:
            c, ln = ac_code[0x00]
            bw.put(c, ln)
        return coef[0]

    scans: list[tuple[bytes, bytes]] = []  # (SOS segment, entropy bytes)
    if not progressive:
        bw = _JpegBitWriter()
        preds = {name: 0 for name, *_ in planes}
        rst = 0
        for m in range(mcux * mcuy):
            if restart_interval and m and m % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                preds = {name: 0 for name, *_ in planes}
            my, mx = divmod(m, mcux)
            for name, padded, tq, ch, cv in planes:
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        preds[name] = encode_block(
                            bw,
                            padded[y0 : y0 + 8, x0 : x0 + 8],
                            qtabs[tq],
                            preds[name],
                            ac_codes[tq],
                        )
        bw.flush()
        # baseline: one interleaved full-band scan (AC table = quant id)
        scans.append(
            (
                _jpeg_sos(
                    [(ci + 1, 0, tq) for ci, (_n, _p, tq, _ch, _cv) in enumerate(planes)],
                    0, 63, 0, 0,
                ),
                bytes(bw.out),
            )
        )
    else:
        # quantize every padded-grid block once; all scans read the store
        stores = []
        for name, padded, tq, ch, cv in planes:
            grid = [
                [
                    quant_block(
                        padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], qtabs[tq]
                    )
                    for bx in range(mcux * ch)
                ]
                for by in range(mcuy * cv)
            ]
            # non-interleaved AC scans cover only the component's own
            # (non-padded) block grid — A.2.2, mirrored by the decoder
            sw = -(-w * ch // hmax)
            sh = -(-h * cv // vmax)
            stores.append(
                {"grid": grid, "tq": tq, "h": ch, "v": cv,
                 "nbw": -(-sw // 8), "nbh": -(-sh // 8)}
            )
        prog_ac = {0: _jpeg_canonical(_JPEG_AC_PROG_BITS, _JPEG_AC_PROG_VALS)}
        if ncomp == 3:
            prog_ac[1] = prog_ac[0]
        all_sel = [(ci + 1, 0, st_["tq"]) for ci, st_ in enumerate(stores)]
        bands = {0: ((1, 5), (6, 63))}  # Y split; chroma/gray full band
        scans.append(
            (
                _jpeg_sos(all_sel, 0, 0, 0, 1),
                _jpeg_prog_dc_first(stores, mcux, mcuy, 1, dc_code, restart_interval),
            )
        )
        for ci, st_ in enumerate(stores):
            sub = [
                st_["grid"][by][bx]
                for by in range(st_["nbh"])
                for bx in range(st_["nbw"])
            ]
            for s0, s1 in bands.get(ci if ncomp == 3 else -1, ((1, 63),)):
                scans.append(
                    (
                        _jpeg_sos([(ci + 1, 0, st_["tq"])], s0, s1, 0, 1),
                        _jpeg_prog_ac_first(
                            sub, s0, s1, 1, prog_ac[st_["tq"]], restart_interval
                        ),
                    )
                )
        scans.append(
            (
                _jpeg_sos(all_sel, 0, 0, 1, 0),
                _jpeg_prog_dc_refine(stores, mcux, mcuy, 0, restart_interval),
            )
        )
        for ci, st_ in enumerate(stores):
            sub = [
                st_["grid"][by][bx]
                for by in range(st_["nbh"])
                for bx in range(st_["nbw"])
            ]
            for s0, s1 in bands.get(ci if ncomp == 3 else -1, ((1, 63),)):
                scans.append(
                    (
                        _jpeg_sos([(ci + 1, 0, st_["tq"])], s0, s1, 1, 0),
                        _jpeg_prog_ac_refine(
                            sub, s0, s1, 0, prog_ac[st_["tq"]], restart_interval
                        ),
                    )
                )

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + _st.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, tbl in qtabs.items():
        out += b"\xff\xdb" + _st.pack(">H", 67) + bytes([tq]) + bytes(tbl)
    sof = bytes([8]) + _st.pack(">HH", h, w) + bytes([ncomp])
    for ci, (name, _plane, tq, ch, cv) in enumerate(planes):
        sof += bytes([ci + 1, (ch << 4) | cv, tq])
    out += (b"\xff\xc2" if progressive else b"\xff\xc0") + _st.pack(">H", 2 + len(sof)) + sof
    dhts = [(0, 0, _JPEG_DC_BITS, _JPEG_DC_VALS)]
    if progressive:
        dhts.append((1, 0, _JPEG_AC_PROG_BITS, _JPEG_AC_PROG_VALS))
        if ncomp == 3:
            dhts.append((1, 1, _JPEG_AC_PROG_BITS, _JPEG_AC_PROG_VALS))
    else:
        dhts.append((1, 0, _JPEG_AC_BITS_Y, _JPEG_AC_VALS_Y))
        if ncomp == 3:
            dhts.append((1, 1, _JPEG_AC_BITS_C, _JPEG_AC_VALS_C))
    for tc, th, bits, vals in dhts:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + _st.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + _st.pack(">H", 4) + _st.pack(">H", restart_interval)
    for sos_seg, entropy in scans:
        out += sos_seg
        out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def make_jpeg_lossless(
    pixels: list[list],
    color: str = "rgb",
    predictor: int = 4,
    pt: int = 0,
) -> bytes:
    """Lossless JPEG writer (SOF3, T.81 Annex H) — spec-based and
    INDEPENDENT of the kernel decoder. Per sample: difference from the
    prediction ``Px`` (selector 1-7; first line/column fall back per
    H.1.2.1) coded as a DC-style Huffman size category + magnitude bits.
    ``pt`` is the point transform (samples coded as ``value >> pt``).
    No color transform exists in lossless mode: 3-component frames carry
    R,G,B in component order. The round-trip is BYTE-EXACT — the one
    JPEG mode with a writer-pixel equality oracle (tests/test_jpeg.py)."""
    import struct as _st

    if not (1 <= predictor <= 7) or not (0 <= pt <= 7):
        raise ValueError("bad predictor/point transform")
    h = len(pixels)
    w = len(pixels[0]) if h else 0
    if not h or not w:
        raise ValueError("empty image")
    if color == "gray":
        planes = [[[int(v) >> pt for v in row] for row in pixels]]
    else:
        planes = [
            [[int(px[ch]) >> pt for px in row] for row in pixels]
            for ch in range(3)
        ]
    default = 1 << (8 - pt - 1)
    dc_code = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    bw = _JpegBitWriter()
    for y in range(h):
        for x in range(w):
            for plane in planes:
                if y == 0:
                    px = default if x == 0 else plane[0][x - 1]
                elif x == 0:
                    px = plane[y - 1][0]
                else:
                    ra, rb, rc = plane[y][x - 1], plane[y - 1][x], plane[y - 1][x - 1]
                    px = {
                        1: ra,
                        2: rb,
                        3: rc,
                        4: ra + rb - rc,
                        5: ra + ((rb - rc) >> 1),
                        6: rb + ((ra - rc) >> 1),
                        7: (ra + rb) >> 1,
                    }[predictor]
                diff = plane[y][x] - px
                size = abs(diff).bit_length()
                code, length = dc_code[size]
                bw.put(code, length)
                if size:
                    bw.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
    bw.flush()
    out = bytearray(b"\xff\xd8")  # SOI; no APP0 — lossless is not JFIF/YCbCr
    body = bytes([0]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    out += b"\xff\xc4" + _st.pack(">H", 2 + len(body)) + body
    sof = bytes([8]) + _st.pack(">HH", h, w) + bytes([len(planes)])
    for ci in range(len(planes)):
        sof += bytes([ci + 1, 0x11, 0])  # Tq=0, unused in lossless frames
    out += b"\xff\xc3" + _st.pack(">H", 2 + len(sof)) + sof
    out += _jpeg_sos(
        [(ci + 1, 0, 0) for ci in range(len(planes))], predictor, 0, 0, pt
    )
    out += bytes(bw.out)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _tiff_packbits_encode(row: bytes) -> bytes:
    """PackBits one row (compression is row-bounded per spec guidance):
    greedy runs — repeats of ≥2 become replicate packets, the rest
    literal packets of ≤128."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        # measure the repeat run at i
        j = i + 1
        while j < n and j - i < 128 and row[j] == row[i]:
            j += 1
        if j - i >= 2:
            out += bytes([257 - (j - i), row[i]])
            i = j
            continue
        # literal run: until the next ≥2 repeat or 128 bytes
        j = i + 1
        while j < n and j - i < 128 and not (j + 1 < n and row[j] == row[j + 1]):
            j += 1
        out += bytes([j - i - 1]) + row[i:j]
        i = j
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF LZW encoder (spec §13, early change: the code width grows
    when the next free entry reaches 2^width — the decoder, one table
    entry behind, grows at 2^width − 1). MSB-first bit packing."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    free_ent = 258
    width = 9
    put(CLEAR, width)
    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        put(table[cur], width)
        table[nxt] = free_ent
        free_ent += 1
        if free_ent == (1 << width) and width < 12:
            width += 1
        cur = bytes([byte])
        if free_ent == 4094:  # leave headroom, reset the table
            put(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            free_ent = 258
            width = 9
    if cur:
        put(table[cur], width)
        # the decoder adds one more table entry after this final code
        # (it trails the encoder by one) and may widen — EOI must be
        # written at the width the decoder will read it with
        if free_ent == (1 << width) - 1 and width < 12:
            width += 1
    put(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def make_tiff(
    pixels: list[list],
    color: str = "rgb",
    compression: str = "none",
    predictor: bool = False,
    byte_order: str = "<",
    rows_per_strip: int = 0,
    white_is_zero: bool = False,
    tiles: tuple[int, int] | None = None,
) -> bytes:
    """Baseline TIFF 6.0 writer (spec-based, INDEPENDENT of
    ``kernels/tiff_kernel.py`` — own IFD layout, own PackBits/LZW
    encoders; writer ≠ parser). ``pixels`` follows the ``make_png``
    convention. ``compression``: none / packbits / lzw; ``predictor``
    (horizontal differencing, LZW only); ``byte_order``: '<' (II) or
    '>' (MM); ``rows_per_strip`` 0 = single strip; ``tiles=(tw, tl)``
    emits the tiled layout (TileWidth/Length/Offsets/ByteCounts, edge
    tiles written full-size per spec; 8-bit colors only);
    ``color='bilevel'`` packs 1-bit rows MSB-first (Photometric 0/1,
    the fax/scan shape). TIFF is lossless — round-trips are byte-exact
    (tests/test_tiff.py)."""
    import struct as _st

    comp_id = {"none": 1, "packbits": 32773, "lzw": 5}[compression]
    if predictor and comp_id != 5:
        raise ValueError("predictor requires lzw")
    h = len(pixels)
    w = len(pixels[0]) if h else 0
    if not h or not w:
        raise ValueError("empty image")
    colormap: list[int] | None = None
    if color == "palette":
        # palette-color (Photometric 3): unique RGB tuples → index plane
        # + a 3×256 16-bit ColorMap (channel c expands as c*257, the
        # canonical 8→16-bit widening)
        spp = 1
        uniq: dict[tuple[int, int, int], int] = {}
        for row in pixels:
            for px in row:
                key = (int(px[0]), int(px[1]), int(px[2]))
                if key not in uniq:
                    uniq[key] = len(uniq)
        if len(uniq) > 256:
            raise ValueError("palette image with >256 unique colors")
        rows = [
            bytes(uniq[(int(px[0]), int(px[1]), int(px[2]))] for px in row)
            for row in pixels
        ]
        pal = [(0, 0, 0)] * 256
        for rgb, i in uniq.items():
            pal[i] = rgb
        colormap = (
            [c[0] * 257 for c in pal]
            + [c[1] * 257 for c in pal]
            + [c[2] * 257 for c in pal]
        )
        photo = 3
    elif color == "bilevel":
        if tiles or predictor:
            raise ValueError("bilevel is strip-organized, no predictor")
        spp = 1
        rows = []
        for row in pixels:
            bits = [1 if int(v) >= 128 else 0 for v in row]
            if white_is_zero:
                bits = [1 - b for b in bits]
            packed = bytearray((len(bits) + 7) // 8)
            for i, bit in enumerate(bits):
                if bit:
                    packed[i >> 3] |= 0x80 >> (i & 7)
            rows.append(bytes(packed))
        photo = 0 if white_is_zero else 1
    elif color == "gray":
        spp = 1
        rows = [bytes((int(v) & 0xFF) for v in row) for row in pixels]
        if white_is_zero:
            rows = [bytes(255 - v for v in row) for row in rows]
        photo = 0 if white_is_zero else 1
    else:
        spp = 3
        rows = [
            bytes(c for px in row for c in (int(px[0]), int(px[1]), int(px[2])))
            for row in pixels
        ]
        photo = 2
    def _diff(byte_rows: list[bytes]) -> list[bytes]:
        # horizontal differencing per row, channel-wise, mod 256
        return [
            bytes(
                (row[i] - (row[i - spp] if i >= spp else 0)) & 0xFF
                for i in range(len(row))
            )
            for row in byte_rows
        ]

    def _compress_rows(byte_rows: list[bytes]) -> bytes:
        raw = b"".join(byte_rows)
        if comp_id == 5:
            return _tiff_lzw_encode(raw)
        if comp_id == 32773:
            return b"".join(_tiff_packbits_encode(r) for r in byte_rows)
        return raw

    if tiles is not None:
        if color == "bilevel":
            raise ValueError("tiled bilevel not emitted")
        tw, tl = tiles
        across = (w + tw - 1) // tw
        down = (h + tl - 1) // tl
        full = across * tw * spp
        padded = [r + b"\x00" * (full - len(r)) for r in rows]
        padded += [b"\x00" * full] * (down * tl - h)
        strips = []
        for ty in range(down):
            for tx in range(across):
                trows = [
                    padded[ty * tl + j][tx * tw * spp : (tx + 1) * tw * spp]
                    for j in range(tl)
                ]
                if predictor:
                    trows = _diff(trows)  # predictor resets per tile
                strips.append(_compress_rows(trows))
        rps = 0
    else:
        if predictor:
            rows = _diff(rows)
        rps = rows_per_strip or h
        strips = [
            _compress_rows(rows[s0 : s0 + rps]) for s0 in range(0, h, rps)
        ]

    # layout: 8-byte header | strip data (word-aligned) | IFD | overflow
    strip_offsets = []
    pos = 8
    body = bytearray()
    for s in strips:
        strip_offsets.append(pos)
        body += s
        pos += len(s)
        if pos % 2:  # keep offsets word-aligned per spec
            body += b"\x00"
            pos += 1
    ifd_off = pos

    entries: list[tuple[int, int, list[int]]] = [  # (tag, type, values)
        (256, 4, [w]),
        (257, 4, [h]),
        (258, 3, [1 if color == "bilevel" else 8] * spp),
        (259, 3, [comp_id]),
        (262, 3, [photo]),
        (277, 3, [spp]),
    ]
    if tiles is not None:
        entries += [
            (322, 4, [tiles[0]]),
            (323, 4, [tiles[1]]),
            (324, 4, strip_offsets),
            (325, 4, [len(s) for s in strips]),
        ]
    else:
        entries += [
            (273, 4, strip_offsets),
            (278, 4, [rps]),
            (279, 4, [len(s) for s in strips]),
        ]
    if predictor:
        entries.append((317, 3, [2]))
    if colormap is not None:
        entries.append((320, 3, colormap))
    entries.sort()
    tsize = {3: 2, 4: 4}
    tfmt = {3: "H", 4: "I"}
    overflow = bytearray()
    ov_base = ifd_off + 2 + 12 * len(entries) + 4
    ifd = bytearray(_st.pack(byte_order + "H", len(entries)))
    for tag, typ, vals in entries:
        packed = _st.pack(byte_order + tfmt[typ] * len(vals), *vals)
        ifd += _st.pack(byte_order + "HHI", tag, typ, len(vals))
        if len(packed) <= 4:
            ifd += packed + b"\x00" * (4 - len(packed))
        else:
            ifd += _st.pack(byte_order + "I", ov_base + len(overflow))
            overflow += packed
            if len(overflow) % 2:
                overflow += b"\x00"
    ifd += _st.pack(byte_order + "I", 0)  # no next IFD
    magic = b"II*\x00" if byte_order == "<" else b"MM\x00*"
    header = magic + _st.pack(byte_order + "I", ifd_off)
    return bytes(header + body + ifd + overflow)


def make_media_row(i: int, seed: int = _SEED_DEFAULT) -> dict:
    """Row *i* of the synthetic media table — index-pure like
    :func:`make_page`. Mix: document scans (upright + writer-rotated),
    photo noise, and undecodable junk (the containment path).

    The returned dict also carries ``pixels`` — the writer-side RGB rows
    that were encoded (None for junk). That is the PRE-ENCODING ground
    truth the m3 DuckDB oracle recomputes pixel math from (the m1
    side-parquet pattern): if the repo's BMP/PNG decoders mangled a byte,
    the Spark side would diverge from the oracle. The rng draw order is
    byte-locked: payloads are identical to earlier revisions of this
    generator (hash-pinned in tests/test_image_prep.py)."""
    rng = random.Random(f"{seed}:media:{i}")
    fmt = rng.choice(["png", "bmp"])
    u = rng.random()
    pixels: list | None = None
    if u < 0.45:
        kind = "doc"
        # paper-like aspect (the K15 window): w/h ∈ [0.66, 0.74]
        h = rng.randint(66, 100)
        w = int(h * (0.66 + 0.08 * rng.random()))
        # inlined make_document_image (same draw order) to expose pixels
        pixels = _document_pixels(rng, w, h)
        if fmt == "bmp":
            payload = make_bmp(pixels, top_down=rng.random() < 0.5)
        else:
            payload = make_png(
                pixels, "rgb", [rng.choice([0, 1, 2, 3, 4]) for _ in range(h)]
            )
    elif u < 0.55:
        kind = "doc_rot"
        # writer-side 90° rotation of the pixel lists before encoding
        # (no kernel code involved — own writer ≠ parser)
        rows = _document_pixels(rng, 56, 78)
        pixels = [
            [rows[y][x] for y in range(len(rows))]
            for x in range(len(rows[0]) - 1, -1, -1)
        ]
        payload = make_bmp(pixels) if fmt == "bmp" else make_png(pixels, "rgb")
    elif u < 0.9:
        kind = "noise"
        w, h = rng.randint(30, 90), rng.randint(30, 90)
        # inlined make_noise_image (same draw order) to expose pixels
        pixels = [
            [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w)]
            for _ in range(h)
        ]
        payload = make_bmp(pixels) if fmt == "bmp" else make_png(pixels, "rgb")
    else:
        kind = "junk"
        payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(8, 120)))
    return {
        "url": f"https://media.example.com/{kind}/{i}.{fmt}",
        "payload": payload,
        "kind": kind,
        "pixels": pixels,
    }


MEDIA_SCHEMA = "url string, payload binary, kind string"


def generate_media_df(spark, n: int, seed: int = _SEED_DEFAULT):
    """Deterministic media table for the K14-K16 operators (small n —
    driver-built; the operators themselves are partition-parallel)."""
    rows = [make_media_row(i, seed) for i in range(n)]
    return spark.createDataFrame(
        [(r["url"], r["payload"], r["kind"]) for r in rows], MEDIA_SCHEMA
    )


def make_webp(w: int, h: int, variant: str = "vp8x", tail: bytes = b"") -> bytes:
    """Independent RIFF/WebP header writer (writer ≠ parser, like every
    kernel): VP8X extended header (24-bit LE canvas minus-one), 'VP8 '
    lossy frame header (9D 01 2A start code + 14-bit LE dims), or VP8L
    (0x2F signature + packed 14-bit minus-one dims)."""
    if variant == "vp8x":
        chunk = (
            b"VP8X" + (10).to_bytes(4, "little")
            + bytes([0, 0, 0, 0])
            + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
        )
    elif variant == "vp8":
        data = (
            b"\x00\x00\x00"  # frame tag (keyframe, version 0, show)
            + b"\x9d\x01\x2a"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + tail
        )
        chunk = b"VP8 " + len(data).to_bytes(4, "little") + data
    elif variant == "vp8l":
        bits = (w - 1) | ((h - 1) << 14)
        data = b"\x2f" + bits.to_bytes(4, "little") + tail
        chunk = b"VP8L" + len(data).to_bytes(4, "little") + data
    else:
        raise ValueError(variant)
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def make_heic(w: int, h: int, brand: bytes = b"heic", tail: bytes = b"") -> bytes:
    """Independent ISOBMFF HEIC/HEIF writer: ftyp + meta(FullBox) →
    hdlr('pict') → iprp → ipco → ispe(width, height). Spec box layout,
    not a copy of the kernel's walk."""

    def box(typ: bytes, content: bytes) -> bytes:
        return (8 + len(content)).to_bytes(4, "big") + typ + content

    ftyp = box(b"ftyp", brand + (0).to_bytes(4, "big") + brand + b"mif1")
    hdlr = box(
        b"hdlr", (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
        + b"pict" + b"\x00" * 12 + b"\x00"
    )
    ispe = box(
        b"ispe", (0).to_bytes(4, "big")
        + w.to_bytes(4, "big") + h.to_bytes(4, "big")
    )
    iprp = box(b"iprp", box(b"ipco", ispe))
    meta = box(b"meta", (0).to_bytes(4, "big") + hdlr + iprp)
    return ftyp + meta + (box(b"mdat", tail) if tail else b"")


def _image_doc(rng: random.Random) -> bytes:
    import struct as _struct

    w, h = rng.randint(16, 4000), rng.randint(16, 4000)
    body = bytes(rng.getrandbits(8) for _ in range(rng.randint(64, 2048)))
    kind = rng.random()
    if kind < 0.35:  # PNG
        return (
            b"\x89PNG\r\n\x1a\n" + _struct.pack(">I", 13) + b"IHDR"
            + _struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + body
        )
    if kind < 0.6:  # GIF
        return b"GIF89a" + _struct.pack("<HH", w % 65536, h % 65536) + body
    if kind < 0.8:  # BMP
        return b"BM" + b"\x00" * 16 + _struct.pack("<ii", w, h) + b"\x00" * 8 + body
    if kind < 0.9:  # JPEG with SOF0
        return (
            b"\xff\xd8\xff\xe0" + _struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + _struct.pack(">H", 17) + b"\x08"
            + _struct.pack(">HH", h % 65536, w % 65536) + b"\x03" + b"\x00" * 9
            + body + b"\xff\xd9"
        )
    # r4: the former 10% corrupt tail subdivides — webp/heic carved from
    # kind ∈ [0.9, 0.97) so every page with kind < 0.9 keeps identical
    # bytes (the index-pure corpus stays stable for existing rows)
    if kind < 0.94:  # WebP (all three header variants)
        variant = ("vp8x", "vp8", "vp8l")[rng.randint(0, 2)]
        return make_webp(w % 16384, h % 16384, variant, tail=body[:64])
    if kind < 0.97:  # HEIC/HEIF
        brand = (b"heic", b"heif", b"mif1")[rng.randint(0, 2)]
        return make_heic(w, h, brand, tail=body[:64])
    return b"\xff\xd8\xff\x00" + body[:8]  # corrupt JPEG → literal fallback


def _zip_fixed(entries: dict[str, str]) -> bytes:
    """Deterministic zip: fixed DOS timestamp, stored (no compression) —
    payload bytes are a pure function of the entries (index-purity)."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        for name, content in entries.items():
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            z.writestr(info, content)
    return buf.getvalue()


_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_P_NS = (
    'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
    'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
)
_X_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_T_NS = (
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
)


def _docx_doc(rng: random.Random) -> bytes:
    paras = "".join(
        f"<w:p><w:r><w:t>{_paragraph(rng)}</w:t></w:r></w:p>"
        for _ in range(rng.randint(2, 15))
    )
    tbl = ""
    if rng.random() < 0.4:
        rows = "".join(
            "<w:tr>" + "".join(
                f"<w:tc><w:p><w:r><w:t>{rng.choice(_WORDS)}</w:t></w:r></w:p></w:tc>"
                for _ in range(3)
            ) + "</w:tr>"
            for _ in range(rng.randint(2, 5))
        )
        tbl = f"<w:tbl>{rows}</w:tbl>"
    return _zip_fixed({
        "word/document.xml":
            f"<w:document {_W_NS}><w:body>{paras}{tbl}</w:body></w:document>",
    })


def _pptx_doc(rng: random.Random) -> bytes:
    entries = {}
    for s in range(1, rng.randint(2, 6)):
        texts = "".join(
            f"<p:sp><p:txBody><a:p><a:r><a:t>{_sentence(rng, rng.randint(3, 8))}"
            "</a:t></a:r></a:p></p:txBody></p:sp>"
            for _ in range(rng.randint(1, 4))
        )
        entries[f"ppt/slides/slide{s}.xml"] = (
            f"<p:sld {_P_NS}><p:cSld><p:spTree>{texts}</p:spTree></p:cSld></p:sld>"
        )
    return _zip_fixed(entries)


def _xlsx_doc(rng: random.Random) -> bytes:
    strings = [rng.choice(_WORDS) for _ in range(rng.randint(2, 8))]
    sst = "".join(f"<si><t>{s}</t></si>" for s in strings)
    rows = "".join(
        f'<row r="{r}">' + "".join(
            (f'<c r="{chr(65 + c)}{r}" t="s"><v>{rng.randrange(len(strings))}</v></c>'
             if rng.random() < 0.5
             else f'<c r="{chr(65 + c)}{r}"><v>{rng.randint(0, 9999)}</v></c>')
            for c in range(3)
        ) + "</row>"
        for r in range(1, rng.randint(3, 12))
    )
    return _zip_fixed({
        "xl/workbook.xml":
            f'<workbook {_X_NS}><sheets><sheet name="S1" sheetId="1"/></sheets></workbook>',
        "xl/sharedStrings.xml": f"<sst {_X_NS}>{sst}</sst>",
        "xl/worksheets/sheet1.xml":
            f"<worksheet {_X_NS}><sheetData>{rows}</sheetData></worksheet>",
    })


def _odf_doc(rng: random.Random) -> bytes:
    heads = "".join(
        f'<text:h text:outline-level="{rng.randint(1, 3)}">{_sentence(rng, 4)[:-1]}</text:h>'
        for _ in range(rng.randint(0, 3))
    )
    paras = "".join(
        f"<text:p>{_paragraph(rng)}</text:p>" for _ in range(rng.randint(2, 10))
    )
    return _zip_fixed({
        "content.xml":
            f"<office:document-content {_T_NS}><office:body><office:text>"
            f"{heads}{paras}</office:text></office:body></office:document-content>",
    })


def _epub_doc(rng: random.Random) -> bytes:
    nch = rng.randint(1, 4)
    entries = {
        "META-INF/container.xml":
            '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            '<rootfiles><rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/></rootfiles></container>',
        "OEBPS/content.opf":
            '<package xmlns="http://www.idpf.org/2007/opf" '
            'xmlns:dc="http://purl.org/dc/elements/1.1/">'
            f"<metadata><dc:title>{_sentence(rng, 3)[:-1]}</dc:title>"
            f"<dc:creator>{rng.choice(_WORDS)}</dc:creator></metadata>"
            "<manifest>" + "".join(
                f'<item id="c{i}" href="ch{i}.xhtml" media-type="application/xhtml+xml"/>'
                for i in range(1, nch + 1)
            ) + "</manifest><spine>" + "".join(
                f'<itemref idref="c{i}"/>' for i in range(1, nch + 1)
            ) + "</spine></package>",
    }
    for i in range(1, nch + 1):
        entries[f"OEBPS/ch{i}.xhtml"] = (
            f"<html><body><h1>{_sentence(rng, 3)[:-1]}</h1>"
            f"<p>{_paragraph(rng)}</p></body></html>"
        )
    return _zip_fixed(entries)


def make_xls(
    sheets: list[tuple[str, list[list[object]]]], max_record: int = 8224
) -> bytes:
    """Minimal BIFF8 .xls writer: an OLE2/CFB v3 container holding one
    'Workbook' stream (globals: BOF + BOUNDSHEETs + SST + EOF; per sheet:
    BOF + LABELSST/NUMBER cells + EOF). INDEPENDENT of
    ``kernels.xls_kernel`` (own-writer ≠ parser principle, like the PDF
    pair): this builds records/containers from the spec, the kernel parses
    them from the spec, and the goldens lock the meeting point.

    ``sheets``: [(name, rows)] where each row is a list of str / int /
    float cells. Strings must be latin-1-safe (the generator's word list
    is ASCII). Deterministic: no timestamps, insertion-ordered SST.

    ``max_record`` caps the SST record body (spec cap 8224): an SST
    exceeding it is emitted as SST + CONTINUE records, split between
    strings or mid-character-array with the spec's re-declared option
    byte on the continuation fragment — the standard BIFF8 shape real
    workbooks have (ADVICE r2 #5). Tests pass a tiny cap to force splits;
    the default never splits the small synthetic corpus, keeping corpus
    bytes stable.
    """
    import struct as _st

    def rec(op: int, body: bytes) -> bytes:
        return _st.pack("<HH", op, len(body)) + body

    def sst_frags(strs: list[str], refs: int) -> list[bytes]:
        """SST body fragments: [0]=SST record body, [1:]=CONTINUE bodies.
        Split points: between strings (continuation starts with the next
        string header) or inside a char array (continuation starts with a
        fresh option byte — 0x00, compressed)."""
        frags: list[bytes] = []
        cur = bytearray(_st.pack("<II", refs, len(strs)))
        for s in strs:
            data = s.encode("latin-1")
            header = _st.pack("<HB", len(s), 0)
            if len(cur) + len(header) > max_record:
                frags.append(bytes(cur))
                cur = bytearray()
            cur += header
            pos = 0
            while pos < len(data):
                room = max_record - len(cur)
                if room <= 0:
                    frags.append(bytes(cur))
                    cur = bytearray(b"\x00")  # continuation option byte
                    room = max_record - 1
                take = min(room, len(data) - pos)
                cur += data[pos : pos + take]
                pos += take
        frags.append(bytes(cur))
        return frags

    # shared-string table, insertion-ordered
    strings: list[str] = []
    sidx: dict[str, int] = {}
    n_refs = 0
    for _, rows in sheets:
        for row in rows:
            for v in row:
                if isinstance(v, str):
                    n_refs += 1
                    if v not in sidx:
                        sidx[v] = len(strings)
                        strings.append(v)

    bof_globals = rec(0x0809, _st.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    bof_sheet = _st.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0)
    frags = sst_frags(strings, n_refs)
    sst_blob = b"".join(
        rec(0x00FC if i == 0 else 0x003C, f) for i, f in enumerate(frags)
    )

    sheet_blobs = []
    for _name, rows in sheets:
        cells = b""
        for r, row in enumerate(rows):
            for c, v in enumerate(row):
                if isinstance(v, str):
                    cells += rec(0x00FD, _st.pack("<HHHI", r, c, 0, sidx[v]))
                else:
                    cells += rec(0x0203, _st.pack("<HHHd", r, c, 0, float(v)))
        sheet_blobs.append(rec(0x0809, bof_sheet) + cells + rec(0x000A, b""))

    # globals size is position-dependent (BOUNDSHEET carries each sheet's
    # absolute stream offset) but its own length is fixed once names are
    # known — compute it, then lay the sheets out after it
    def boundsheet(pos: int, name: str) -> bytes:
        nb = name.encode("latin-1")
        return rec(0x0085, _st.pack("<IHBB", pos, 0, len(nb), 0) + nb)

    globals_len = (
        len(bof_globals)
        + sum(len(boundsheet(0, name)) for name, _ in sheets)
        + len(sst_blob)
        + 4  # EOF
    )
    positions = []
    off = globals_len
    for blob in sheet_blobs:
        positions.append(off)
        off += len(blob)
    stream = (
        bof_globals
        + b"".join(boundsheet(p, name) for p, (name, _) in zip(positions, sheets))
        + sst_blob
        + rec(0x000A, b"")
        + b"".join(sheet_blobs)
    )
    return _cfb_build({"Workbook": stream})


def make_msg(sender: str, to: str, subject: str, body: str) -> bytes:
    """Minimal Outlook .msg writer: MAPI property streams
    (``__substg1.0_PPPP001F``, UTF-16LE) inside a CFB container — the
    properties ``kernels.msg_kernel`` surfaces (sender 0C1A, to 0E04,
    subject 0037, body 1000). Small streams land in the mini-stream, per
    spec, which exercises the reader's miniFAT path."""
    enc = lambda s: s.encode("utf-16-le")  # noqa: E731
    return _cfb_build({
        "__substg1.0_0C1A001F": enc(sender),
        "__substg1.0_0E04001F": enc(to),
        "__substg1.0_0037001F": enc(subject),
        "__substg1.0_1000001F": enc(body),
    })


def make_doc(paragraphs: list[str]) -> bytes:
    """Minimal Word 97 ``.doc`` writer ([MS-DOC]): FIB (wIdent A5EC,
    nFib 00C1, ccpText, fcClx/lcbClx) in the WordDocument stream, piece
    table (Pcdt/PlcPcd) in 0Table. Consecutive cp1252-encodable
    paragraphs become a "compressed" 8-bit piece (fc = byte-offset*2 with
    bit 30 set), others a UTF-16LE piece — so multi-piece documents with
    both encodings exercise the reader's full walk. Independent of
    kernels/legacy_office.py (own writer ≠ parser)."""
    import struct as _st

    pieces: list[tuple[str, bool]] = []
    for p in paragraphs:
        chunk = p + "\r"
        try:
            chunk.encode("cp1252")
            comp = True
        except UnicodeEncodeError:
            comp = False
        if pieces and pieces[-1][1] == comp:
            pieces[-1] = (pieces[-1][0] + chunk, comp)
        else:
            pieces.append((chunk, comp))

    TEXT_START = 1024
    buf = bytearray()
    cps = [0]
    fcs: list[int] = []
    cp = 0
    for chars, comp in pieces:
        fc_off = TEXT_START + len(buf)
        if comp:
            buf += chars.encode("cp1252")
            fcs.append((fc_off * 2) | 0x40000000)
        else:
            buf += chars.encode("utf-16-le")
            fcs.append(fc_off)
        cp += len(chars)
        cps.append(cp)

    plc = b"".join(_st.pack("<I", c) for c in cps) + b"".join(
        _st.pack("<HIH", 0, fc, 0) for fc in fcs
    )
    pcdt = b"\x02" + _st.pack("<I", len(plc)) + plc

    fib = bytearray(TEXT_START)
    _st.pack_into("<H", fib, 0x0000, 0xA5EC)  # wIdent
    _st.pack_into("<H", fib, 0x0002, 0x00C1)  # nFib (Word 97)
    _st.pack_into("<H", fib, 0x000A, 0x0000)  # flags: fWhichTblStm=0
    _st.pack_into("<H", fib, 0x0020, 0x000E)  # csw
    _st.pack_into("<H", fib, 0x003E, 0x0016)  # cslw
    _st.pack_into("<I", fib, 0x004C, cp)  # ccpText
    _st.pack_into("<H", fib, 0x0098, 0x005D)  # cbRgFcLcb (Word 97)
    _st.pack_into("<I", fib, 0x01A2, 0)  # fcClx (0Table offset)
    _st.pack_into("<I", fib, 0x01A6, len(pcdt))  # lcbClx
    return _cfb_build(
        {"WordDocument": bytes(fib) + bytes(buf), "0Table": pcdt}
    )


def _ppt_rec(ver_inst: int, rtype: int, body: bytes) -> bytes:
    import struct as _st

    return _st.pack("<HHI", ver_inst, rtype, len(body)) + body


def make_ppt(slides: list[list[str]]) -> bytes:
    """Minimal PowerPoint 97 ``.ppt`` writer ([MS-PPT]): a Document
    container (03E8) holding SlideListWithText (0FF0) with one
    SlidePersistAtom (03F3) per slide followed by TextHeaderAtom (0F9F) +
    TextBytesAtom (0FA8, cp1252-encodable) or TextCharsAtom (0FA0,
    UTF-16LE) per text. Independent of kernels/legacy_office.py."""
    import struct as _st

    slwt = b""
    for i, texts in enumerate(slides, 1):
        spa = _st.pack("<IIiII", i, 0, len(texts), 256 + i, 0)
        slwt += _ppt_rec(0, 0x03F3, spa)
        for j, t in enumerate(texts):
            slwt += _ppt_rec(j << 4, 0x0F9F, _st.pack("<I", 0))
            try:
                slwt += _ppt_rec(0, 0x0FA8, t.encode("cp1252"))
            except UnicodeEncodeError:
                slwt += _ppt_rec(0, 0x0FA0, t.encode("utf-16-le"))
    doc = _ppt_rec(0xF, 0x03E8, _ppt_rec(0xF, 0x0FF0, slwt))
    cu = _ppt_rec(0, 0x0FF6, _st.pack("<IIIIHH", 20, 0xE391C05F, 0, 0, 3, 0))
    return _cfb_build({"Current User": cu, "PowerPoint Document": doc})


def _cfb_build(streams: dict[str, bytes]) -> bytes:
    """OLE2/CFB v3 writer (multi-stream): streams ≥ 4096 bytes get regular
    FAT chains, smaller ones are packed into the root entry's mini-stream
    with a miniFAT (64-byte mini sectors) — the spec's placement rule.
    Layout: sector 0 = FAT, then directory, miniFAT, mini-stream, big
    streams. One FAT sector bounds the file at ~63 KB — plenty for
    synthetic pages. Independent of kernels/cfb.py (own writer ≠ parser).
    Deterministic: no timestamps, dict-ordered directory."""
    import struct as _st

    CUTOFF, SSZ, MSZ = 4096, 512, 64
    mini_blob = b""
    mini_start: dict[str, int] = {}
    minifat: list[int] = []
    for n, d in streams.items():
        if len(d) >= CUTOFF:
            continue
        nsec = max(1, (len(d) + MSZ - 1) // MSZ)
        mini_start[n] = len(minifat)
        minifat.extend(range(len(minifat) + 1, len(minifat) + nsec))
        minifat.append(0xFFFFFFFE)
        mini_blob += d + b"\x00" * (nsec * MSZ - len(d))

    n_dir_sec = ((1 + len(streams)) * 128 + SSZ - 1) // SSZ
    has_mini = bool(mini_start)
    s_minifat = 1 + n_dir_sec if has_mini else None
    s_mini0 = (s_minifat + 1) if has_mini else None
    n_mini_sec = (len(mini_blob) + SSZ - 1) // SSZ
    next_free = (s_mini0 + n_mini_sec) if has_mini else 1 + n_dir_sec

    big_start: dict[str, int] = {}
    fat_chains: list[tuple[int, int]] = []  # (start, nsec) regular chains
    for n, d in streams.items():
        if len(d) < CUTOFF:
            continue
        nsec = (len(d) + SSZ - 1) // SSZ
        big_start[n] = next_free
        fat_chains.append((next_free, nsec))
        next_free += nsec
    total = next_free
    assert total <= 128, "single-FAT-sector writer"

    fat = [0xFFFFFFFF] * 128
    fat[0] = 0xFFFFFFFD  # the FAT sector itself
    for i in range(n_dir_sec):  # directory chain
        fat[1 + i] = 2 + i if i < n_dir_sec - 1 else 0xFFFFFFFE
    if has_mini:
        fat[s_minifat] = 0xFFFFFFFE
        for i in range(n_mini_sec):
            fat[s_mini0 + i] = (
                s_mini0 + i + 1 if i < n_mini_sec - 1 else 0xFFFFFFFE
            )
    for start, nsec in fat_chains:
        for i in range(nsec):
            fat[start + i] = start + i + 1 if i < nsec - 1 else 0xFFFFFFFE

    header = (
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
        + b"\x00" * 16  # clsid
        + _st.pack("<HHHHH", 0x003E, 0x0003, 0xFFFE, 9, 6)  # ver/order/shifts
        + b"\x00" * 6
        + _st.pack("<IIII", 0, 1, 1, 0)  # ndir(v4), nfat, firstdir, trans
        + _st.pack(
            "<IIIII",
            CUTOFF,
            s_minifat if has_mini else 0xFFFFFFFE,
            1 if has_mini else 0,
            0xFFFFFFFE,
            0,
        )
        + _st.pack("<I", 0)  # DIFAT[0] = FAT at sector 0
        + b"\xff" * (108 * 4)
    )
    assert len(header) == 512

    def direntry(
        nm: str, typ: int, child: int, start: int, sz: int,
        right: int = 0xFFFFFFFF,
    ) -> bytes:
        nb = nm.encode("utf-16-le") + b"\x00\x00"
        return (
            nb + b"\x00" * (64 - len(nb))
            + _st.pack("<HBB", len(nb), typ, 1)
            + _st.pack("<III", 0xFFFFFFFF, right, child)
            + b"\x00" * 16  # clsid
            + _st.pack("<I", 0) + b"\x00" * 16  # state, times
            + _st.pack("<IQ", start, sz)
        )

    entries = [
        direntry(
            "Root Entry", 5, 1 if streams else 0xFFFFFFFF,
            s_mini0 if has_mini else 0xFFFFFFFE, len(mini_blob),
        )
    ]
    # sibling links form a right-spine from the root's child, so EVERY
    # stream is reachable by a conforming directory-tree walk (r5 review,
    # batch 5: all-NOSTREAM links orphaned streams 2..n for tree-walking
    # readers like olefile/Office; our linear parser never noticed)
    names = list(streams)
    for k, n in enumerate(names):
        d = streams[n]
        start = big_start[n] if len(d) >= CUTOFF else mini_start[n]
        right = (k + 2) if k < len(names) - 1 else 0xFFFFFFFF
        entries.append(direntry(n, 2, 0xFFFFFFFF, start, len(d), right))
    directory = b"".join(entries)
    directory += b"\x00" * (n_dir_sec * SSZ - len(directory))

    mini_padded = mini_blob + b"\x00" * (n_mini_sec * SSZ - len(mini_blob))
    minifat_sec = b""
    if has_mini:
        mf = minifat + [0xFFFFFFFF] * (128 - len(minifat))
        assert len(mf) == 128, "miniFAT exceeds one sector"
        minifat_sec = _st.pack("<128I", *mf)

    big_blob = b""
    for n, d in streams.items():
        if len(d) >= CUTOFF:
            nsec = (len(d) + SSZ - 1) // SSZ
            big_blob += d + b"\x00" * (nsec * SSZ - len(d))

    return (
        header + _st.pack("<128I", *fat) + directory
        + minifat_sec + mini_padded + big_blob
    )


_OFFICE_KINDS = ["docx", "pptx", "xlsx", "odt", "odp", "epub", "doc", "ppt", "xls", "msg"]


def _office_doc(rng: random.Random) -> tuple[bytes, str]:
    kind = rng.choices(_OFFICE_KINDS, weights=[25, 15, 15, 10, 5, 10, 8, 4, 4, 4])[0]
    if kind == "docx":
        payload = _docx_doc(rng)
    elif kind == "pptx":
        payload = _pptx_doc(rng)
    elif kind == "xlsx":
        payload = _xlsx_doc(rng)
    elif kind in ("odt", "odp"):
        payload = _odf_doc(rng)
    elif kind == "epub":
        payload = _epub_doc(rng)
    elif kind == "xls":  # real BIFF8 workbook (kernels/xls_kernel parses it)
        n_sheets = rng.randint(1, 2)
        payload = make_xls(
            [
                (
                    f"Sheet{si}",
                    [
                        [
                            (rng.choice(_WORDS) if rng.random() < 0.5
                             else rng.randint(0, 9999))
                            for _ in range(3)
                        ]
                        for _ in range(rng.randint(2, 10))
                    ],
                )
                for si in range(1, n_sheets + 1)
            ]
        )
    elif kind == "msg":  # real MAPI property streams (kernels/msg_kernel)
        payload = make_msg(
            f"{rng.choice(_WORDS)}@{rng.choice(_WORDS)}.com",
            f"{rng.choice(_WORDS)}@{rng.choice(_WORDS)}.com",
            _sentence(rng, 4)[:-1],
            "\n".join(_paragraph(rng) for _ in range(rng.randint(1, 4))),
        )
    else:  # legacy OLE (doc/ppt) → reference literal branches
        payload = b"\xd0\xcf\x11\xe0" + bytes(rng.getrandbits(8) for _ in range(64))
    if rng.random() < 0.03:  # corrupt zip → error-containment path (D2)
        payload = b"PK\x03\x04" + payload[4:20]
    return payload, kind


_CLASSES = [
    # (cumulative share, class name, extension choices incl. None=no ext)
    (0.40, "html_ok", ["html", "html", "htm", None]),
    (0.48, "html_bad", ["html", None]),
    (0.54, "html_enc", ["html", "htm"]),
    (0.64, "pdf", ["pdf", "pdf", None]),
    (0.70, "txt", ["txt", None]),
    (0.74, "xml", ["xml", None]),
    (0.78, "csv", ["csv", "csv", None]),
    (0.81, "rtf", ["rtf"]),
    (0.85, "eml", ["eml"]),
    (0.89, "image", ["png", "jpg", "gif", "bmp", None]),
    (0.96, "office", None),  # extension = actual office kind
    (1.00, "junk", [None, "bin", "dat"]),
]


def make_page(i: int, seed: int = _SEED_DEFAULT) -> dict:
    """Row *i* of the pages table — pure function of (i, seed)."""
    rng = random.Random(f"{seed}:{i}")
    u = rng.random()
    for cum, cls, exts in _CLASSES:
        if u < cum:
            break
    if cls == "office":
        payload, ext = _office_doc(rng)
    else:
        ext = rng.choice(exts)
        if cls == "html_ok":
            payload = _html_doc(rng, malformed=False)
        elif cls == "html_bad":
            payload = _html_doc(rng, malformed=True)
        elif cls == "html_enc":
            payload = _html_nonutf8(rng)
        elif cls == "pdf":
            payload = _pdf_doc(rng)
        elif cls == "txt":
            payload = _txt_doc(rng)
        elif cls == "xml":
            payload = _xml_doc(rng)
        elif cls == "csv":
            payload = _csv_doc(rng)
        elif cls == "rtf":
            payload = _rtf_doc(rng)
        elif cls == "eml":
            payload = _eml_doc(rng)
        elif cls == "image":
            payload = _image_doc(rng)
        else:
            payload = _junk_doc(rng)
    host = _zipf_host(rng)
    path = f"{cls}/{i:09d}" + (f".{ext}" if ext else "")
    url = f"https://{host}/{path}"
    # ≥8 distinct days (FIXTURES.md): 10-day span, seconds resolution
    ts = _EPOCH + _dt.timedelta(seconds=(i * 9973 + rng.randint(0, 3600)) % (10 * 86400))
    return {
        "url": url,
        "warc_ts": ts,
        "html": payload,
        "text": "",
        "lang": rng.choice(_LANGS),
    }


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def generate_pages_df(spark, n: int, seed: int = _SEED_DEFAULT, partitions: int | None = None):
    """Distributed generation: mapInPandas over spark.range — each row is
    index-pure so any partitioning yields the identical table."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield pages_pandas_from_ids(pdf["id"].tolist(), seed)

    def pages_pandas_from_ids(ids, seed_):
        import pandas as pd

        return pd.DataFrame([make_page(int(i), seed_) for i in ids])

    return spark.range(0, n, 1, parts).mapInPandas(gen, schema=PAGES_SCHEMA)
