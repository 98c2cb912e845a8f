"""Golden-file kernel tests (SURVEY.md §5 item 2): every fixture's extracted
text must be byte-identical to the committed golden. These goldens ARE the
reference oracle the north rule's byte-identity invariant is checked against.
"""

from __future__ import annotations

import json
import random

import pytest

from conftest import FIXTURES
from universal_text_extractor_spark.kernels import (
    ExtractOptions,
    detect_content_type,
    extract_payload,
)
from universal_text_extractor_spark.kernels.charset import detect_and_decode
from universal_text_extractor_spark.kernels.html_kernel import (
    extract_html,
    extract_main_content,
)

MANIFEST = json.loads((FIXTURES / "manifest.json").read_text())


@pytest.mark.parametrize("entry", MANIFEST, ids=[e["name"] for e in MANIFEST])
def test_golden_byte_identity(entry):
    payload = (FIXTURES / f"{entry['name']}.bin").read_bytes()
    expected = (FIXTURES / f"{entry['name']}.expected.txt").read_bytes()
    ct = detect_content_type(entry["url"], payload)
    assert ct == entry["content_type"]
    text, ocr_used, success, error, _logs = extract_payload(
        entry["url"], payload, ct,
        options=ExtractOptions(use_ocr=entry.get("use_ocr", False)),
    )
    assert text.encode("utf-8") == expected
    assert ocr_used == entry["ocr_used"]
    assert success == entry["success"]
    assert error == entry["error"]


@pytest.mark.parametrize(
    "entry",
    [e for e in MANIFEST if e.get("has_main")],
    ids=[e["name"] for e in MANIFEST if e.get("has_main")],
)
def test_golden_main_content(entry):
    payload = (FIXTURES / f"{entry['name']}.bin").read_bytes()
    expected = (FIXTURES / f"{entry['name']}.main.txt").read_bytes()
    got = extract_main_content(detect_and_decode(payload))
    assert got.encode("utf-8") == expected


def test_boilerplate_removed():
    payload = (FIXTURES / "html_boilerplate.bin").read_bytes()
    main = extract_main_content(detect_and_decode(payload))
    assert "Real Headline" in main
    assert "genuine article body" in main
    assert "Home" not in main  # nav stripped
    assert "Copyright" not in main  # footer stripped
    assert "link one" not in main  # link farm (high link density)


def test_total_function_never_raises():
    """D2 containment (reference utils/file_handlers.py:255-257): no input
    may raise — fuzz every branch with adversarial bytes."""
    rng = random.Random(123)
    blobs = [
        b"",
        b"\x00" * 64,
        bytes(rng.getrandbits(8) for _ in range(4096)),
        b"%PDF-1.4 garbage" + bytes(rng.getrandbits(8) for _ in range(512)),
        b"<html><p" + b"\xff" * 100,
        b"{\\rtf1 \\u99999999999? {{{",
        b"\xff\xfe" + b"\x00" * 33,
    ]
    types = ["html", "xml", "txt", "pdf", "rtf", "csv", "eml", "image", "unknown", None]
    for blob in blobs:
        for t in types:
            text, ocr_used, success, error, logs = extract_payload(
                "https://x.example.com/f", blob, t
            )
            assert isinstance(text, str)
            assert isinstance(logs, list)


def test_html_title_absent_is_untitled():
    text, _ = extract_html("<html><body><p>x</p></body></html>")
    assert text.startswith("Title: Untitled\n\n")


def test_error_literal_shape():
    # force an exception inside a kernel via a type confusion
    text, _, success, error, _ = extract_payload("https://x/y.txt", None, "txt")
    assert success is False or text == ""  # decode of None → "" → Warning path


def test_pdf_objstm_layout_parity():
    """PDF 1.5+ object streams (the modern-writer layout: page-tree dicts
    Flate-packed in a /Type /ObjStm, xref as a cross-reference stream)
    must extract IDENTICALLY to the classic layout of the same document —
    reference parity with PyMuPDF's native ObjStm handling."""
    import random

    from universal_text_extractor_spark.kernels.pdf_kernel import extract_pdf
    from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

    for flate in (False, True):
        for npages in (1, 4):
            classic = extract_pdf(_pdf_doc_pages(random.Random(7), npages, flate))
            modern = extract_pdf(
                _pdf_doc_pages(random.Random(7), npages, flate, objstm=True)
            )
            assert classic[0] == modern[0], (flate, npages)
            assert f"--- Page {npages} ---" in modern[0]
    # image-only pages keep their bracket-literal semantics through ObjStm
    e_classic = extract_pdf(_pdf_doc_pages(random.Random(3), 2, False, empty=True))
    e_modern = extract_pdf(
        _pdf_doc_pages(random.Random(3), 2, False, empty=True, objstm=True)
    )
    assert e_classic[0] == e_modern[0]


def test_pdf_objstm_scanned_page_ocrs():
    """A scanned page whose page dict lives inside an ObjStm still OCRs
    end-to-end (the image XObject stays top-level, as the spec demands)."""
    import random

    from universal_text_extractor_spark.kernels.dispatch import extract_payload
    from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

    b = _pdf_doc_pages(
        random.Random(5), 1, False, scan_lines=[["OBJSTM SCAN 7"]], objstm=True
    )
    text, ocr_used, success, error, logs = extract_payload(
        "https://h/m.pdf", b, "pdf", options=ExtractOptions(use_ocr=True)
    )
    assert "OBJSTM SCAN 7" in text and ocr_used and success


def test_pdf_objstm_corruption_contained():
    """Corrupting the ObjStm body (the page tree) must degrade to the
    reference's corrupt/unsupported literal, never crash."""
    import random

    from universal_text_extractor_spark.kernels.pdf_kernel import (
        CORRUPT_LITERAL,
        extract_pdf,
    )
    from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

    good = _pdf_doc_pages(random.Random(7), 2, True, objstm=True)
    marker = good.find(b"/Type /ObjStm")
    start = good.find(b"stream\n", marker) + len(b"stream\n")
    bad = bytearray(good)
    for i in range(start, min(start + 40, len(bad))):
        bad[i] ^= 0xFF
    text, _ocr, _logs = extract_pdf(bytes(bad))
    assert text == CORRUPT_LITERAL or "image-based" in text
    # and truncation anywhere stays contained
    for cut in (len(good) // 4, len(good) // 2, len(good) - 10):
        t = extract_pdf(good[:cut])[0]
        assert isinstance(t, str)


def test_pdf_legacy_stream_filters_parity():
    """LZWDecode (pre-Flate-era; the TIFF coding with the same
    early-change rule), ASCIIHexDecode, and ASCII85Decode content
    streams must extract identically to the unfiltered document —
    including inside the ObjStm container. Corrupted filter data stays
    contained."""
    import random

    from universal_text_extractor_spark.kernels.pdf_kernel import extract_pdf
    from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

    base = extract_pdf(_pdf_doc_pages(random.Random(7), 3, False))[0]
    for sf in ("lzw", "ahx", "a85"):
        got = extract_pdf(_pdf_doc_pages(random.Random(7), 3, False, stream_filter=sf))[0]
        assert got == base, sf
    got = extract_pdf(
        _pdf_doc_pages(random.Random(7), 3, False, stream_filter="lzw", objstm=True)
    )[0]
    assert got == base
    # corrupt each filtered body → contained (no text for that page or
    # the reference literals, never a crash)
    for sf in ("lzw", "ahx", "a85"):
        good = bytearray(_pdf_doc_pages(random.Random(7), 1, False, stream_filter=sf))
        start = good.find(b"stream\n") + 7
        for i in range(start, min(start + 20, len(good))):
            good[i] ^= 0xA5
        t = extract_pdf(bytes(good))[0]
        assert isinstance(t, str), sf


def test_pdf_cid_font_tounicode_parity():
    """Type0 /Identity-H text (2-byte codes + /ToUnicode CMap — the
    subset-font shape every modern PDF producer emits) must extract
    IDENTICALLY to the simple-font twin, including through the modern
    encrypted ObjStm layout."""
    import random

    from universal_text_extractor_spark.kernels.pdf_kernel import extract_pdf
    from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

    for fl in (True, False):
        ref = extract_pdf(_pdf_doc_pages(random.Random(11), 3, fl))[0]
        cid = extract_pdf(_pdf_doc_pages(random.Random(11), 3, fl, cid_font=True))[0]
        assert cid == ref, fl
    ref = extract_pdf(_pdf_doc_pages(random.Random(4), 2, True))[0]
    combo = extract_pdf(
        _pdf_doc_pages(
            random.Random(4), 2, True, cid_font=True, objstm=True, encrypt="aes256"
        )
    )[0]
    assert combo == ref
    # corruption containment on the CID layout
    good = _pdf_doc_pages(random.Random(7), 2, True, cid_font=True)
    for cut in (len(good) // 3, len(good) - 12):
        assert isinstance(extract_pdf(good[:cut])[0], str)


def test_pdf_cmap_bfrange_forms():
    """Both bfrange destination forms (incrementing base and per-code
    array), multi-char ligature targets, and malformed-CMap containment."""
    from universal_text_extractor_spark.kernels.pdf_kernel import _parse_cmap

    cmap = b"""/CIDInit /ProcSet findresource begin
begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0001> <0041>
<0002> <00660066>
endbfchar
2 beginbfrange
<0010> <0013> <0061>
<0020> <0022> [<005A> <0059> <0058>]
endbfrange
endcmap"""
    clen, mp = _parse_cmap(cmap)
    assert clen == 2
    assert mp[1] == "A"
    assert mp[2] == "ff"  # ligature: multi-char UTF-16BE destination
    assert [mp[0x10 + k] for k in range(4)] == ["a", "b", "c", "d"]
    assert [mp[0x20 + k] for k in range(3)] == ["Z", "Y", "X"]
    # malformed inputs: contained (None), never an exception
    assert _parse_cmap(b"") is None
    assert _parse_cmap(b"beginbfchar <zz> <qq> endbfchar") is None
    assert _parse_cmap(b"1 beginbfrange <0001> <0000> <0041> endbfrange") is None
    # reversed range is skipped; a valid block after it still parses
    both = b"1 beginbfrange <0005> <0001> <0041> endbfrange 1 beginbfchar <0009> <0042> endbfchar"
    clen2, mp2 = _parse_cmap(both)
    assert mp2 == {9: "B"}


def test_pdf_contents_array_is_one_stream():
    """A page's /Contents ARRAY forms one logical stream (spec §7.8.2):
    a Tf font selection in stream 1 must still govern text shown in
    stream 2 (CID map case)."""
    import zlib

    from universal_text_extractor_spark.kernels.pdf_kernel import extract_pdf

    cmap = (b"1 begincodespacerange <0000> <FFFF> endcodespacerange "
            b"2 beginbfchar <0001> <0048> <0002> <0049> endbfchar")
    s1 = b"BT /F1 12 Tf 72 720 Td"
    s2 = b"<00010002> Tj ET"
    objs = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    objs.append(
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents [4 0 R 5 0 R] /Resources << /Font << /F1"
        b" << /Type /Font /Subtype /Type0 /Encoding /Identity-H"
        b" /ToUnicode 6 0 R >> >> >> >>"
    )
    objs.append(b"<< /Length " + str(len(s1)).encode() + b" >>\nstream\n" + s1 + b"\nendstream")
    objs.append(b"<< /Length " + str(len(s2)).encode() + b" >>\nstream\n" + s2 + b"\nendstream")
    objs.append(b"<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n" + cmap + b"\nendstream")
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
    text, _, logs = extract_pdf(bytes(out))
    assert "HI" in text, (text, logs)


def test_webp_heic_header_metadata():
    """r3 verdict missing #1: WebP (all three header variants) and
    HEIC/HEIF dims from plain header fields — no entropy decode. Writer
    (pages_gen) and parser (image_kernel) are independent spec
    implementations; malformed variants fall back to the bare literal."""
    from universal_text_extractor_spark.kernels.dispatch import (
        detect_content_type,
        extract_payload,
    )
    from universal_text_extractor_spark.kernels.image_kernel import (
        parse_image_header,
    )
    from universal_text_extractor_spark.sources.pages_gen import (
        make_heic,
        make_webp,
    )

    for variant in ("vp8x", "vp8", "vp8l"):
        b = make_webp(321, 9876, variant, tail=b"\x5a" * 40)
        assert parse_image_header(b) == (321, 9876, "WEBP"), variant
        assert detect_content_type("https://x/blob", b) == "image"
        t, _, s, _, _ = extract_payload("https://x/p.webp", b, "image")
        assert t.startswith("[Image: 321x9876, Format: WEBP]") and s

    for brand, fmt in (
        (b"heic", "HEIC"), (b"heix", "HEIC"), (b"mif1", "HEIC"),
        (b"heif", "HEIF"), (b"msf1", "HEIF"),
    ):
        b = make_heic(640, 480, brand, tail=b"q" * 16)
        assert parse_image_header(b) == (640, 480, fmt), brand
        assert detect_content_type("https://x/blob", b) == "image"
        t, _, s, _, _ = extract_payload("https://x/p.heic", b, "image")
        assert t.startswith(f"[Image: 640x480, Format: {fmt}]") and s

    # malformed: bad VP8 start code, unknown RIFF chunk, truncated heic,
    # non-heif brand — all fall to the bare no-OCR literal, never raise
    vp8 = bytearray(make_webp(100, 100, "vp8"))
    vp8[23] ^= 0xFF
    for bad in (
        bytes(vp8),
        b"RIFF\x10\x00\x00\x00WEBPJUNK" + b"\x00" * 20,
        make_heic(10, 10)[:20],
        b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 40,
    ):
        t, _, _, err, _ = extract_payload("https://x/blob", bad, "image")
        assert t == "[Image file - OCR not enabled]" and err is None, bad[:16]


def _cfb_direntry(name, typ, left, right, child, start, size):
    import struct

    nb = name.encode("utf-16-le") + b"\x00\x00"
    return (
        nb + b"\x00" * (64 - len(nb))
        + struct.pack("<HBB", len(nb), typ, 1)
        + struct.pack("<III", left, right, child)
        + b"\x00" * 36
        + struct.pack("<IQ", start, size)
    )


def _cfb_header(major, ssz_shift, num_fat, first_dir):
    import struct

    h = (
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
        + b"\x00" * 16
        + struct.pack("<HHHHH", 0x003E, major, 0xFFFE, ssz_shift, 6)
        + b"\x00" * 6
        + struct.pack("<IIII", 0, num_fat, first_dir, 0)
        + struct.pack("<IIIII", 0, 0xFFFFFFFE, 0, 0xFFFFFFFE, 0)
        + struct.pack("<I", 0)
        + b"\xff" * (108 * 4)
    )
    assert len(h) == 512
    return h


def test_cfb_nested_storage_does_not_clobber_toplevel_stream():
    """r5 review batch 4: real Outlook .msg files repeat __substg property
    names inside attachment storages; the flat name-keyed walk let the
    NESTED copy clobber the top-level one (last dir order wins). Streams
    under non-root storages are now excluded from the flat dict."""
    import struct

    from universal_text_extractor_spark.kernels.cfb import CfbFile

    END, FREE, NOSTREAM = 0xFFFFFFFE, 0xFFFFFFFF, 0xFFFFFFFF
    top, nested = b"TOPLEVEL" * 64, b"NESTED!!" * 64  # 512 each
    fat = [0xFFFFFFFD, END, END, END] + [FREE] * 124
    directory = (
        _cfb_direntry("Root Entry", 5, NOSTREAM, NOSTREAM, 1, END, 0)
        + _cfb_direntry("S", 2, NOSTREAM, 2, NOSTREAM, 2, len(top))
        + _cfb_direntry("Att", 1, NOSTREAM, NOSTREAM, 3, 0, 0)
        + _cfb_direntry("S", 2, NOSTREAM, NOSTREAM, NOSTREAM, 3, len(nested))
    )
    payload = (
        _cfb_header(3, 9, 1, 1)
        + struct.pack("<128I", *fat)
        + directory
        + top
        + nested
    )
    f = CfbFile(payload)
    assert f.streams["S"] == top  # nested copy excluded, not clobbering


def test_cfb_v4_sector_addressing():
    """r5 review batch 4: [MS-CFB] places sector n at (n+1)*sector_size;
    the old 512 + n*ssz form was v3-only and read v4 (4096-byte-sector)
    files 3584 bytes off. A minimal v4 file must round-trip."""
    import struct

    from universal_text_extractor_spark.kernels.cfb import CfbFile

    END, FREE, NOSTREAM = 0xFFFFFFFE, 0xFFFFFFFF, 0xFFFFFFFF
    data = bytes(range(256)) * 16  # 4096
    fat = [0xFFFFFFFD, END, END] + [FREE] * 1021
    directory = (
        _cfb_direntry("Root Entry", 5, NOSTREAM, NOSTREAM, 1, END, 0)
        + _cfb_direntry("W", 2, NOSTREAM, NOSTREAM, NOSTREAM, 2, len(data))
    )
    directory += b"\x00" * (4096 - len(directory))
    payload = (
        _cfb_header(4, 12, 1, 1)
        + b"\x00" * 3584  # header sector padded to 4096
        + struct.pack("<1024I", *fat)
        + directory
        + data
    )
    f = CfbFile(payload)
    assert f.streams["W"] == data


def _mini_xlsx(parts: dict) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in parts.items():
            z.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def test_xlsx_sheet_paths_resolved_via_rels():
    """r5 review batch 4: after a sheet delete, remaining parts can be
    sheet1.xml and sheet3.xml while the workbook lists two sheets —
    enumeration paired the second name with nonexistent sheet2.xml and
    silently dropped it. r:id -> rels target pairing must be used."""
    from universal_text_extractor_spark.kernels.office_kernel import extract_xlsx

    R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    wb = (
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'xmlns:r="{R}"><sheets>'
        '<sheet name="Alpha" sheetId="1" r:id="rId1"/>'
        '<sheet name="Gamma" sheetId="3" r:id="rId2"/>'
        "</sheets></workbook>"
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="x" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="x" Target="worksheets/sheet3.xml"/>'
        "</Relationships>"
    )

    def ws(text):
        return (
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>{text}</t></is></c></row>'
            "</sheetData></worksheet>"
        )

    payload = _mini_xlsx(
        {
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": rels,
            "xl/worksheets/sheet1.xml": ws("first"),
            "xl/worksheets/sheet3.xml": ws("third"),
        }
    )
    text, _ = extract_xlsx(payload)
    assert "--- Sheet: Alpha ---" in text and "first" in text
    # without rels resolution, Gamma paired with missing sheet2.xml and
    # "third" was silently lost
    assert "--- Sheet: Gamma ---" in text and "third" in text


def test_cfb_writer_streams_reachable_via_directory_tree():
    """r5 review batch 5: the writer's directory entries previously had
    all-NOSTREAM sibling links, orphaning streams 2..n for any conforming
    reader that walks the tree from the root's child (olefile, Office).
    Every stream must be reachable via left/right/child pointers."""
    import struct

    from universal_text_extractor_spark.sources.pages_gen import _cfb_build

    streams = {f"Strm{i}": bytes([i]) * (100 + i) for i in range(5)}
    payload = _cfb_build(streams)
    NOSTREAM = 0xFFFFFFFF

    def entry(i):
        # header @0, FAT = sector 0 @512, directory = sector 1 @1024
        off = 1024 + i * 128
        name_len = struct.unpack_from("<H", payload, off + 64)[0]
        name = payload[off : off + max(name_len - 2, 0)].decode("utf-16-le")
        left, right, child = struct.unpack_from("<III", payload, off + 68)
        return name, left, right, child

    _, _, _, root_child = entry(0)
    seen, stack = set(), [root_child]
    while stack:
        i = stack.pop()
        if i == NOSTREAM or i > len(streams):
            continue
        name, left, right, _child = entry(i)
        seen.add(name)
        stack.extend((left, right))
    assert seen == set(streams)
