"""Hostile-input bounds (kernels/limits.py): every decompression and every
header-claimed allocation in the kernels is capped, a capped input finishes
fast and small, and each bound is defined in one place.

The caps are shrunk with monkeypatch so the hostile inputs stay small (the
bombs inflate to 4–8× the shrunk cap). A case passes only if the kernel
returns the contained result, within 2 s, with a tracemalloc peak of at
most 3× the cap in force."""

from __future__ import annotations

import bz2
import gzip
import io
import lzma
import pathlib
import re
import struct
import time
import tracemalloc
import zipfile
import zlib

import pytest

from universal_text_extractor_spark.kernels import limits
from universal_text_extractor_spark.kernels.dispatch import extract_payload
from universal_text_extractor_spark.kernels.gif_kernel import open_gif
from universal_text_extractor_spark.kernels.image_prep import decode_image
from universal_text_extractor_spark.kernels.options import ExtractOptions

CAP = 1 << 20  # the shrunk MAX_INFLATE_BYTES
PIXELS = 1_000_000  # the shrunk MAX_PIXELS


def _bounded(fn, cap_bytes, codec_state=0):
    """fn() under tracemalloc: ≤ 2 s and a peak ≤ 3 × ``cap_bytes`` (plus
    a decoder's fixed working state, where it has one)."""
    tracemalloc.start()
    try:
        t0 = time.monotonic()
        out = fn()
        elapsed = time.monotonic() - t0
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert elapsed <= 2.0, f"took {elapsed:.2f} s"
    assert peak <= 3 * cap_bytes + codec_state, f"peak {peak} B > 3 × {cap_bytes} B"
    return out


# ------------------------------------------------------------ builders


def _pdf(stream: bytes) -> bytes:
    """One page whose content stream is ``stream`` under /FlateDecode."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(stream), stream),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    body = b"".join(
        b"%d 0 obj\n%s\nendobj\n" % (i, o) for i, o in enumerate(objs, start=1)
    )
    return b"%PDF-1.4\n" + body + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"


def _zip(entries: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=9) as z:
        for name, data in entries.items():
            z.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data,
                       compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_X_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'


def _docx(document_xml: bytes) -> bytes:
    return _zip({"word/document.xml": document_xml})


def _docx_bomb() -> bytes:
    para = b"<w:p><w:r><w:t>bomb</w:t></w:r></w:p>"
    return _docx(
        f"<w:document {_W_NS}><w:body>".encode()
        + para * (8 * CAP // len(para))
        + b"</w:body></w:document>"
    )


def _xlsx(*sheets: bytes) -> bytes:
    names = "".join(
        f'<sheet name="S{i}" sheetId="{i}"/>' for i in range(1, len(sheets) + 1)
    )
    return _zip({
        "xl/workbook.xml":
            f"<workbook {_X_NS}><sheets>{names}</sheets></workbook>".encode(),
        **{
            f"xl/worksheets/sheet{i}.xml": sheet
            for i, sheet in enumerate(sheets, start=1)
        },
    })


def _xlsx_bomb() -> bytes:
    row = b'<row><c t="inlineStr"><is><t>bomb</t></is></c></row>'
    return _xlsx(
        f"<worksheet {_X_NS}><sheetData>".encode()
        + row * (8 * CAP // len(row))
        + b"</sheetData></worksheet>"
    )


# 16 sheets of 0.6 × CAP: one fits the archive budget, two do not, and all
# 16 inflate ~10× past it. Long text cells keep the one sheet that is
# parsed within the memory bound (an ElementTree of tiny cells costs ~17×
# its XML bytes)
_SHEETS = 16


def _xlsx_sheet() -> bytes:
    row = b'<row><c t="inlineStr"><is><t>' + b"bomb " * 800 + b"</t></is></c></row>"
    return (
        f"<worksheet {_X_NS}><sheetData>".encode()
        + row * (6 * CAP // 10 // len(row))
        + b"</sheetData></worksheet>"
    )


def _epub(chapter: bytes) -> bytes:
    return _zip({
        "META-INF/container.xml":
            b'<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            b'<rootfiles><rootfile full-path="content.opf"/></rootfiles></container>',
        "content.opf":
            b'<package xmlns="http://www.idpf.org/2007/opf" '
            b'xmlns:dc="http://purl.org/dc/elements/1.1/"><metadata>'
            b"<dc:title>T</dc:title></metadata><manifest>"
            b'<item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>'
            b'</manifest><spine><itemref idref="c1"/></spine></package>',
        "ch1.xhtml": chapter,
    })


def _epub_bomb() -> bytes:
    para = b"<p>bomb</p>"
    return _epub(b"<html><body>" + para * (8 * CAP // len(para)) + b"</body></html>")


def _png(w: int, h: int, idat: bytes) -> bytes:
    """8-bit grayscale PNG with the given (compressed) IDAT."""

    def chunk(kind: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(kind + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + kind + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _png_blank(w: int, h: int) -> bytes:
    """An honest all-black w×h PNG (filter byte 0 on every row)."""
    return _png(w, h, zlib.compress((b"\x00" * (w + 1)) * h, 9))


def _gif(w: int, h: int) -> bytes:
    """An honest GIF: a w×h canvas with one 1×1 frame."""
    return (
        b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80, 0, 0) + bytes(6)
        + b"," + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
        + b"\x02\x02\x44\x01\x00;"
    )


_BOMB_TEXT = b"BT /F1 12 Tf 72 720 Td (bomb) Tj ET\n"


def _pdf_bomb() -> bytes:
    return _pdf(zlib.compress(_BOMB_TEXT * (8 * CAP // len(_BOMB_TEXT)), 9))


_CORRUPT_STREAM = b"not a zlib stream"
# 2048×2048 gray is 4 MiB of pixels (legal under MAX_PIXELS): its IDAT is
# the bomb — it inflates past CAP
_PNG_SIDE = 2048


def _gif_pair(b: bytes):
    return decode_image(b), open_gif(b)


# (id, shrunk cap, hostile input, its unreadable twin or the contained
# result itself, the call under test)
CASES = [
    (
        "pdf-flatedecode", "inflate", _pdf_bomb, lambda: _pdf(_CORRUPT_STREAM),
        lambda b: extract_payload("https://x/bomb.pdf", b),
    ),
    (
        "docx-member", "inflate", _docx_bomb, lambda: _docx(b"<not xml"),
        lambda b: extract_payload("https://x/bomb.docx", b),
    ),
    (
        "xlsx-member", "inflate", _xlsx_bomb, lambda: _xlsx(b"<not xml"),
        lambda b: extract_payload("https://x/bomb.xlsx", b),
    ),
    (
        "xlsx-archive", "inflate", lambda: _xlsx(*[_xlsx_sheet()] * _SHEETS),
        lambda: _xlsx(_xlsx_sheet(), *[b"<not xml"] * (_SHEETS - 1)),
        lambda b: extract_payload("https://x/bomb.xlsx", b),
    ),
    (
        "epub-member", "inflate", _epub_bomb, lambda: _epub(b"\xff not utf-8"),
        lambda b: extract_payload("https://x/bomb.epub", b),
    ),
    (
        "png-idat-decode", "inflate", lambda: _png_blank(_PNG_SIDE, _PNG_SIDE),
        lambda: None, decode_image,
    ),
    (
        "png-idat-ocr", "inflate", lambda: _png_blank(_PNG_SIDE, _PNG_SIDE),
        lambda: _png(_PNG_SIDE, _PNG_SIDE, _CORRUPT_STREAM),
        lambda b: extract_payload(
            "https://x/bomb.png", b, options=ExtractOptions(use_ocr=True)
        ),
    ),
    (
        "png-header-pixels", "pixels", lambda: _png_blank(1200, 1000),
        lambda: None, decode_image,
    ),
    (
        "gif-header-pixels", "pixels", lambda: _gif(1200, 1000),
        lambda: (None, None), _gif_pair,
    ),
]


@pytest.mark.parametrize(
    "cap, hostile, twin, call", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_hostile_input_is_bounded(monkeypatch, cap, hostile, twin, call):
    """Each input is legal except for its size, and the bound turns it
    into the result of an unreadable twin (same container, corrupt
    member) — or into None where the call has no richer result."""
    if cap == "inflate":
        monkeypatch.setattr(limits, "MAX_INFLATE_BYTES", CAP)
        cap_bytes = CAP
    else:
        monkeypatch.setattr(limits, "MAX_PIXELS", PIXELS)
        cap_bytes = PIXELS  # one byte per pixel
    want = twin()
    if isinstance(want, bytes):
        want = call(want)
    payload = hostile()
    assert _bounded(lambda: call(payload), cap_bytes) == want


def test_bounds_hold_honest_inputs(monkeypatch):
    """Positive controls: at the default caps the inputs above decode, so
    the cases test the bound and not a broken builder."""
    assert decode_image(_png_blank(1200, 1000)).shape == (1000, 1200, 3)
    assert decode_image(_gif(1200, 1000)).shape == (1000, 1200, 3)
    text = extract_payload("https://x/ok.pdf", _pdf(zlib.compress(_BOMB_TEXT * 3)))[0]
    assert text.count("bomb") == 3
    # and exactly at a shrunk cap, an inflate still succeeds
    data = b"x" * 4096
    monkeypatch.setattr(limits, "MAX_INFLATE_BYTES", len(data))
    assert limits.inflate(zlib.compress(data) + b"trailing") == data
    with pytest.raises(zlib.error, match="truncated"):
        limits.inflate(zlib.compress(data)[:-3])
    with pytest.raises(ValueError, match="exceeds decompression cap"):
        limits.inflate(zlib.compress(data + b"x"))


_COMPRESS = {
    "gzip": lambda b: gzip.compress(b, mtime=0),
    "xz": lzma.compress,
    "bzip2": bz2.compress,
}


@pytest.mark.parametrize("codec", limits.CODECS, ids=lambda c: c.type_name)
def test_codec_payload_cap(monkeypatch, codec):
    """The transparent-decompression cap counts every concatenated stream:
    a payload of exactly the cap decodes; one byte more, in one stream or
    split over two, is refused with the cap literal, fast and small."""
    monkeypatch.setattr(limits, "MAX_INFLATE_BYTES", CAP)
    comp, name = _COMPRESS[codec.type_name], codec.type_name
    url = f"https://x/a.txt.{codec.ext}"
    text, _, ok, err, _ = extract_payload(url, comp(b"a" * CAP), name)
    assert ok and err is None and len(text) == CAP

    msg = f"{name} payload exceeds decompression cap"
    refused = (
        f"[Error extracting text: {msg}]", False, False, msg,
        [f"Error extracting text: {msg}"],
    )
    # liblzma allocates the dictionary the stream header declares (8 MiB
    # at the default preset) before it decodes a byte; it writes, and so
    # touches, no more of it than the output it produces
    state = 8 << 20 if name == "xz" else 0
    for payload in (comp(b"a" * (8 * CAP)), comp(b"a" * CAP) + comp(b"a")):
        got = _bounded(lambda: extract_payload(url, payload, name), CAP, state)
        assert got == refused


# ---------------------------------------------------------------- lint

_KERNELS = pathlib.Path(limits.__file__).parent
# a decompressor, a zip archive opened or a member read, or a second
# definition of a bound or a codec's extension/magic
_STRAY = re.compile(
    r"^\s*(?:import|from)\s+(?:zlib|lzma|bz2)\b"
    r"|zlib\.decompress|lzma\.LZMADecompressor|bz2\.BZ2Decompressor"
    r"|zf\.read\(|zipfile\.ZipFile\("
    r"|MAX_PIXELS\s*=|MAX_INFLATE_BYTES\s*=|48_000_000|1 << 26"
    r"|\\x1f\\x8b|\\xfd7zXZ|b\"BZh\"|\"\.?(?:gz|bz2|xz)\"",
    re.M,
)


def test_bounds_have_one_home():
    """No kernel (nor functions/sniff.py) decompresses, opens a zip
    archive, reads a zip member or defines a bound, codec extension or
    codec magic except through kernels/limits.py, which defines each
    exactly once."""
    files = sorted(_KERNELS.glob("*.py")) + [_KERNELS.parent / "functions" / "sniff.py"]
    stray = [
        f"{p.name}: {m.group(0).strip()}"
        for p in files
        if p.name != "limits.py"
        for m in _STRAY.finditer(p.read_text())
    ]
    assert not stray, stray
    src = (_KERNELS / "limits.py").read_text()
    for definition in ("MAX_INFLATE_BYTES = ", "MAX_PIXELS = ", '"gz"', '"bz2"',
                       r'b"\x1f\x8b"', r'b"\xfd7zXZ\x00"', 'b"BZh"'):
        assert src.count(definition) == 1, definition
