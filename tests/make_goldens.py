"""Generate the golden fixture corpus (tests/fixtures/) — run ONCE, commit
the outputs; from then on the goldens LOCK kernel behavior (SURVEY.md §5).

Each fixture is (name, url, payload bytes). Inputs are handcrafted here;
expected outputs are produced by the kernels at generation time and frozen
in git. `python tests/make_goldens.py` regenerates — diff before committing.
"""

from __future__ import annotations

import json
import pathlib
import random
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from universal_text_extractor_spark.kernels import (
    ExtractOptions,
    detect_content_type,
    extract_payload,
)
from universal_text_extractor_spark.kernels.html_kernel import extract_main_content
from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

FIX = pathlib.Path(__file__).parent / "fixtures"


def _mk_png(w=64, h=32):
    import struct, zlib
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    )


def fixtures() -> list[tuple[str, str, bytes]]:
    rng = random.Random(7)
    docs: list[tuple[str, str, bytes]] = []

    docs.append((
        "html_title_entities", "https://h0.example.com/a/page.html",
        b"<html><head><title>Fish &amp; Chips</title><style>p{x:1}</style>"
        b"<script>if(1<2){alert('x');}</script></head><body>"
        b"<h1>Heading One</h1><p>Alpha beta  gamma delta.</p>"
        b"<p>Second &lt;para&gt; here.</p></body></html>",
    ))
    docs.append((
        "html_no_title", "https://h0.example.com/a/notitle.htm",
        b"<html><body><p>No title doc.</p><div>Nested <b>bold</b> text</div></body></html>",
    ))
    docs.append((
        "html_malformed_truncated", "https://h1.example.com/b/cut.html",
        b"<html><head><title>Cut</title></head><body><p>First para<p>Seco",
    ))
    docs.append((
        "html_unclosed", "https://h1.example.com/b/unclosed.html",
        b"<html><body><div><p>One<p>Two<ul><li>Three</body>",
    ))
    docs.append((
        "html_utf16_bom", "https://h2.example.com/c/enc16.html",
        b"\xff\xfe" + "<html><head><title>Café</title></head><body><p>Résumé text long enough here.</p></body></html>".encode("utf-16-le"),
    ))
    docs.append((
        "html_windows1252", "https://h2.example.com/c/enc1252.html",
        "<html><body><p>Naïve façade — café au lait.</p></body></html>".encode("windows-1252"),
    ))
    docs.append((
        "html_sniffed_no_ext", "https://h3.example.com/c/page",
        b"  \n\t<!DOCTYPE HTML><html><head><title>Sniffed</title></head><body><p>Body here.</p></body></html>",
    ))
    docs.append((
        "html_boilerplate", "https://h3.example.com/d/boiler.html",
        b"<html><head><title>B</title></head><body>"
        b"<nav><a href='/'>Home</a> <a href='/a'>About</a> <a href='/c'>Contact</a></nav>"
        b"<h2>Real Headline</h2>"
        b"<p>This is the genuine article body content with plenty of characters to keep.</p>"
        b"<div><a href='1'>link one</a> <a href='2'>link two</a> <a href='3'>link three</a> <a href='4'>link four</a></div>"
        b"<footer>Copyright 2025 Example Corp</footer></body></html>",
    ))
    docs.append(("html_empty", "https://h4.example.com/e/empty.html", b""))

    docs.append((
        "xml_nested", "https://h5.example.com/f/data.xml",
        b"<catalog region='west'><item id='1'><name>widget</name></item>"
        b"<item id='2'><name>gadget</name><note>fragile  item</note></item></catalog>",
    ))
    docs.append((
        "xml_invalid_fallback", "https://h5.example.com/f/bad.xml",
        b"<catalog><item>one</item><item>two</item>",
    ))

    docs.append((
        "txt_plain", "https://h6.example.com/g/note.txt",
        b"Plain text line one.\nLine two with  double space.\n",
    ))
    docs.append(("txt_empty", "https://h6.example.com/g/empty.txt", b""))
    docs.append((
        "txt_invalid_utf8", "https://h6.example.com/g/broken.txt",
        b"Good start \xff\xfe\xfa bad bytes end.",
    ))

    docs.append((
        "csv_quoted", "https://h7.example.com/h/table.csv",
        b'name,desc,qty\n"Smith, John","He said ""hi""",3\nplain,"multi\nline",7\n',
    ))

    docs.append((
        "rtf_basic", "https://h8.example.com/i/doc.rtf",
        rb"{\rtf1\ansi\deff0{\fonttbl{\f0 Helvetica;}}\f0\fs24 Hello \b bold\b0  world.\par Second\tab line \'e9 and \u233? done.\par}",
    ))

    docs.append((
        "eml_multipart", "https://h9.example.com/j/mail.eml",
        b"From: Alice <alice@example.com>\r\nTo: bob@example.com\r\n"
        b"Subject: Test message\r\nDate: Mon, 06 Jan 2025 10:00:00 +0000\r\n"
        b"MIME-Version: 1.0\r\nContent-Type: multipart/alternative; boundary=XYZ\r\n\r\n"
        b"--XYZ\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"
        b"Plain body text.\r\n"
        b"--XYZ\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        b"<html><body><p>HTML body</p></body></html>\r\n"
        b"--XYZ\r\nContent-Type: application/pdf\r\nContent-Disposition: attachment; filename=x.pdf\r\n\r\nBINARY\r\n"
        b"--XYZ--\r\n",
    ))
    docs.append((
        "eml_html_only", "https://h9.example.com/j/htmlonly.eml",
        b"From: carol@example.com\r\nSubject: HTML only\r\n"
        b"MIME-Version: 1.0\r\nContent-Type: multipart/alternative; boundary=AB\r\n\r\n"
        b"--AB\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        b"<html><body><h1>Only &amp; HTML</h1><p>body text</p></body></html>\r\n"
        b"--AB--\r\n",
    ))
    docs.append((
        "eml_simple", "https://h9.example.com/j/simple.eml",
        b"From: dan@example.com\r\nTo: erin@example.com\r\nSubject: Hi\r\n\r\nJust a simple body.\r\n",
    ))

    docs.append(("pdf_one_page", "https://ha.example.com/k/a.pdf",
                 _pdf_doc_pages(random.Random(11), npages=1, flate=False)))
    docs.append(("pdf_two_page_flate", "https://ha.example.com/k/b.pdf",
                 _pdf_doc_pages(random.Random(12), npages=2, flate=True)))
    docs.append(("pdf_image_based", "https://ha.example.com/k/scan.pdf",
                 _pdf_doc_pages(random.Random(13), npages=2, flate=False, empty=True)))
    good = _pdf_doc_pages(random.Random(14), npages=1, flate=False)
    docs.append(("pdf_truncated", "https://ha.example.com/k/cut.pdf", good[: len(good) // 3]))
    docs.append(("pdf_not_a_pdf", "https://ha.example.com/k/fake.pdf", b"this is not a pdf at all"))

    docs.append(("image_png", "https://hb.example.com/l/pic.png", _mk_png(640, 480)))
    docs.append(("image_gif", "https://hb.example.com/l/anim.gif",
                 b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 6))
    docs.append(("image_corrupt", "https://hb.example.com/l/bad.jpg", b"\xff\xd8\xff\x00trunc"))

    docs.append(("junk_binary", "https://hc.example.com/m/blob",
                 bytes(rng.getrandbits(8) for _ in range(128))))
    docs.append(("corrupt_docx", "https://hc.example.com/m/word.docx", b"PK\x03\x04fakezip"))

    # --- office zip-family fixtures (handcrafted writers, independent of the
    # kernels' parsers) ---
    import io
    import zipfile

    def _zip(entries: dict[str, str]) -> bytes:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for name, content in entries.items():
                # fixed timestamp: regeneration must be byte-stable (the
                # index-purity invariant pages_gen._zip_fixed already keeps)
                z.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), content)
        return buf.getvalue()

    W = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
    docx = _zip({
        "word/document.xml": f"""<w:document {W}><w:body>
            <w:p><w:r><w:t>First paragraph of the report.</w:t></w:r></w:p>
            <w:p><w:r><w:t>Second </w:t></w:r><w:r><w:t>paragraph.</w:t></w:r>
               <w:r><w:drawing/></w:r></w:p>
            <w:tbl>
              <w:tr><w:tc><w:p><w:r><w:t>Name</w:t></w:r></w:p></w:tc>
                    <w:tc><w:p><w:r><w:t>Qty</w:t></w:r></w:p></w:tc></w:tr>
              <w:tr><w:tc><w:p><w:r><w:t>Widget</w:t></w:r></w:p></w:tc>
                    <w:tc><w:p><w:r><w:t>3</w:t></w:r></w:p></w:tc></w:tr>
            </w:tbl></w:body></w:document>""",
        "word/header1.xml": f"<w:hdr {W}><w:p><w:r><w:t>Confidential</w:t></w:r></w:p></w:hdr>",
        "word/footer1.xml": f"<w:ftr {W}><w:p><w:r><w:t>Page footer text</w:t></w:r></w:p></w:ftr>",
    })
    docs.append(("docx_basic", "https://hd.example.com/n/report.docx", docx))

    P = ('xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
         'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"')
    slide1 = f"""<p:sld {P}><p:cSld><p:spTree>
        <p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>
          <p:txBody><a:p><a:r><a:t>Quarterly Review</a:t></a:r></a:p></p:txBody></p:sp>
        <p:sp><p:txBody><a:p><a:r><a:t>Revenue grew nicely.</a:t></a:r></a:p></p:txBody></p:sp>
        <p:pic/>
      </p:spTree></p:cSld></p:sld>"""
    slide2 = f"""<p:sld {P}><p:cSld><p:spTree>
        <p:graphicFrame><a:tbl>
          <a:tr><a:tc><a:txBody><a:p><a:r><a:t>Region</a:t></a:r></a:p></a:txBody></a:tc>
                <a:tc><a:txBody><a:p><a:r><a:t>Total</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
          <a:tr><a:tc><a:txBody><a:p><a:r><a:t>West</a:t></a:r></a:p></a:txBody></a:tc>
                <a:tc><a:txBody><a:p><a:r><a:t>42</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
        </a:tbl></p:graphicFrame>
      </p:spTree></p:cSld></p:sld>"""
    slide3 = f"<p:sld {P}><p:cSld><p:spTree/></p:cSld></p:sld>"
    docs.append(("pptx_basic", "https://hd.example.com/n/deck.pptx", _zip({
        "ppt/slides/slide1.xml": slide1,
        "ppt/slides/slide2.xml": slide2,
        "ppt/slides/slide3.xml": slide3,
    })))

    X = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    docs.append(("xlsx_basic", "https://hd.example.com/n/data.xlsx", _zip({
        "xl/workbook.xml": f'<workbook {X}><sheets><sheet name="Totals" sheetId="1"/></sheets></workbook>',
        "xl/sharedStrings.xml": f'<sst {X}><si><t>city</t></si><si><t>Paris</t></si></sst>',
        "xl/worksheets/sheet1.xml": f"""<worksheet {X}><sheetData>
           <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>2024</v></c></row>
           <row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>17.5</v></c></row>
         </sheetData></worksheet>""",
    })))

    T = 'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"'
    docs.append(("odt_basic", "https://hd.example.com/n/letter.odt", _zip({
        "content.xml": f"""<office:document-content {T}
             xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0">
           <office:body><office:text>
             <text:h text:outline-level="1">Introduction</text:h>
             <text:p>Dear reader, this is an ODT paragraph.</text:p>
             <text:p>Second paragraph here.</text:p>
           </office:text></office:body></office:document-content>""",
    })))

    docs.append(("epub_basic", "https://hd.example.com/n/book.epub", _zip({
        "META-INF/container.xml": """<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
           <rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles></container>""",
        "OEBPS/content.opf": """<package xmlns="http://www.idpf.org/2007/opf"
             xmlns:dc="http://purl.org/dc/elements/1.1/">
           <metadata><dc:title>Sample Book</dc:title><dc:creator>Jane Doe</dc:creator></metadata>
           <manifest><item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>
                     <item id="c2" href="ch2.xhtml" media-type="application/xhtml+xml"/></manifest>
           <spine><itemref idref="c1"/><itemref idref="c2"/></spine></package>""",
        "OEBPS/ch1.xhtml": "<html><head><style>p{}</style></head><body><h1>Chapter One</h1><p>It began quietly.</p></body></html>",
        "OEBPS/ch2.xhtml": "<html><body><h1>Chapter Two</h1><p>It ended loudly.</p></body></html>",
    })))
    docs.append(("doc_legacy", "https://hd.example.com/n/old.doc", b"\xd0\xcf\x11\xe0old-ole-doc"))
    docs.append(("ppt_legacy", "https://hd.example.com/n/old.ppt", b"\xd0\xcf\x11\xe0old-ole-ppt"))
    docs.append(("xls_legacy", "https://hd.example.com/n/old.xls", b"\xd0\xcf\x11\xe0old-ole-xls"))
    docs.append(("msg_stub", "https://hd.example.com/n/mail.msg", b"\xd0\xcf\x11\xe0old-ole-msg"))
    from universal_text_extractor_spark.sources.pages_gen import make_msg

    docs.append((
        "msg_basic", "https://hd.example.com/n/status.msg",
        make_msg("Alice Chen <alice@example.com>", "bob@example.com",
                 "Weekly status", "Hi Bob,\nAll systems nominal.\n\u2014 Alice"),
    ))
    # real BIFF8 workbook from the independent writer (strings via SST,
    # ints and floats via NUMBER, two sheets, sparse row)
    from universal_text_extractor_spark.sources.pages_gen import make_xls

    docs.append((
        "xls_basic", "https://hd.example.com/n/ledger.xls",
        make_xls([
            ("Ledger", [["item", "qty", "price"],
                        ["apple", 3, 1.5],
                        ["pear", 12, 0.25]]),
            ("Notes", [["only one cell"]]),
        ]),
    ))
    return docs


def ocr_fixtures() -> list[tuple[str, str, bytes]]:
    """K13 end-to-end scanned-page fixtures: extracted with use_ocr=True
    (the dispatcher's OCR branch), goldens lock the recognized text
    byte-for-byte. Writer-side rng pinned; regeneration is byte-stable."""
    from universal_text_extractor_spark.sources.pages_gen import make_ocr_page

    return [
        ("ocr_scan_basic", "https://he.example.com/o/scan1.png",
         make_ocr_page(random.Random(101), ["INVOICE 2024-017", "TOTAL: 1,250.00"])),
        ("ocr_scan_scale3_bmp", "https://he.example.com/o/scan2.bmp",
         make_ocr_page(random.Random(102),
                       ["QUARTERLY REPORT", "REVENUE UP 12?", "YES!"],
                       fmt="bmp", scale=3)),
        ("ocr_scan_punct", "https://he.example.com/o/scan3.png",
         make_ocr_page(random.Random(103), ["A-B: C.D,E'F", "LINE 2"], scale=2)),
        ("ocr_no_text", "https://he.example.com/o/noise.png",
         __import__(
             "universal_text_extractor_spark.sources.pages_gen",
             fromlist=["make_noise_image"],
         ).make_noise_image(random.Random(104))),
        ("ocr_scanned_pdf", "https://he.example.com/o/scan.pdf",
         _pdf_doc_pages(
             random.Random(105), npages=0, flate=True,
             scan_lines=[["CONTRACT NO. 7", "SIGNED: J. DOE"], ["APPENDIX A"]],
         )),
        ("ocr_scanned_pdf_jpeg", "https://he.example.com/o/scanjpeg.pdf",
         _pdf_doc_pages(
             random.Random(106), npages=0, flate=True, scan_codec="jpeg",
             scan_lines=[["RECEIPT NO. 4821", "PAID IN FULL."], ["COPY 2 OF 2"]],
         )),
    ]


def main() -> None:
    FIX.mkdir(parents=True, exist_ok=True)
    manifest = []
    todo = [(n, u, p, False) for n, u, p in fixtures()] + [
        (n, u, p, True) for n, u, p in ocr_fixtures()
    ]
    for name, url, payload, use_ocr in todo:
        ct = detect_content_type(url, payload)
        text, ocr_used, success, error, logs = extract_payload(
            url, payload, ct, ExtractOptions(use_ocr=use_ocr)
        )
        (FIX / f"{name}.bin").write_bytes(payload)
        (FIX / f"{name}.expected.txt").write_bytes(text.encode("utf-8"))
        entry = {
            "name": name, "url": url, "content_type": ct,
            "ocr_used": ocr_used, "success": success, "error": error,
        }
        if use_ocr:
            entry["use_ocr"] = True
        if ct == "html":
            from universal_text_extractor_spark.kernels.charset import detect_and_decode
            (FIX / f"{name}.main.txt").write_bytes(
                extract_main_content(detect_and_decode(payload)).encode("utf-8")
            )
            entry["has_main"] = True
        manifest.append(entry)
    (FIX / "manifest.json").write_text(json.dumps(manifest, indent=1))
    print(f"wrote {len(manifest)} fixtures to {FIX}")


if __name__ == "__main__":
    main()
