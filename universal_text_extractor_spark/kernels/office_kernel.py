"""Office/zip-family extraction kernels (K6 xlsx/ods, K9 DOCX, K10 PPTX,
K11 ODT/ODP, K12 EPUB — SURVEY.md §2.3) — stdlib zipfile + ElementTree
walks, no python-docx/pptx/odfpy/ebooklib, reproducing the reference's
framing literals:

- DOCX (reference utils/file_handlers.py:468-609): body paragraphs, then
  tables framed ``--- Table N ---`` with ``Header:`` / ``Row i:``
  pipe-joined rows; drawing/object placeholders; ``--- Header/Footer ---``
  sections; legacy-DOC and could-not-extract literals.
- PPTX (reference :611-775): per-slide ``--- Slide N ---``, ``Title:``,
  ``Text Box:``, table ``Table Header:``/``Table Row:``, ``Group Shape:``,
  image placeholders, empty-slide literals; slides joined with blank line.
- XLSX (reference :808-829): ``--- Sheet: name ---`` + pipe-separated rows
  (the pandas ``to_csv(sep="|")`` shape), sheets joined with blank line.
- ODS (reference :835-866): ``--- Table N ---`` + ``" | "``-joined rows.
- ODT/ODP (reference :1046-1088): ``Heading i: …`` lines first, then
  paragraphs, joined with newlines.
- EPUB (reference :1090-1144): ``Title:``/``Author:`` metadata block, then
  per-chapter HTML stripped via the K1 walk (get_text('\\n') semantics, no
  whitespace chunking), chapters joined with newlines.

All kernels are total functions: malformed zips/XML yield the reference's
error literals, never exceptions.
"""

from __future__ import annotations

import posixpath
import re
import xml.etree.ElementTree as ET

from . import limits
from .html_kernel import _walk as _html_walk


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _iter_local(elem: ET.Element, name: str):
    for e in elem.iter():
        if _local(e.tag) == name:
            yield e


def _text_of(elem: ET.Element, text_tag: str) -> str:
    """Concatenated text of all <text_tag> descendants (w:t / a:t)."""
    return "".join(
        (t.text or "") for t in elem.iter() if _local(t.tag) == text_tag
    )


def _zip_xml(zf: limits.Archive, name: str) -> ET.Element | None:
    try:
        return ET.fromstring(limits.read_member(zf, name))
    except Exception:
        return None


# --------------------------------------------------------------------- DOCX

_DOCX_FAIL = (
    "[Could not extract text from this document. It may be protected, "
    "corrupted, or contain primarily non-text elements like images and shapes.]"
)
DOC_LEGACY_LITERAL = (
    "[DOC (legacy format) file detected. For best results, convert to DOCX "
    "format. Legacy DOC files may contain embedded images and objects that "
    "cannot be processed.]"
)


def extract_docx(payload: bytes) -> tuple[str, list[str]]:
    logs = ["Attempting enhanced DOCX extraction (zip + document.xml walk)"]
    try:
        zf = limits.Archive(payload)
        root = _zip_xml(zf, "word/document.xml")
        if root is None:
            logs.append("All document extraction methods failed")
            return _DOCX_FAIL, logs
        body = next(_iter_local(root, "body"), None)
        text_parts: list[str] = []
        tables: list[ET.Element] = []
        if body is not None:
            for child in body:
                name = _local(child.tag)
                if name == "p":
                    para_text = _text_of(child, "t").strip()
                    if para_text:
                        text_parts.append(para_text)
                    # reference :503-512 placeholders
                    for _ in _iter_local(child, "drawing"):
                        text_parts.append(
                            "[Embedded image detected - may contain text. "
                            "Enable OCR for image text extraction.]"
                        )
                    for _ in _iter_local(child, "object"):
                        text_parts.append(
                            "[Embedded object detected - may contain text or data.]"
                        )
                elif name == "tbl":
                    tables.append(child)
        for table_idx, table in enumerate(tables, start=1):
            table_text = [f"\n--- Table {table_idx} ---"]  # reference :517
            for row_idx, row in enumerate(
                [r for r in table.iter() if _local(r.tag) == "tr"]
            ):
                row_text = [
                    _text_of(c, "t").strip()
                    for c in row.iter()
                    if _local(c.tag) == "tc"
                ]
                row_text = [c for c in row_text if c]
                if row_text:
                    if row_idx == 0:
                        table_text.append(f"Header: {' | '.join(row_text)}")
                    else:
                        table_text.append(f"Row {row_idx}: {' | '.join(row_text)}")
            text_parts.extend(table_text)
        # headers/footers (reference :543-562)
        hdr_names = sorted(
            n for n in zf.namelist() if re.fullmatch(r"word/header\d+\.xml", n)
        )
        ftr_names = sorted(
            n for n in zf.namelist() if re.fullmatch(r"word/footer\d+\.xml", n)
        )
        for n in hdr_names:
            r = _zip_xml(zf, n)
            if r is None:
                continue
            lines = [
                t for t in (_text_of(p, "t").strip() for p in _iter_local(r, "p")) if t
            ]
            if lines:
                text_parts.insert(0, "--- Header ---\n" + "\n".join(lines))
        for n in ftr_names:
            r = _zip_xml(zf, n)
            if r is None:
                continue
            lines = [
                t for t in (_text_of(p, "t").strip() for p in _iter_local(r, "p")) if t
            ]
            if lines:
                text_parts.append("--- Footer ---\n" + "\n".join(lines))
        extracted = "\n".join(text_parts)
        if extracted.strip():
            logs.append("Successfully extracted text from DOCX")
            return extracted, logs
        logs.append("All document extraction methods failed")
        return _DOCX_FAIL, logs
    except Exception as e:
        logs.append(f"DOCX extraction failed: {e}")
        return _DOCX_FAIL, logs


# --------------------------------------------------------------------- PPTX

PPT_LEGACY_LITERAL = (
    "[PPT (legacy format) file detected. For best results, convert to PPTX format.]"
)
_PPTX_EMPTY = (
    "[No text found in this presentation. It may contain only images, "
    "charts, or other non-text elements.]"
)


def _pptx_slide(root: ET.Element, idx: int) -> str:
    slide_text = [f"--- Slide {idx} ---"]  # reference :636
    found = False
    shape_count = 0
    sptree = next(_iter_local(root, "spTree"), None)
    if sptree is None:
        slide_text.append("[Empty slide or no accessible content]")
        return "\n".join(slide_text)
    for shape in sptree:
        name = _local(shape.tag)
        if name == "sp":
            shape_count += 1
            text = _text_of(shape, "t").strip()
            is_title = any(
                ph.get("type") in ("title", "ctrTitle")
                for ph in _iter_local(shape, "ph")
            )
            if text:
                if is_title:
                    slide_text.append(f"Title: {text}")  # reference :642
                else:
                    slide_text.append(f"Text Box: {text}")  # reference :659
                found = True
        elif name == "graphicFrame":
            shape_count += 1
            tbl = next(_iter_local(shape, "tbl"), None)
            if tbl is not None:
                table_text = []
                for row_idx, row in enumerate(
                    [r for r in tbl.iter() if _local(r.tag) == "tr"]
                ):
                    row_text = [
                        _text_of(c, "t").strip()
                        for c in row
                        if _local(c.tag) == "tc"
                    ]
                    row_text = [c for c in row_text if c]
                    if row_text:
                        if row_idx == 0:
                            table_text.append(f"Table Header: {' | '.join(row_text)}")
                        else:
                            table_text.append(f"Table Row: {' | '.join(row_text)}")
                if table_text:
                    slide_text.extend(table_text)
                    found = True
        elif name == "grpSp":
            shape_count += 1
            group_text = [
                t
                for t in (
                    _text_of(s, "t").strip()
                    for s in shape
                    if _local(s.tag) == "sp"
                )
                if t
            ]
            if group_text:
                slide_text.append(f"Group Shape: {' '.join(group_text)}")
                found = True
        elif name == "pic":
            shape_count += 1
            slide_text.append(
                "[Image detected - may contain text. Enable OCR for image "
                "text extraction.]"
            )
    if not found:
        if shape_count > 0:
            slide_text.append(
                f"[Slide contains {shape_count} shapes but no extractable text found]"
            )
        else:
            slide_text.append("[Empty slide or no accessible content]")
    return "\n".join(slide_text)


def extract_pptx(payload: bytes) -> tuple[str, list[str]]:
    logs = ["Attempting PPTX extraction (zip + slide XML walk)"]
    try:
        zf = limits.Archive(payload)
        slide_names = sorted(
            (n for n in zf.namelist() if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=lambda n: int(re.search(r"(\d+)", n).group(1)),
        )
        slide_texts = []
        for idx, n in enumerate(slide_names, start=1):
            root = _zip_xml(zf, n)
            if root is not None:
                slide_texts.append(_pptx_slide(root, idx))
        extracted = "\n\n".join(slide_texts)
        if extracted.strip():
            logs.append(f"Processed {len(slide_names)} slides")
            return extracted, logs
        logs.append("No text found in presentation")
        return _PPTX_EMPTY, logs
    except Exception as e:
        logs.append(f"PPTX extraction failed: {e}")
        return f"[Error extracting presentation text: {e}]", logs


# --------------------------------------------------------------- XLSX / ODS

XLS_LEGACY_LITERAL = (
    "[Could not extract data from XLS file. Required libraries not "
    "available or file is corrupted/protected.]"
)


def _col_ref_to_idx(ref: str) -> int:
    col = 0
    for ch in ref:
        if ch.isalpha():
            col = col * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return col - 1


def extract_xlsx(payload: bytes) -> tuple[str, list[str]]:
    """``--- Sheet: name ---`` + pipe-separated rows (reference :808-829)."""
    logs = ["Attempting XLSX extraction (zip + worksheet XML walk)"]
    try:
        zf = limits.Archive(payload)
        shared: list[str] = []
        ss = _zip_xml(zf, "xl/sharedStrings.xml")
        if ss is not None:
            for si in _iter_local(ss, "si"):
                shared.append(_text_of(si, "t"))
        wb = _zip_xml(zf, "xl/workbook.xml")
        # resolve sheet parts via workbook.xml.rels r:id (r5 review,
        # batch 4: after a sheet delete/reorder the element order no
        # longer matches sheetN.xml numbering — enumeration paired names
        # with the wrong or a nonexistent part); enumeration stays the
        # fallback for writers that omit the rels part
        rels: dict[str, str] = {}
        rel_root = _zip_xml(zf, "xl/_rels/workbook.xml.rels")
        if rel_root is not None:
            for rel in _iter_local(rel_root, "Relationship"):
                rid, target = rel.get("Id"), rel.get("Target", "")
                if rid and target:
                    t = target.lstrip("/")
                    rels[rid] = t if t.startswith("xl/") else f"xl/{t}"
        sheets = []  # (name, path)
        if wb is not None:
            for i, sh in enumerate(_iter_local(wb, "sheet"), start=1):
                rid = next(
                    (v for k, v in sh.attrib.items() if k.endswith("}id")),
                    None,
                )
                path = rels.get(rid) if rid else None
                sheets.append(
                    (
                        sh.get("name", f"Sheet{i}"),
                        path or f"xl/worksheets/sheet{i}.xml",
                    )
                )
        sheet_texts = []
        for name, path in sheets:
            root = _zip_xml(zf, path)
            if root is None:
                continue
            lines = []
            for row in _iter_local(root, "row"):
                cells: list[str] = []
                for c in (c for c in row if _local(c.tag) == "c"):
                    v = next(_iter_local(c, "v"), None)
                    raw = v.text if v is not None and v.text else ""
                    if not raw and c.get("t") == "inlineStr":
                        # inline-string cells carry <is><t>…</t></is> and
                        # no <v> — they extracted as empty (r5 review,
                        # batch 4)
                        is_el = next(_iter_local(c, "is"), None)
                        if is_el is not None:
                            raw = "".join(is_el.itertext())
                    if c.get("t") == "s" and raw:
                        try:
                            raw = shared[int(raw)]
                        except (ValueError, IndexError):
                            pass
                    idx = _col_ref_to_idx(c.get("r", ""))
                    if idx >= 0:
                        while len(cells) < idx:
                            cells.append("")
                    cells.append(raw)
                lines.append("|".join(cells))
            sheet_texts.append(f"--- Sheet: {name} ---\n" + "\n".join(lines) + "\n")
        if sheet_texts:
            logs.append(f"Successfully extracted data from {len(sheet_texts)} sheets")
            return "\n\n".join(sheet_texts), logs
        logs.append("All spreadsheet extraction methods failed")
        return XLS_LEGACY_LITERAL.replace("XLS ", "XLSX "), logs
    except Exception as e:
        logs.append(f"XLSX extraction failed: {e}")
        return XLS_LEGACY_LITERAL.replace("XLS ", "XLSX "), logs


def extract_ods(payload: bytes) -> tuple[str, list[str]]:
    """``--- Table N ---`` + " | "-joined rows (reference :835-866)."""
    logs = ["Attempting ODS extraction (zip + content.xml walk)"]
    try:
        zf = limits.Archive(payload)
        root = _zip_xml(zf, "content.xml")
        if root is None:
            raise ValueError("no content.xml")
        table_texts = []
        for table_idx, table in enumerate(_iter_local(root, "table"), start=1):
            table_text = [f"--- Table {table_idx} ---"]
            for row in _iter_local(table, "table-row"):
                row_values = []
                for cell in (c for c in row if _local(c.tag) == "table-cell"):
                    ps = ["".join(p.itertext()) for p in _iter_local(cell, "p")]
                    row_values.append(" ".join(ps) if ps else "")
                table_text.append(" | ".join(row_values))
            table_texts.append("\n".join(table_text))
        if table_texts:
            logs.append(f"Successfully extracted data from {len(table_texts)} tables")
            return "\n\n".join(table_texts), logs
        return "[Unsupported spreadsheet format or extraction failed.]", logs
    except Exception as e:
        logs.append(f"ODS extraction failed: {e}")
        return (
            "[Could not extract data from ODS file. Required libraries not "
            "available or file is corrupted/protected.]",
            logs,
        )


# ----------------------------------------------------------------- ODT/ODP

def extract_odf(payload: bytes) -> tuple[str, list[str]]:
    """Headings first (``Heading i: …``), then paragraphs
    (reference :1046-1088)."""
    logs = ["Extracting text from ODF document"]
    try:
        zf = limits.Archive(payload)
        root = _zip_xml(zf, "content.xml")
        if root is None:
            raise ValueError("no content.xml")
        headings = []
        paragraphs = []
        for e in root.iter():
            name = _local(e.tag)
            if name == "h":
                level = e.get(
                    "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}outline-level",
                    "1",
                )
                headings.append(f"Heading {level}: {''.join(e.itertext())}")
            elif name == "p":
                paragraphs.append("".join(e.itertext()))
        all_parts = headings + paragraphs
        extracted = "\n".join(p for p in all_parts if p.strip())
        logs.append("Successfully extracted text from ODF document")
        return extracted, logs
    except Exception as e:
        logs.append(f"ODF extraction failed: {e}")
        return f"[Error extracting ODF text: {e}]", logs


# -------------------------------------------------------------------- EPUB

def extract_epub(payload: bytes) -> tuple[str, list[str]]:
    """``Title:``/``Author:`` metadata + per-chapter HTML→text
    (reference :1090-1144; chapter HTML handled by the K1 walk)."""
    logs = ["Extracting text from EPUB"]
    try:
        zf = limits.Archive(payload)
        container = _zip_xml(zf, "META-INF/container.xml")
        opf_path = None
        if container is not None:
            rf = next(_iter_local(container, "rootfile"), None)
            if rf is not None:
                opf_path = rf.get("full-path")
        if not opf_path:
            raise ValueError("no OPF rootfile")
        opf = _zip_xml(zf, opf_path)
        if opf is None:
            raise ValueError("unreadable OPF")
        title = "Untitled"
        creator = "Unknown"
        for e in opf.iter():
            if _local(e.tag) == "title" and e.text:
                title = e.text
                break
        for e in opf.iter():
            if _local(e.tag) == "creator" and e.text:
                creator = e.text
                break
        base = posixpath.dirname(opf_path)
        items = {}
        spine_order = []
        for e in _iter_local(opf, "item"):
            items[e.get("id")] = (e.get("href"), e.get("media-type", ""))
        for e in _iter_local(opf, "itemref"):
            spine_order.append(e.get("idref"))
        contents = []
        for idref in spine_order:
            href, mtype = items.get(idref, (None, ""))
            if not href or "html" not in mtype:
                continue
            path = posixpath.normpath(posixpath.join(base, href)) if base else href
            try:
                html_content = limits.read_member(zf, path).decode("utf-8")
            except Exception:
                continue
            _, texts = _html_walk(html_content)  # script/style already dropped
            contents.append("\n".join(texts))
        metadata = f"Title: {title}\nAuthor: {creator}\n\n"
        logs.append("Successfully extracted text from EPUB")
        return metadata + "\n".join(contents), logs
    except Exception as e:
        logs.append(f"EPUB extraction failed: {e}")
        return f"[Error extracting EPUB text: {e}]", logs


