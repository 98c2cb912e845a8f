"""Content-type detection + dispatch (S2/D1/D2, SURVEY.md §2.1-2.2).

``detect_content_type`` mirrors the reference detector
(reference utils/file_handlers.py:94-145): extension lookup against the
7-category taxonomy first, then a content sniff standing in for the
reference's ``mimetypes.guess_type`` fallback (our input is a binary column,
not a file path, so the sniff reads magic bytes instead of guessing from the
path — BASELINE.json input_hint).

``detect_content_type`` is the sniff the extraction path runs: the
``mapInArrow`` dispatch (operators/extract.py) calls it per row. Its rules
are *also* implemented as a pure Spark Column expression in
``functions/sniff.py``, which now serves only the benchmark's sniff probe
and the parity test that keeps the two rule-identical over the full
synthetic corpus (tests/test_dispatch.py). Change both or neither until
that twin is deleted.

``extract_payload`` is the 12-way dispatcher + error-containment wrapper
(reference utils/file_handlers.py:174-259): any kernel exception becomes the
``[Error extracting text: …]`` literal (reference :257); unknown types the
``[Unsupported file type: …]`` literal (reference :253).
"""

from __future__ import annotations

import re

from .charset import decode_utf8_replace, detect_and_decode
from .csv_kernel import extract_csv
from .eml_kernel import extract_eml
from .html_kernel import extract_html
from .image_kernel import extract_image_metadata
from .office_kernel import (
    DOC_LEGACY_LITERAL,
    PPT_LEGACY_LITERAL,
    extract_docx,
    extract_epub,
    extract_ods,
    extract_odf,
    extract_pptx,
    extract_xlsx,
)
from .pdf_kernel import extract_pdf
from .rtf_kernel import extract_rtf
from .xml_kernel import extract_xml

# Reference taxonomy: 7 categories × 29 extensions
# (reference utils/file_handlers.py:94-105).
SUPPORTED_FILE_TYPES = {
    "Documents": ["pdf", "doc", "docx", "rtf", "odt", "txt"],
    "Images": ["jpg", "jpeg", "png", "tiff", "tif", "bmp", "gif", "webp", "heic", "heif"],
    "Presentations": ["ppt", "pptx", "odp"],
    "Spreadsheets": ["xls", "xlsx", "ods", "csv"],
    "Web": ["html", "htm", "xml"],
    "Email": ["eml", "msg"],
    "Ebooks": ["epub"],
}

# extension -> dispatch branch. html/htm collapse to "html"; all image
# extensions collapse to "image" (one UDF branch each).
EXT_TO_TYPE: dict[str, str] = {}
for _cat, _exts in SUPPORTED_FILE_TYPES.items():
    for _e in _exts:
        EXT_TO_TYPE[_e] = _e
for _e in ("htm",):
    EXT_TO_TYPE[_e] = "html"
for _e in ("jpg", "jpeg", "png", "tiff", "tif", "bmp", "gif", "webp", "heic", "heif"):
    EXT_TO_TYPE[_e] = "image"
# north-star extension beyond the reference taxonomy: crawls store
# gzip-compressed bodies; the payload decompresses transparently and
# re-dispatches (mirrored in functions/sniff.py — keep in sync)
EXT_TO_TYPE["gz"] = "gzip"
EXT_TO_TYPE["xz"] = "xz"
EXT_TO_TYPE["bz2"] = "bzip2"

# url extension capture: last dot-segment of the path, before ?/#.
# Mirrored in functions/sniff.py as a regexp_extract — keep in sync.
URL_EXT_PATTERN = r"^[^?#]*/[^/?#]*\.([A-Za-z0-9]{1,5})(?:[?#].*)?$"
_URL_EXT_RE = re.compile(URL_EXT_PATTERN)
_LEADING_WS_RE = re.compile(r"^[ \t\r\n\f]+")

# gzip decompression bomb cap (bytes of decompressed output per payload)
_GZIP_CAP = 128 * 1024 * 1024


def _gunzip_members(payload: bytes, logs: list[str]) -> bytes:
    """Decompress ALL concatenated gzip members under the shared bomb cap
    (crawl payloads are often member-concatenated, like .warc.gz — the
    single-member decompress silently dropped everything after member 1).
    A TRUNCATED stream raises (D2 containment → error literal): at crawl
    scale a cut-off document must not enter the corpus flagged clean with
    partial text. Non-gzip trailing bytes after a complete member are
    discarded with a log line (zero padding is spec-legal and silent)."""
    import zlib as _zlib

    out = bytearray()
    data = payload
    while True:
        dobj = _zlib.decompressobj(wbits=31)
        budget = _GZIP_CAP - len(out)
        out += dobj.decompress(data, budget + 1)
        if len(out) > _GZIP_CAP or dobj.unconsumed_tail:
            raise ValueError("gzip payload exceeds decompression cap")
        if not dobj.eof:
            raise ValueError("gzip stream truncated or corrupt")
        data = dobj.unused_data.lstrip(b"\x00")
        if not data:
            return bytes(out)
        if not data.startswith(b"\x1f\x8b"):
            logs.append(
                f"Discarded {len(data)} trailing non-gzip bytes after "
                "gzip member"
            )
            return bytes(out)


def _unxz_streams(payload: bytes, logs: list[str]) -> bytes:
    """xz twin of :func:`_gunzip_members`: all concatenated xz streams,
    shared cap, truncation raises, non-xz tail discarded with a log."""
    import lzma as _lzma

    out = bytearray()
    data = payload
    while True:
        dobj = _lzma.LZMADecompressor(format=_lzma.FORMAT_XZ)
        budget = _GZIP_CAP - len(out)
        out += dobj.decompress(data, budget + 1)
        if len(out) > _GZIP_CAP:
            raise ValueError("xz payload exceeds decompression cap")
        if not dobj.eof:
            raise ValueError("xz stream truncated or corrupt")
        data = dobj.unused_data.lstrip(b"\x00")
        if not data:
            return bytes(out)
        if not data.startswith(b"\xfd7zXZ\x00"):
            logs.append(
                f"Discarded {len(data)} trailing non-xz bytes after xz stream"
            )
            return bytes(out)


def _unbz2_streams(payload: bytes, logs: list[str]) -> bytes:
    """bzip2 twin of :func:`_gunzip_members`: all concatenated bz2 streams
    (the pbzip2/wiki-dump layout is one stream per block), shared cap,
    truncation raises, non-bz2 tail discarded with a log."""
    import bz2 as _bz2

    out = bytearray()
    data = payload
    while True:
        dobj = _bz2.BZ2Decompressor()
        budget = _GZIP_CAP - len(out)
        out += dobj.decompress(data, budget + 1)
        if len(out) > _GZIP_CAP:
            raise ValueError("bzip2 payload exceeds decompression cap")
        if not dobj.eof:
            raise ValueError("bzip2 stream truncated or corrupt")
        data = dobj.unused_data.lstrip(b"\x00")
        if not data:
            return bytes(out)
        if not data.startswith(b"BZh"):
            logs.append(
                f"Discarded {len(data)} trailing non-bz2 bytes after "
                "bzip2 stream"
            )
            return bytes(out)


def url_extension(url: str) -> str | None:
    m = _URL_EXT_RE.match(url or "")
    return m.group(1).lower() if m else None


def _sniff_magic(payload: bytes) -> str | None:
    """Byte-level magic sniff. Rule-identical to functions/sniff.py."""
    if payload.startswith(b"%PDF"):
        return "pdf"
    if (
        payload.startswith(b"\x89PNG\r\n\x1a\n")
        or payload.startswith(b"GIF87a")
        or payload.startswith(b"GIF89a")
        or payload.startswith(b"\xff\xd8\xff")
        or payload.startswith(b"BM")
        or (payload.startswith(b"RIFF") and payload[8:12] == b"WEBP")
        or (
            payload[4:8] == b"ftyp"
            and payload[8:12] in (b"heic", b"heix", b"heif", b"mif1", b"msf1")
        )
    ):
        return "image"
    if payload.startswith(b"{\\rtf"):
        return "rtf"
    if payload.startswith(b"\x1f\x8b"):
        return "gzip"
    if payload.startswith(b"\xfd7zXZ\x00"):
        return "xz"
    if payload.startswith(b"BZh"):
        return "bzip2"
    return None


def _sniff_markup(payload: bytes) -> str | None:
    """Prefix sniff on the first 256 bytes, interpreted as UTF-8 with
    replacement (same result as Spark's binary→string cast for the ASCII
    prefixes this rule matches)."""
    prefix = payload[:256].decode("utf-8", errors="replace")
    prefix = _LEADING_WS_RE.sub("", prefix).lower()
    if prefix.startswith("<?xml"):
        return "xml"
    if prefix.startswith(("<!doctype html", "<html", "<head", "<body")):
        return "html"
    return None


def _sniff_text(payload: bytes) -> bool:
    """True iff the first 256 bytes contain no control byte other than
    tab/LF/CR — the byte-level plain-text rule (mirrored in sniff.py as a
    regexp over hex pairs)."""
    return all(b in (9, 10, 13) or b >= 32 for b in payload[:256])


def detect_content_type(url: str, payload: bytes) -> str:
    """Extension lookup first (reference utils/file_handlers.py:122-124),
    then content sniff (standing in for the mimetypes fallback, :127-142),
    default ``"unknown"`` (:145)."""
    ext = url_extension(url)
    if ext is not None and ext in EXT_TO_TYPE:
        return EXT_TO_TYPE[ext]
    payload = payload or b""
    t = _sniff_magic(payload)
    if t:
        return t
    t = _sniff_markup(payload)
    if t:
        return t
    if len(payload) > 0 and _sniff_text(payload):
        return "txt"
    return "unknown"


def extract_payload(
    url: str,
    payload: bytes,
    content_type: str | None = None,
    use_ocr: bool = False,
    main_content: bool = False,
    ocr_language: str = "eng",
    handwriting_mode: bool = False,
    legacy_office: bool = False,
) -> tuple[str, bool, bool, str | None, list[str]]:
    """The dispatcher (reference utils/file_handlers.py:147-259).

    Returns ``(text, ocr_used, success, error, logs)`` where
    ``success = no exception AND text.strip() != ""`` (D2+D3 semantics,
    reference :255-257 and app.py:494-500).

    ``main_content=True`` swaps the HTML branch to Readability-style
    boilerplate removal (north-star extension; BASELINE.json north_star
    "DOM-tree boilerplate removal (text-density and link-density
    heuristics)") — every other branch is unchanged, so the reference
    byte-identity contract holds for all non-HTML types in this mode too.

    ``legacy_office=True`` swaps the doc/ppt branches from the
    reference's informative literals (:601, :769) to real [MS-DOC]/
    [MS-PPT] parsers (kernels/legacy_office.py) — same default-off
    pattern; defaults keep all goldens.
    """
    logs: list[str] = []
    ocr_used = False
    error: str | None = None
    if content_type is None:
        content_type = detect_content_type(url, payload)
        logs.append(f"Auto-detected file type: {content_type}")
    file_type = content_type.lower()
    text = ""
    try:
        if file_type == "pdf":
            text, ocr_used, k_logs = extract_pdf(payload or b"", use_ocr=use_ocr)
            logs.extend(k_logs)
        elif file_type == "image":
            if use_ocr:
                # K13 REAL since r3: deterministic glyph recognizer
                # (kernels/ocr_kernel.py) standing in for the reference's
                # Tesseract/EasyOCR cascade; ocr_used + log per reference
                # utils/file_handlers.py:182-196.
                from .ocr_kernel import perform_ocr

                text = perform_ocr(
                    payload or b"", ocr_language, handwriting_mode
                )
                ocr_used = True
                logs.append(
                    f"Performed OCR on image with language: {ocr_language}"
                )
            else:
                text, k_logs = extract_image_metadata(payload or b"")
                logs.extend(k_logs)
        elif file_type == "txt":
            text = decode_utf8_replace(payload or b"")
            logs.append("Extracted text from TXT file")  # reference :224
        elif file_type == "rtf":
            text, k_logs = extract_rtf(decode_utf8_replace(payload or b""))
            logs.extend(k_logs)
        elif file_type == "html":
            if main_content:
                from .html_kernel import extract_main_content

                text = extract_main_content(detect_and_decode(payload or b""))
                logs.append(
                    "Extracted main content from HTML (boilerplate removed)"
                )
            else:
                text, k_logs = extract_html(detect_and_decode(payload or b""))
                logs.extend(k_logs)
        elif file_type == "xml":
            text, k_logs = extract_xml(decode_utf8_replace(payload or b""))
            logs.extend(k_logs)
        elif file_type == "csv":
            text, k_logs = extract_csv(decode_utf8_replace(payload or b""))
            logs.extend(k_logs)
        elif file_type == "eml":
            text, k_logs = extract_eml(decode_utf8_replace(payload or b""))
            logs.extend(k_logs)
        elif file_type == "docx":
            text, k_logs = extract_docx(payload or b"")
            logs.extend(k_logs)
        elif file_type == "pptx":
            text, k_logs = extract_pptx(payload or b"")
            logs.extend(k_logs)
        elif file_type == "xlsx":
            text, k_logs = extract_xlsx(payload or b"")
            logs.extend(k_logs)
        elif file_type == "ods":
            text, k_logs = extract_ods(payload or b"")
            logs.extend(k_logs)
        elif file_type in ("odt", "odp"):
            text, k_logs = extract_odf(payload or b"")
            logs.extend(k_logs)
        elif file_type == "epub":
            text, k_logs = extract_epub(payload or b"")
            logs.extend(k_logs)
        elif file_type == "doc":
            if legacy_office:
                # beyond-reference opt-in: real [MS-DOC] piece-table walk
                from .legacy_office import extract_doc

                text, k_logs = extract_doc(payload or b"")
                logs.extend(k_logs)
            else:
                # reference utils/file_handlers.py:601
                text = DOC_LEGACY_LITERAL
                logs.append(
                    "Legacy DOC format detected, limited extraction support"
                )
        elif file_type == "ppt":
            if legacy_office:
                # beyond-reference opt-in: real [MS-PPT] record walk
                from .legacy_office import extract_ppt

                text, k_logs = extract_ppt(payload or b"")
                logs.extend(k_logs)
            else:
                # reference utils/file_handlers.py:769
                text = PPT_LEGACY_LITERAL
                logs.append(
                    "Legacy PPT format detected, limited extraction support"
                )
        elif file_type == "xls":
            # reference utils/file_handlers.py:808-829 (pandas path framing,
            # re-expressed as a hand-rolled CFB+BIFF8 walk; the reference
            # literal :870-872 remains the parse-failure path)
            from .xls_kernel import extract_xls

            text, k_logs = extract_xls(payload or b"")
            logs.extend(k_logs)
        elif file_type == "xz":
            # same transparent-decompression contract as gzip: all
            # concatenated streams, shared bomb cap, truncation raises
            inner = _unxz_streams(payload or b"", logs)
            inner_url = url[:-3] if (url or "").lower().endswith(".xz") else url
            inner_ct = detect_content_type(inner_url, inner)
            if inner_ct in ("gzip", "xz", "bzip2"):
                inner_ct = "unknown"  # one level only
            logs.append(
                f"Decompressed xz payload "
                f"({len(payload or b'')} -> {len(inner)} bytes)"
            )
            text, ocr_used, _s, error, k_logs = extract_payload(
                inner_url, inner, inner_ct,
                use_ocr=use_ocr, main_content=main_content,
                ocr_language=ocr_language, handwriting_mode=handwriting_mode,
                legacy_office=legacy_office,
            )
            logs.extend(k_logs)
        elif file_type == "gzip":
            # transparent crawl-payload decompression (north-star
            # extension; the reference has no gzip path): gunzip ALL
            # members with a bomb cap, strip the .gz suffix, re-detect,
            # dispatch once (no nested gzip recursion)
            inner = _gunzip_members(payload or b"", logs)
            inner_url = url[:-3] if (url or "").lower().endswith(".gz") else url
            inner_ct = detect_content_type(inner_url, inner)
            if inner_ct in ("gzip", "xz", "bzip2"):
                inner_ct = "unknown"  # one level only
            logs.append(
                f"Decompressed gzip payload "
                f"({len(payload or b'')} -> {len(inner)} bytes)"
            )
            text, ocr_used, _s, error, k_logs = extract_payload(
                inner_url, inner, inner_ct,
                use_ocr=use_ocr, main_content=main_content,
                ocr_language=ocr_language, handwriting_mode=handwriting_mode,
                legacy_office=legacy_office,
            )
            logs.extend(k_logs)
        elif file_type == "bzip2":
            # same transparent-decompression contract as gzip/xz: all
            # concatenated streams, shared bomb cap, truncation raises
            inner = _unbz2_streams(payload or b"", logs)
            inner_url = url[:-4] if (url or "").lower().endswith(".bz2") else url
            inner_ct = detect_content_type(inner_url, inner)
            if inner_ct in ("gzip", "xz", "bzip2"):
                inner_ct = "unknown"  # one level only
            logs.append(
                f"Decompressed bzip2 payload "
                f"({len(payload or b'')} -> {len(inner)} bytes)"
            )
            text, ocr_used, _s, error, k_logs = extract_payload(
                inner_url, inner, inner_ct,
                use_ocr=use_ocr, main_content=main_content,
                ocr_language=ocr_language, handwriting_mode=handwriting_mode,
                legacy_office=legacy_office,
            )
            logs.extend(k_logs)
        elif file_type == "msg":
            # reference utils/file_handlers.py:1231-1252 (extract_msg path,
            # re-expressed as a CFB + MAPI-property-stream walk)
            from .msg_kernel import extract_msg

            text, k_logs = extract_msg(payload or b"")
            logs.extend(k_logs)
        else:
            # unknown AND declared-but-stubbed office formats
            # (reference :250-253)
            logs.append(f"Unsupported file type: {file_type}")
            text = f"[Unsupported file type: {file_type}]"
    except Exception as e:  # D2 containment, reference :255-257
        logs.append(f"Error extracting text: {e}")
        text = f"[Error extracting text: {e}]"
        error = str(e)
    success = error is None and bool(text.strip())
    return text, ocr_used, success, error, logs
