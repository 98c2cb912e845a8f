"""Content-type detection + dispatch (S2/D1/D2, SURVEY.md §2.1-2.2).

``detect_content_type`` mirrors the reference detector
(reference utils/file_handlers.py:94-145): extension lookup against the
7-category taxonomy first, then a content sniff standing in for the
reference's ``mimetypes.guess_type`` fallback (our input is a binary column,
not a file path, so the sniff reads magic bytes instead of guessing from the
path — BASELINE.json input_hint).

``detect_content_type`` is the package's one content sniffer: the
``mapInArrow`` dispatch (operators/extract.py) calls it per row, and
``functions/sniff.py`` maps it over Arrow batches as a Column.

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
from .image_kernel import extract_image_metadata, image_format
from .limits import CODEC_BY_TYPE, CODECS, decompress_streams
from .msg_kernel import extract_msg
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
from .options import ExtractOptions
from .pdf_kernel import extract_pdf
from .rtf_kernel import extract_rtf
from .xls_kernel import extract_xls
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

# extension -> content type. html/htm collapse to "html"; all image
# extensions collapse to "image".
EXT_TO_TYPE: dict[str, str] = {}
for _cat, _exts in SUPPORTED_FILE_TYPES.items():
    for _e in _exts:
        EXT_TO_TYPE[_e] = _e
for _e in ("htm",):
    EXT_TO_TYPE[_e] = "html"
for _e in SUPPORTED_FILE_TYPES["Images"]:
    EXT_TO_TYPE[_e] = "image"
# north-star extension beyond the reference taxonomy: crawls store
# compressed bodies; the payload decompresses transparently and
# re-dispatches (kernels/limits.py CODECS)
for _c in CODECS:
    EXT_TO_TYPE[_c.ext] = _c.type_name

# url extension capture: last dot-segment of the path, before ?/#
_URL_EXT_RE = re.compile(r"^[^?#]*/[^/?#]*\.([A-Za-z0-9]{1,5})(?:[?#].*)?$")
_LEADING_WS_RE = re.compile(r"^[ \t\r\n\f]+")


def url_extension(url: str) -> str | None:
    m = _URL_EXT_RE.match(url or "")
    return m.group(1).lower() if m else None


def _sniff_magic(payload: bytes) -> str | None:
    """Byte-level magic sniff."""
    if payload.startswith(b"%PDF"):
        return "pdf"
    if image_format(payload) is not None:
        return "image"
    if payload.startswith(b"{\\rtf"):
        return "rtf"
    for c in CODECS:
        if payload.startswith(c.magic):
            return c.type_name
    return None


def _sniff_markup(payload: bytes) -> str | None:
    """Prefix sniff on the first 256 bytes, interpreted as UTF-8 with
    replacement."""
    prefix = payload[:256].decode("utf-8", errors="replace")
    prefix = _LEADING_WS_RE.sub("", prefix).lower()
    if prefix.startswith("<?xml"):
        return "xml"
    if prefix.startswith(("<!doctype html", "<html", "<head", "<body")):
        return "html"
    return None


def _sniff_text(payload: bytes) -> bool:
    """True iff the first 256 bytes contain no control byte other than
    tab/LF/CR — the byte-level plain-text rule."""
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


def _raw(payload: bytes) -> bytes:
    return payload


# content type → (payload decoder, kernel): every type whose branch is one
# ``kernel(decode(payload))`` call
_KERNELS = {
    "rtf": (decode_utf8_replace, extract_rtf),
    "xml": (decode_utf8_replace, extract_xml),
    "csv": (decode_utf8_replace, extract_csv),
    "eml": (decode_utf8_replace, extract_eml),
    "docx": (_raw, extract_docx),
    "pptx": (_raw, extract_pptx),
    "xlsx": (_raw, extract_xlsx),
    "ods": (_raw, extract_ods),
    "odt": (_raw, extract_odf),
    "odp": (_raw, extract_odf),
    "epub": (_raw, extract_epub),
    # reference :808-829 (pandas framing → CFB+BIFF8 walk; literal :870-872
    # stays the parse-failure path)
    "xls": (_raw, extract_xls),
    "msg": (_raw, extract_msg),  # reference :1231-1252 (CFB + MAPI walk)
}


def extract_payload(
    url: str,
    payload: bytes,
    content_type: str | None = None,
    options: ExtractOptions = ExtractOptions(),
) -> tuple[str, bool, bool, str | None, list[str]]:
    """The dispatcher (reference utils/file_handlers.py:147-259).

    Returns ``(text, ocr_used, success, error, logs)`` where
    ``success = no exception AND text.strip() != ""`` (D2+D3 semantics,
    reference :255-257 and app.py:494-500).

    ``options`` (:class:`~.options.ExtractOptions`) reaches every branch
    that reads it, the codec recursion included. ``main_content`` swaps
    the HTML branch to Readability-style boilerplate removal (north-star
    extension; BASELINE.json north_star "DOM-tree boilerplate removal
    (text-density and link-density heuristics)") — every other branch is
    unchanged, so the reference byte-identity contract holds for all
    non-HTML types in this mode too. ``legacy_office`` swaps the doc/ppt
    branches from the reference's informative literals (:601, :769) to
    real [MS-DOC]/[MS-PPT] parsers (kernels/legacy_office.py) — same
    default-off pattern; defaults keep all goldens.
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
            text, ocr_used, k_logs = extract_pdf(payload or b"", options)
            logs.extend(k_logs)
        elif file_type == "image":
            if options.use_ocr:
                # K13 REAL since r3: deterministic glyph recognizer
                # (kernels/ocr_kernel.py) standing in for the reference's
                # Tesseract/EasyOCR cascade; ocr_used + log per reference
                # utils/file_handlers.py:182-196.
                from .ocr_kernel import perform_ocr

                text = perform_ocr(
                    payload or b"", options.ocr_language,
                    options.handwriting_mode,
                )
                ocr_used = True
                logs.append(
                    "Performed OCR on image with language: "
                    f"{options.ocr_language}"
                )
            else:
                text, k_logs = extract_image_metadata(payload or b"")
                logs.extend(k_logs)
        elif file_type == "txt":
            text = decode_utf8_replace(payload or b"")
            logs.append("Extracted text from TXT file")  # reference :224
        elif file_type == "html":
            if options.main_content:
                from .html_kernel import extract_main_content

                text = extract_main_content(detect_and_decode(payload or b""))
                logs.append(
                    "Extracted main content from HTML (boilerplate removed)"
                )
            else:
                text, k_logs = extract_html(detect_and_decode(payload or b""))
                logs.extend(k_logs)
        elif file_type in _KERNELS:
            decode, kernel = _KERNELS[file_type]
            text, k_logs = kernel(decode(payload or b""))
            logs.extend(k_logs)
        elif file_type == "doc":
            if options.legacy_office:
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
            if options.legacy_office:
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
        elif file_type in CODEC_BY_TYPE:
            # transparent crawl-payload decompression (north-star
            # extension; the reference has none): all concatenated
            # streams under the bomb cap, truncation raises, strip the
            # codec suffix, re-detect, dispatch once (one level only)
            codec = CODEC_BY_TYPE[file_type]
            inner = decompress_streams(codec, payload or b"", logs)
            inner_url = url
            if (url or "").lower().endswith("." + codec.ext):
                inner_url = url[: -len(codec.ext) - 1]
            inner_ct = detect_content_type(inner_url, inner)
            if inner_ct in CODEC_BY_TYPE:
                inner_ct = "unknown"  # one level only
            logs.append(
                f"Decompressed {file_type} payload "
                f"({len(payload or b'')} -> {len(inner)} bytes)"
            )
            text, ocr_used, _s, error, k_logs = extract_payload(
                inner_url, inner, inner_ct, options
            )
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
