"""Pure-Python extraction kernels. NO Spark imports allowed here.

These functions are the byte-identity oracle (locked by tests/goldens) AND
the body of the `mapInArrow` extraction dispatch — shared verbatim so the
pipeline is byte-identical to the oracle by construction (SURVEY.md §5,
§7.2).
"""

from .charset import decode_utf8_replace, detect_and_decode
from .dispatch import detect_content_type, extract_payload, SUPPORTED_FILE_TYPES
from .options import ExtractOptions
from .html_kernel import extract_html, extract_main_content
from .xml_kernel import extract_xml
from .pdf_kernel import extract_pdf
from .rtf_kernel import extract_rtf
from .csv_kernel import extract_csv
from .eml_kernel import extract_eml
from .image_kernel import extract_image_metadata
from .office_kernel import (
    extract_docx,
    extract_epub,
    extract_ods,
    extract_odf,
    extract_pptx,
    extract_xlsx,
)

__all__ = [
    "decode_utf8_replace",
    "detect_and_decode",
    "detect_content_type",
    "extract_payload",
    "ExtractOptions",
    "SUPPORTED_FILE_TYPES",
    "extract_html",
    "extract_main_content",
    "extract_xml",
    "extract_pdf",
    "extract_rtf",
    "extract_csv",
    "extract_eml",
    "extract_image_metadata",
    "extract_docx",
    "extract_epub",
    "extract_ods",
    "extract_odf",
    "extract_pptx",
    "extract_xlsx",
]
