"""The per-document extraction options, declared once."""

from __future__ import annotations

import dataclasses


@dataclasses.dataclass(frozen=True)
class ExtractOptions:
    """Every layer that extracts (``extract_payload`` and its codec
    recursion, ``extract_pdf``, ``extract_pages_fused``,
    ``run_extraction``, ``build_training_corpus``) takes one record and
    passes it down whole. The defaults reproduce the reference and keep
    every golden byte-identical.

    ``use_ocr``: OCR image payloads and PDF pages without text operators
    (the reference's use_ocr flag), through ``ocr_kernel.ocr_gray`` with
    ``ocr_language`` and ``handwriting_mode``. ``main_content``: the HTML
    branch emits Readability-style main content. ``legacy_office``: parse
    .doc/.ppt for real instead of the reference's literals."""

    use_ocr: bool = False
    main_content: bool = False
    ocr_language: str = "eng"
    handwriting_mode: bool = False
    legacy_office: bool = False
