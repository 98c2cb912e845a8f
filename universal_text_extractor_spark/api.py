"""Thin single-document convenience API — the working re-expression of the
reference's ``text_extractor_api.py`` surface (TextExtractor /
extract_text / batch_extract; reference text_extractor_api.py:20-202).

The reference wrapper is broken as written (SURVEY.md §3.2: it calls
``extract_text_from_file(file_path, language=…, handwriting_mode=…)``,
a signature that does not exist); this module keeps its CONTRACT — the
same result-dict keys, the same error envelopes, the same convenience
functions — on top of the kernels that the Spark pipeline and the pytest
oracle already share, so single-doc results are byte-identical to
pipeline rows for the same payload.

Spark-world additions:
- :meth:`TextExtractor.extract_from_bytes` — payloads are already bytes
  columns here; no temp file needed.
- :meth:`TextExtractor.extract_dataframe` — the distributed form:
  delegates to the fused pipeline (one shuffle, Arrow-batched kernels).
``batch_extract`` stays the reference's driver-side loop for a handful of
local files; anything larger belongs on :meth:`extract_dataframe`.
"""

from __future__ import annotations

import os
from typing import Any

from .kernels.dispatch import (
    SUPPORTED_FILE_TYPES,
    detect_content_type,
    extract_payload,
)

OCR_UNAVAILABLE_MSG = "OCR is not available. Please install pytesseract or easyocr."


class TextExtractor:
    """Reference-parity single-document API (text_extractor_api.py:20)."""

    def __init__(self) -> None:
        # the capability probe (reference :23-28): since r3 the glyph
        # recognizer (kernels/ocr_kernel.py, K13) IS an available backend —
        # deterministic, from-scratch, standing in for the reference's
        # Tesseract/EasyOCR cascade
        self.ocr_available = True
        self.ocr_backends: list[str] = ["glyph-5x7"]
        # r4 (VERDICT r3 item #5): the OCR option surface is live —
        # languages are the reference's remap table (unknown codes end the
        # cascade empty-handed, reference utils/ocr_utils.py:87-100), and
        # handwriting_mode runs the whitelist + per-word-retry two-pass
        # (reference :139,:158-168)
        from .kernels.ocr_kernel import LANG_MAP

        self.ocr_languages: list[str] = sorted(LANG_MAP)
        self.handwriting_mode_available = True

    def extract_from_bytes(self, name: str, payload: bytes) -> dict[str, Any]:
        """Extract from an in-memory payload; ``name`` provides the
        extension hint exactly like a url in the pipeline."""
        try:
            file_type = detect_content_type(name, payload)
            text, ocr_used, success, error, _logs = extract_payload(
                name, payload, file_type
            )
            return {
                "success": success,
                "text": text,
                "file_type": file_type,
                "ocr_used": ocr_used,
                "error": error,
            }
        except Exception as e:  # same containment shape as the reference
            return {
                "success": False,
                "error": str(e),
                "text": "",
                "file_type": None,
                "ocr_used": False,
            }

    def extract_from_file(self, file_path: str) -> dict[str, Any]:
        """Reference :30-78 contract, run with the default extraction
        options (``kernels.options.ExtractOptions``); image OCR is
        :meth:`extract_from_image`."""
        if not os.path.exists(file_path):
            return {
                "success": False,
                "error": f"File not found: {file_path}",
                "text": "",
                "file_type": None,
                "ocr_used": False,
            }
        with open(file_path, "rb") as f:
            payload = f.read()
        # full path, not basename: the shared extension rule anchors on a
        # preceding '/' (dispatch._URL_EXT_RE), and a filesystem path satisfies
        # it the same way a url does
        return self.extract_from_bytes(os.path.abspath(file_path), payload)

    def extract_from_image(
        self,
        image_path: str,
        language: str = "eng",
        handwriting_mode: bool = False,
        preprocess: bool = True,
        preprocess_params: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Reference :80-128 with a live backend: optional K14
        preprocessing, then OCR, success envelope with ``ocr_used=True``.
        (The unavailable envelope, reference :95-102, would return if
        ``ocr_available`` were False.) Note the reference's own caveat
        applies here measurably: preprocessing binarizes + median-filters,
        which destroys 1-px glyph strokes — scanned pages rendered at
        ≥3× glyph scale survive it exactly (see tests/test_ocr.py)."""
        if not self.ocr_available:
            return {
                "success": False,
                "error": OCR_UNAVAILABLE_MSG,
                "text": "",
                "file_type": "image",
                "ocr_used": False,
            }
        try:
            with open(image_path, "rb") as f:
                payload = f.read()
            from .kernels.ocr_kernel import perform_ocr

            # perform_ocr decodes and runs ocr_gray, the one OCR cascade
            # (language check / preprocess / recognize / literal); a
            # params dict (defaults merged in preprocess_gray) selects the
            # K14 chain, None skips it. preprocess_params mirrors the
            # reference's dict (utils/image_processing.py:31) incl. the
            # adaptive_threshold analogue of its OpenCV stage
            text = perform_ocr(
                payload,
                language,
                handwriting_mode,
                (preprocess_params or {}) if preprocess else None,
            )
            return {
                "success": True,
                "text": text,
                "file_type": "image",
                "ocr_used": True,
                "error": None,
            }
        except Exception as e:
            return {
                "success": False,
                "error": str(e),
                "text": "",
                "file_type": "image",
                "ocr_used": False,
            }

    def get_supported_formats(self) -> dict[str, Any]:
        """Reference :131-140. ``images`` mirrors the reference's
        SUPPORTED_IMAGE_FORMATS (the extension list), not the dispatch
        label: every image extension dispatches as the single content
        type ``'image'``, which names no format."""
        return {
            "documents": list(SUPPORTED_FILE_TYPES.keys()),
            "images": list(SUPPORTED_FILE_TYPES["Images"]),
            "ocr_available": self.ocr_available,
            "ocr_backends": self.ocr_backends,
        }

    def batch_extract(self, file_paths: list[str]) -> dict[str, Any]:
        """Reference :142-161 — keyed by basename, driver-side loop. For
        corpus-scale input use :meth:`extract_dataframe` instead."""
        return {
            os.path.basename(p): self.extract_from_file(p) for p in file_paths
        }

    def extract_dataframe(self, pages_df, num_partitions: int | None = None):
        """The distributed form: pages(url, html, …) → extracted rows via
        the fused single-pass pipeline (byte-identical per url to the
        single-doc methods above — both run kernels.dispatch)."""
        from .operators.extract import extract_pages_fused

        return extract_pages_fused(pages_df, num_partitions=num_partitions)


def extract_text(file_path: str) -> str:
    """Reference :163-182: string-or-raise convenience."""
    result = TextExtractor().extract_from_file(file_path)
    if result["success"]:
        return result["text"]
    raise Exception(f"Text extraction failed: {result['error']}")


def extract_from_image(image_path: str) -> str:
    """Reference :184-202."""
    result = TextExtractor().extract_from_image(image_path)
    if result["success"]:
        return result["text"]
    raise Exception(f"OCR extraction failed: {result['error']}")
