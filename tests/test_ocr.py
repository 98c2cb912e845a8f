"""K13 OCR glyph recognition (VERDICT r2 item 6): writer-rendered scanned
pages round-trip byte-identically through the recognizer, across scales,
formats, the K14-preprocessed path, and the dispatcher's use_ocr branch."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from universal_text_extractor_spark.kernels.dispatch import extract_payload
from universal_text_extractor_spark.kernels.options import ExtractOptions
from universal_text_extractor_spark.kernels.image_prep import (
    decode_image,
    preprocess_gray,
    to_grayscale,
)
from universal_text_extractor_spark.kernels.ocr_kernel import (
    FONT,
    NO_TEXT_LITERAL,
    perform_ocr,
    recognize_gray,
)
from universal_text_extractor_spark.sources.pages_gen import (
    make_noise_image,
    make_ocr_page,
)

OCR = ExtractOptions(use_ocr=True)
SAMPLE = "HELLO WORLD\nSPARK 12345\nOK? YES! A-B: C.D,E'F"


def test_font_is_injective_and_complete():
    assert len({v for v in FONT.values()}) == len(FONT)
    for ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789.,!?-':":
        assert ch in FONT, ch


def test_roundtrip_all_scales_and_formats():
    rng = random.Random(42)
    for scale in (1, 2, 3):
        for fmt in ("png", "bmp"):
            payload = make_ocr_page(rng, SAMPLE.split("\n"), fmt=fmt, scale=scale)
            assert perform_ocr(payload) == SAMPLE, (scale, fmt)


def test_preprocessed_path_scale3_is_median_invariant():
    """The K14 chain (contrast → binarize → 3×3 median) erodes 1-px
    strokes, but at glyph scale 3 the sampling-grid search recovers the
    text exactly (block centers survive the median)."""
    rng = random.Random(7)
    payload = make_ocr_page(rng, ["THE QUICK BROWN FOX", "JUMPS OVER 13 DOGS!"],
                            fmt="bmp", scale=3)
    pp = preprocess_gray(to_grayscale(decode_image(payload)))
    assert recognize_gray(pp) == "THE QUICK BROWN FOX\nJUMPS OVER 13 DOGS!"


def test_no_text_literals():
    rng = random.Random(9)
    assert perform_ocr(b"not an image") == NO_TEXT_LITERAL
    assert perform_ocr(b"") == NO_TEXT_LITERAL
    assert perform_ocr(make_noise_image(rng)) == NO_TEXT_LITERAL


def test_dispatch_use_ocr_branch():
    """D8 consequent: the dispatcher's use_ocr image branch now carries
    REAL recognized text with the reference's ocr_used/log observables."""
    rng = random.Random(11)
    payload = make_ocr_page(rng, ["SCANNED PAGE 1"])
    text, ocr_used, success, error, logs = extract_payload(
        "https://h/scan.png", payload, "image", OCR
    )
    assert text == "SCANNED PAGE 1" and ocr_used and success and error is None
    assert "Performed OCR on image with language: eng" in logs
    # default path unchanged: metadata-only, goldens-locked framing
    text0, ocr0, *_rest = extract_payload("https://h/scan.png", payload, "image")
    assert not ocr0 and text0.startswith("[Image: ")


def test_scanned_pdf_ocr():
    """The PDF use_ocr path (reference file_handlers.py:305-345): pages
    without text ops but with an embedded DeviceGray scan image get REAL
    recognized text under the '--- Page N (OCR) ---' framing; without
    use_ocr the image-based literals stay byte-identical."""
    from universal_text_extractor_spark.kernels.pdf_kernel import extract_pdf
    from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

    rng = random.Random(17)
    payload = _pdf_doc_pages(
        rng, npages=0, flate=True,
        scan_lines=[["SCANNED INVOICE", "TOTAL: 99.50"], ["PAGE 2 HERE"]],
    )
    text, ocr_used, logs = extract_pdf(payload, OCR)
    assert text == (
        "\n--- Page 1 (OCR) ---\nSCANNED INVOICE\nTOTAL: 99.50\n"
        "\n--- Page 2 (OCR) ---\nPAGE 2 HERE\n"
    )
    assert ocr_used is True
    assert "Page 1 has no text, attempting OCR" in logs
    # default path: reference's image-based summary literal, ocr_used False
    text0, ocr0, _ = extract_pdf(payload)
    assert not ocr0 and text0.startswith("[PDF has 2 pages")
    # a no-image empty page under use_ocr: the (OCR) frame carries the
    # no-text literal (perform_ocr is never empty — reference observable)
    plain_empty = _pdf_doc_pages(rng, npages=1, flate=False, empty=True)
    t, o, _ = extract_pdf(plain_empty, OCR)
    assert "(OCR) ---\n[No text was detected in this image.]" in t and o
    # and through the dispatcher
    text2, ocr2, success, _err, logs2 = extract_payload(
        "https://h/scan.pdf", payload, "pdf", OCR
    )
    assert "SCANNED INVOICE" in text2 and ocr2 and success


def test_scanned_pdf_ocr_dctdecode():
    """JPEG-compressed scan (DCTDecode — the encoding real scanners emit,
    reference PyMuPDF decodes it inside get_pixmap): same recognized text
    as the FlateDecode scan, through the lossy codec, at scales 1 and 3."""
    from universal_text_extractor_spark.kernels.pdf_kernel import extract_pdf
    from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages

    lines = [["SCANNED INVOICE", "TOTAL: 99.50"], ["PAGE 2 HERE"]]
    want = (
        "\n--- Page 1 (OCR) ---\nSCANNED INVOICE\nTOTAL: 99.50\n"
        "\n--- Page 2 (OCR) ---\nPAGE 2 HERE\n"
    )
    for scale in (1, 3):
        payload = _pdf_doc_pages(
            random.Random(23), npages=0, flate=True,
            scan_lines=lines, scan_scale=scale, scan_codec="jpeg",
        )
        text, ocr_used, _ = extract_pdf(payload, OCR)
        assert text == want and ocr_used, scale
        # without use_ocr: image-based literal, as for the flate scan
        t0, o0, _ = extract_pdf(payload)
        assert not o0 and t0.startswith("[PDF has 2 pages")


_line = st.text(
    alphabet=sorted(set("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,!?-':")),
    min_size=1,
    max_size=24,
).map(lambda s: s.strip())


@settings(max_examples=30, deadline=None)
@given(st.lists(_line, min_size=1, max_size=4), st.integers(0, 2**31), st.sampled_from([1, 2]))
def test_roundtrip_random_text(lines, seed, scale):
    # normalize to what rendering preserves: no trailing whitespace, no
    # blank lines (an all-blank line band doesn't exist to segment)
    lines = [ln for ln in (ln.rstrip() for ln in lines) if ln]
    if not lines:
        return
    rng = random.Random(seed)
    payload = make_ocr_page(rng, lines, fmt=rng.choice(["png", "bmp"]), scale=scale)
    assert perform_ocr(payload) == "\n".join(lines)


def _render_ragged(words: list[str], gaps: list[int]):
    """Test-side rasterizer for RAGGED inter-word spacing (gaps that are
    not a multiple of the 6-px pitch) — rendered straight from the shared
    FONT spec, like the corpus writer, independent of the recognizer."""
    import numpy as np

    from universal_text_extractor_spark.kernels.ocr_kernel import FONT

    cols = []
    for wi, w in enumerate(words):
        for ci, ch in enumerate(w):
            rows = FONT[ch]
            glyph = np.array(
                [[(r >> (4 - c)) & 1 for c in range(5)] for r in rows],
                dtype=bool,
            )
            if ci:
                cols.append(np.zeros((7, 1), bool))
            cols.append(glyph)
        if wi < len(gaps):
            cols.append(np.zeros((7, gaps[wi]), bool))
    ink = np.hstack(cols)
    pad = np.zeros((2, ink.shape[1]), bool)
    ink = np.pad(np.vstack([pad, ink, pad]), ((0, 0), (2, 2)))
    return np.where(ink, 0, 255).astype(np.uint8)


def test_handwriting_mode_psm8_retry():
    """r3 verdict item #5: handwriting_mode's empty-first-pass retry is a
    REAL second segmentation (per-word grid anchoring — the PSM-8
    analogue, reference utils/ocr_utils.py:158-168). Ragged inter-word
    gaps (7/9/8/7/9 px, none ≡ 0 mod the 6-px pitch) defeat the
    fixed-pitch reader outright; per-word anchoring reads every word."""
    from universal_text_extractor_spark.kernels.ocr_kernel import (
        NO_TEXT_LITERAL,
        perform_ocr,
        recognize_gray,
    )
    from universal_text_extractor_spark.sources.pages_gen import make_bmp

    words = ["HE", "AB", "NM", "WE", "HA", "BE"]
    gray = _render_ragged(words, [7, 9, 8, 7, 9])
    assert recognize_gray(gray) == ""  # fixed-pitch pass nets ≤ 0
    assert recognize_gray(gray, per_word=True) == " ".join(words)

    payload = make_bmp([[(v, v, v) for v in row] for row in gray.tolist()])
    # normal mode: empty pass → the reference's no-text literal
    assert perform_ocr(payload) == NO_TEXT_LITERAL
    # handwriting mode: whitelist pass empty → PSM-8 retry reads the line
    assert perform_ocr(payload, handwriting_mode=True) == " ".join(words)


def test_ocr_language_option_parity():
    """Language threads through (validated against the reference's remap
    table, utils/ocr_utils.py:87-100): every mapped code recognizes, an
    unknown code ends the cascade with the no-text literal (the reference
    observable when traineddata is missing and EasyOCR can't init) — for
    a scanned PDF page as for an image — and the dispatch log line
    carries the requested language."""
    import random

    from universal_text_extractor_spark.kernels.ocr_kernel import (
        NO_TEXT_LITERAL,
        perform_ocr,
    )
    from universal_text_extractor_spark.sources.pages_gen import (
        _pdf_doc_pages,
        make_bmp,
        render_text_rows,
    )

    rows = render_text_rows(["LANG TEST"], random.Random(5), scale=1)
    payload = make_bmp(rows)
    want = perform_ocr(payload)
    assert "LANG TEST" in want
    for code in ("eng", "fra", "deu", "spa", "en", "pt", "FRA"):
        assert perform_ocr(payload, language=code) == want, code
    for code in ("xx", "zz-junk", "klingon"):
        assert perform_ocr(payload, language=code) == NO_TEXT_LITERAL, code

    t, ocr_used, s, _, logs = extract_payload(
        "https://x/scan.bmp", payload, "image",
        ExtractOptions(use_ocr=True, ocr_language="fra"),
    )
    assert ocr_used and s and "LANG TEST" in t
    assert any("Performed OCR on image with language: fra" in l for l in logs)

    pdf = _pdf_doc_pages(
        random.Random(5), 0, True, scan_lines=[["HELLO WORLD", "SECOND LINE"]]
    )
    for lang, want_page in (("fra", "HELLO WORLD\nSECOND LINE"),
                            ("zz", NO_TEXT_LITERAL)):
        t, ocr_used, *_ = extract_payload(
            "https://x/scan.pdf", pdf, "pdf",
            ExtractOptions(use_ocr=True, ocr_language=lang),
        )
        assert t == f"\n--- Page 1 (OCR) ---\n{want_page}\n" and ocr_used, lang


def test_handwriting_whitelist_filters_first_pass():
    """The PSM-6 whitelist analogue (reference :139 excludes ' and -):
    normal mode keeps the apostrophe/hyphen glyphs, handwriting mode
    drops them from the recognized text — on a scanned PDF page exactly
    as on an image."""
    import random

    from universal_text_extractor_spark.kernels.ocr_kernel import perform_ocr
    from universal_text_extractor_spark.sources.pages_gen import (
        _pdf_doc_pages,
        make_bmp,
        render_text_rows,
    )

    rows = render_text_rows(["DON'T STOP-NOW"], random.Random(9), scale=1)
    payload = make_bmp(rows)
    assert perform_ocr(payload) == "DON'T STOP-NOW"
    assert perform_ocr(payload, handwriting_mode=True) == "DONT STOPNOW"

    pdf = _pdf_doc_pages(random.Random(9), 0, True, scan_lines=[["DON'T STOP-NOW"]])
    for handwriting, want_page in ((False, "DON'T STOP-NOW"),
                                   (True, "DONT STOPNOW")):
        t, ocr_used, *_ = extract_payload(
            "https://x/scan.pdf", pdf, "pdf",
            ExtractOptions(use_ocr=True, handwriting_mode=handwriting),
        )
        assert t == f"\n--- Page 1 (OCR) ---\n{want_page}\n" and ocr_used, handwriting
