"""K13: OCR character recognition — the last r2 semantic stub made real
for generator-rendered glyphs (VERDICT r2 item 6).

The reference's OCR branch (utils/ocr_utils.py:112-208) cascades
Tesseract → EasyOCR; neither exists in this sandbox and both are
non-deterministic, so this kernel is a from-scratch DETERMINISTIC
recognizer for a fixed 5×7 bitmap font: binarize → find text-line bands →
anchor the glyph grid (searching scale 1-3, sub-pixel phase, and
column/row offsets by best match count) → exact-bitmap match with a
small-Hamming fallback for eroded cells (e.g. after the K14 median
filter). The reference's result literals are preserved:
``[No text was detected in this image.]`` when nothing is recognized
(reference :208) — the same observable a Tesseract install produces on a
blank page.

Charset: A-Z, 0-9, space and ``. , ! ? ' - :`` — the glyph repertoire the
synthetic corpus renders (``sources.pages_gen.render_text_rows``). The
font table is the SPEC both sides share (like a real font file); the
writer rasterizes it independently of this module's segmentation/matching
logic. Unknown cells are dropped (what a real OCR engine does with
garbage); trailing whitespace is not preserved.
"""

from __future__ import annotations

import numpy as np

NO_TEXT_LITERAL = "[No text was detected in this image.]"

# 5×7 glyphs: 7 rows of 5-bit ints, MSB = leftmost column.
FONT: dict[str, tuple[int, ...]] = {
    "A": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "B": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "C": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "D": (0x1E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x1E),
    "E": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "F": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "G": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "H": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "I": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "J": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "K": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "L": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "M": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "N": (0x11, 0x11, 0x19, 0x15, 0x13, 0x11, 0x11),
    "O": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "P": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "Q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "R": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "S": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "T": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "U": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "V": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "W": (0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A),
    "X": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "Y": (0x11, 0x11, 0x11, 0x0A, 0x04, 0x04, 0x04),
    "Z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
    ".": (0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C),
    ",": (0x00, 0x00, 0x00, 0x00, 0x0C, 0x04, 0x08),
    "!": (0x04, 0x04, 0x04, 0x04, 0x04, 0x00, 0x04),
    "?": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x00, 0x04),
    "-": (0x00, 0x00, 0x00, 0x0E, 0x00, 0x00, 0x00),
    "'": (0x04, 0x04, 0x08, 0x00, 0x00, 0x00, 0x00),
    ":": (0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x0C, 0x00),
}

# bitmaps must be pairwise distinct or recognition is ill-posed
assert len({v for v in FONT.values()}) == len(FONT)

_EXACT = {v: ch for ch, v in FONT.items()}
_CHARS = sorted(FONT)
_STACK = np.array(
    [[[(FONT[ch][r] >> (4 - c)) & 1 for c in range(5)] for r in range(7)]
     for ch in _CHARS],
    dtype=np.uint8,
)  # (n_glyphs, 7, 5)

_HAMMING_CAP = 4


def _match_cell(cell: np.ndarray) -> str | None:
    """cell: (7,5) bool → char, or None for an unrecognizable blob."""
    key = tuple(int("".join("1" if v else "0" for v in row), 2) for row in cell)
    ch = _EXACT.get(key)
    if ch is not None:
        return ch
    d = np.abs(_STACK - cell.astype(np.uint8)).reshape(len(_CHARS), -1).sum(axis=1)
    order = np.argsort(d, kind="stable")
    if d[order[0]] <= _HAMMING_CAP and (len(order) < 2 or d[order[1]] > d[order[0]]):
        return _CHARS[order[0]]
    return None


def _read_cells(line: np.ndarray, x0: int) -> tuple[str, int]:
    """Fixed-pitch (6-wide) cells from x0 across a 7-row line band.

    Score = matched glyphs − unknown blobs − 2·(inter-glyph gap columns
    carrying ink). The penalties keep a shifted grid from outscoring the
    true one: splitting a glyph across two cells can fluke-match two
    small glyphs, but then the real glyph's ink necessarily bleeds into a
    gap column."""
    w = line.shape[1]
    chars: list[str] = []
    score = 0
    gap_bad = 0
    n_cells = max((w - x0 + 5) // 6, 0)
    for k in range(n_cells):
        a = x0 + 6 * k
        cell = line[:, a : a + 5]
        if cell.shape[1] < 5:
            cell = np.pad(cell, ((0, 0), (0, 5 - cell.shape[1])))
        gap = a + 5
        if gap < w and line[:, gap].any():
            gap_bad += 1
        if not cell.any():
            chars.append(" ")
            continue
        key = tuple(
            int("".join("1" if v else "0" for v in row), 2) for row in cell
        )
        exact = _EXACT.get(key)
        if exact is not None:
            chars.append(exact)
            score += 2  # an EXACT bitmap hit outweighs any Hamming-
            # fallback hit at a rival alignment (a low-ink glyph like '.'
            # shifted a few rows can land within the Hamming cap of
            # another small glyph — the exact-weighted score keeps the
            # true alignment on top)
            continue
        ch = _match_cell(cell)
        if ch is None:
            chars.append("\x00")
            score -= 1
        else:
            chars.append(ch)
            score += 1
    text = "".join(chars).replace("\x00", "").rstrip()
    return text, score - 2 * gap_bad


def _recognize_line(line: np.ndarray) -> tuple[str, int]:
    cols = np.nonzero(line.any(axis=0))[0]
    if len(cols) == 0:
        return "", 0
    best = ("", -10**9)
    for off in range(6):  # the first glyph's first font column may be blank
        x0 = int(cols[0]) - off
        if x0 < 0:
            continue
        cand = _read_cells(line, x0)
        if cand[1] > best[1]:
            best = cand
    return best


def _row_bands(idxs) -> list[tuple[int, int]]:
    """Group ink-row indices into text-line bands.

    Band threshold 3: the widest possible INTRA-line ink-row gap is 3
    (apostrophe, bottom row 2 → period, top row 5 — a "'." line would
    otherwise split into two bands whose 7-row windows both cover the
    whole line and emit it twice), while the narrowest INTER-line gap is
    4 (a line's bottom row 6 → the next line's top row 0 at the 10-row
    leading)."""
    groups: list[tuple[int, int]] = []
    start = prev = int(idxs[0])
    for r in idxs[1:]:
        r = int(r)
        if r - prev <= 3:
            prev = r
            continue
        groups.append((start, prev))
        start = prev = r
    groups.append((start, prev))
    return groups


def _read_words(band: np.ndarray) -> tuple[str, int]:
    """Split one 7-row band into WORD segments on runs of ≥6 blank
    columns (a full empty cell), then anchor each word's glyph grid
    independently via :func:`_recognize_line`; words join with one
    space."""
    nz = np.nonzero(band.any(axis=0))[0]
    if len(nz) == 0:
        return "", 0
    segs: list[tuple[int, int]] = []
    s = p = int(nz[0])
    for c in nz[1:]:
        c = int(c)
        if c - p > 6:  # ≥6 blank columns between ink runs → word break
            segs.append((s, p))
            s = c
        p = c
    segs.append((s, p))
    words: list[str] = []
    score = 0
    for a, b in segs:
        t, sc = _recognize_line(band[:, a : b + 1])
        t = t.replace(" ", "")  # within one word, cells are contiguous
        if t:
            words.append(t)
        score += sc
    return " ".join(words), score


def _recognize_grid(ink: np.ndarray, read_band) -> tuple[str, int]:
    """Recognize at font-pixel resolution: group ink rows into line bands
    (:func:`_row_bands`), then anchor each band's 7-row window by the best
    score of ``read_band`` over it."""
    idxs = np.nonzero(ink.any(axis=1))[0]
    if len(idxs) == 0:
        return "", 0
    lines: list[str] = []
    total = 0
    for r0, r1 in _row_bands(idxs):
        best = ("", -10**9)
        for dy in range(7):  # a band may start below the glyph top (e.g. '.')
            top = r0 - dy
            if top < 0 or top + 7 > ink.shape[0]:
                continue
            if r1 >= top + 7:  # window must cover the whole band's ink
                continue
            cand = read_band(ink[top : top + 7])
            if cand[1] > best[1]:
                best = cand
        lines.append(best[0])
        total += max(best[1], 0)
    return "\n".join(lines).strip("\n"), total


def recognize_gray(gray: np.ndarray, per_word: bool = False) -> str:
    """Recognize rendered text in a luma (or binarized) array. The glyph
    grid may be rasterized at scale 1-3 with any sub-pixel phase (and may
    have been median-filtered by K14) — search (scale, dy, dx), score by
    matched glyph count, keep the best.

    ``per_word=True`` is the PSM-8 analogue (the handwriting-mode retry):
    every WORD anchors its own glyph grid (:func:`_read_words`). The
    fixed-pitch reader assumes inter-word gaps are a multiple of the 6-px
    pitch; ragged spacing (hand-laid text) mis-anchors everything after
    the first odd gap. Per-word anchoring is what Tesseract's single-word
    page-segmentation mode buys on such input."""
    read_band = _read_words if per_word else _recognize_line
    ink_full = gray < 128
    best_text, best_score = "", 0
    for s in (1, 2, 3):
        for dy in range(s):
            for dx in range(s):
                text, score = _recognize_grid(ink_full[dy::s, dx::s], read_band)
                if score > best_score:
                    best_text, best_score = text, score
    return best_text if best_score > 0 else ""


# Reference language remap (utils/ocr_utils.py:87-100): Tesseract-style
# 3-letter codes → EasyOCR 2-letter codes. The glyph repertoire here is
# latin-script, so the latin codes all recognize identically; the CJK
# codes the reference maps (chi_sim/jpn/kor) initialize but cannot emit
# their scripts from a latin font table — same empty-handed end state as
# the reference's cascade on mismatched traineddata.
LANG_MAP = {
    "eng": "en", "fra": "fr", "deu": "de", "spa": "es",
    "ita": "it", "por": "pt", "chi_sim": "ch_sim", "jpn": "ja", "kor": "ko",
}
_KNOWN_LANGS = set(LANG_MAP) | set(LANG_MAP.values())

# Reference handwriting whitelist (utils/ocr_utils.py:139:
# tessedit_char_whitelist for the PSM-6 pass) — note it EXCLUDES the
# apostrophe and hyphen the normal path can emit.
HANDWRITING_WHITELIST = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    "0123456789.,!?;: \n"
)


def normalize_language(language: str | None) -> str:
    """Tesseract-style code → the reference's EasyOCR remap; unknown codes
    pass through (and end the cascade empty-handed, see ocr_gray)."""
    lang = (language or "").strip().lower() or "eng"
    return LANG_MAP.get(lang, lang)


def ocr_gray(
    gray: np.ndarray | None,
    language: str = "eng",
    handwriting_mode: bool = False,
    preprocess_params: dict | None = None,
) -> str:
    """The OCR cascade over one luma page (reference ``perform_ocr``,
    utils/ocr_utils.py:112-208), shared by :func:`perform_ocr` and the
    scanned-page branch of ``pdf_kernel.extract_pdf``. In order:

    - ``language`` is validated against the reference's remap table
      (:data:`LANG_MAP`); an UNKNOWN code ends the cascade with the
      no-text literal like the reference (missing traineddata, failed
      EasyOCR init → empty ``ocr_text`` → reference :208).
    - ``preprocess_params``, when given, runs the K14 chain (incl. the
      ``adaptive_threshold`` analogue of the reference's OpenCV stage).
    - recognition (:func:`recognize_gray`).
    - ``handwriting_mode``: the PSM-6 char whitelist (reference :139),
      and on an empty result the PSM-8 analogue, per-word grid anchoring
      (reference :158-168).
    - the no-text literal if nothing was read, or ``gray`` is None."""
    if normalize_language(language) not in _KNOWN_LANGS or gray is None:
        return NO_TEXT_LITERAL
    if preprocess_params is not None:
        from .image_prep import preprocess_gray

        gray = preprocess_gray(gray, preprocess_params)
    text = recognize_gray(gray)
    if handwriting_mode:
        text = "".join(c for c in text if c in HANDWRITING_WHITELIST)
        if not text.strip():
            retry = recognize_gray(gray, per_word=True)
            text = "".join(c for c in retry if c in HANDWRITING_WHITELIST)
    return text if text.strip() else NO_TEXT_LITERAL


def perform_ocr(
    payload: bytes,
    language: str = "eng",
    handwriting_mode: bool = False,
    preprocess_params: dict | None = None,
) -> str:
    """Reference ``perform_ocr`` observable: :func:`ocr_gray` over the
    decoded payload's luma, so an undecodable payload ends empty-handed
    (the no-text literal) like the reference's cascade."""
    from .image_prep import decode_image, to_grayscale

    rgb = decode_image(payload or b"")
    gray = to_grayscale(rgb) if rgb is not None and rgb.size else None
    return ocr_gray(gray, language, handwriting_mode, preprocess_params)
