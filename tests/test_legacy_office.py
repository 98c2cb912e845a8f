"""Legacy binary Office ([MS-DOC]/[MS-PPT]) extraction — opt-in via
``legacy_office=True``. Default OFF keeps the reference's informative
literals (reference utils/file_handlers.py:601, :769) and every golden;
the flag swaps ONLY the doc/ppt branches to real parsers.

Writers (sources/pages_gen.py make_doc/make_ppt) and readers
(kernels/legacy_office.py) are independent spec implementations;
round-trips are the oracle."""

from pyspark.sql import Row

from universal_text_extractor_spark.kernels.dispatch import (
    detect_content_type,
    extract_payload,
)
from universal_text_extractor_spark.kernels.legacy_office import (
    extract_doc,
    extract_ppt,
)
from universal_text_extractor_spark.kernels.office_kernel import (
    DOC_LEGACY_LITERAL,
    PPT_LEGACY_LITERAL,
)
from universal_text_extractor_spark.operators.extract import extract_pages_fused
from universal_text_extractor_spark.sources.pages_gen import make_doc, make_ppt

PARAS = [
    "Quarterly report: revenue grew 14% year over year.",
    "Ünïcode paragraph with Ω and ēmacron (beyond cp1252).",
    "Plain ASCII closing paragraph.",
]
SLIDES = [
    ["Roadmap 2026", "Q1: ship the extractor", "Q2: scale to 100 TB"],
    ["Risks", "Schēdule slīp (non-cp1252 titles)"],
]


def test_doc_round_trip_multi_piece():
    payload = make_doc(PARAS)
    text, logs = extract_doc(payload)
    assert text == "\n".join(PARAS)
    # cp1252 / utf-16 / cp1252 paragraphs force three pieces
    assert any("3 piece(s)" in l for l in logs)


def test_doc_single_compressed_piece():
    text, logs = extract_doc(make_doc(["hello world"]))
    assert text == "hello world"
    assert any("1 piece(s)" in l for l in logs)


def test_ppt_round_trip_slide_framing():
    payload = make_ppt(SLIDES)
    text, logs = extract_ppt(payload)
    assert text == (
        "--- Slide 1 ---\n"
        "Roadmap 2026\nQ1: ship the extractor\nQ2: scale to 100 TB\n"
        "--- Slide 2 ---\n"
        "Risks\nSchēdule slīp (non-cp1252 titles)"
    )
    assert any("2 slide(s)" in l and "5 text atom(s)" in l for l in logs)


def test_default_keeps_reference_literals():
    doc, ppt = make_doc(PARAS), make_ppt(SLIDES)
    assert extract_payload("https://x/a.doc", doc, "doc")[0] == DOC_LEGACY_LITERAL
    assert extract_payload("https://x/a.ppt", ppt, "ppt")[0] == PPT_LEGACY_LITERAL


def test_flag_swaps_to_real_parse_and_contains_corruption():
    doc, ppt = make_doc(PARAS), make_ppt(SLIDES)
    t_doc = extract_payload("https://x/a.doc", doc, "doc", legacy_office=True)
    t_ppt = extract_payload("https://x/a.ppt", ppt, "ppt", legacy_office=True)
    assert t_doc[0] == extract_doc(doc)[0] and t_doc[2]
    assert t_ppt[0] == extract_ppt(ppt)[0] and t_ppt[2]
    # D2 containment: junk bytes under the flag -> error literal
    t_bad, _, s_bad, err, _ = extract_payload(
        "https://x/a.doc", b"\x00" * 64, "doc", legacy_office=True
    )
    assert t_bad.startswith("[Error extracting text:") and not s_bad and err


def test_fused_matches_oracle_under_legacy_office(spark):
    """Under the flag the pipeline matches ``extract_payload(...,
    legacy_office=True)`` row for row: doc/ppt payloads extract for real
    and every other type is untouched."""
    rows = [
        Row(url="https://x/r.doc", warc_ts=None, html=make_doc(PARAS),
            text="", lang="en"),
        Row(url="https://x/r.ppt", warc_ts=None, html=make_ppt(SLIDES),
            text="", lang="en"),
        Row(url="https://x/p.html", warc_ts=None,
            html=b"<html><body><p>control page</p></body></html>",
            text="", lang="en"),
        Row(url="https://x/bad.doc", warc_ts=None, html=b"\x01" * 32,
            text="", lang="en"),
    ]
    pages = spark.createDataFrame(
        rows,
        schema="url string, warc_ts timestamp, html binary, "
               "text string, lang string",
    )
    stable = ["url", "content_type", "text", "ocr_used", "success", "error"]
    fused = {
        r["url"]: tuple(r)
        for r in extract_pages_fused(pages, num_partitions=2, legacy_office=True)
        .select(*stable).collect()
    }
    oracle = {}
    for r in rows:
        ct = detect_content_type(r.url, r.html)
        text, ocr_used, success, error, _ = extract_payload(
            r.url, r.html, ct, legacy_office=True
        )
        oracle[r.url] = (r.url, ct, text, ocr_used, success, error)
    assert fused == oracle
    assert fused["https://x/r.doc"][2] == "\n".join(PARAS)
    assert fused["https://x/r.ppt"][2].startswith("--- Slide 1 ---")
    assert fused["https://x/bad.doc"][2].startswith("[Error extracting text:")
