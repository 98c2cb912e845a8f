"""Parity test: the JVM Column-expression sniff (functions/sniff.py) must
agree with the Python kernel detector (kernels/dispatch.py) on EVERY row of
the synthetic corpus + all fixtures (the rule-parity contract both modules
document)."""

from __future__ import annotations

import bz2
import gzip
import json
import lzma
import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import FIXTURES
from universal_text_extractor_spark.functions.sniff import content_type_col
from universal_text_extractor_spark.kernels import detect_content_type
from universal_text_extractor_spark.kernels.dispatch import extract_payload
from universal_text_extractor_spark.kernels.limits import CODEC_BY_TYPE
from universal_text_extractor_spark.operators.extract import extract_pages_fused
from universal_text_extractor_spark.sources.pages_gen import _pdf_doc_pages, make_page


def test_sniff_parity_corpus(spark):
    n = 1000
    pages = [make_page(i) for i in range(n)]
    manifest = json.loads((FIXTURES / "manifest.json").read_text())
    for e in manifest:
        pages.append(
            {
                "url": e["url"],
                "warc_ts": None,
                "html": (FIXTURES / f"{e['name']}.bin").read_bytes(),
                "text": "",
                "lang": "en",
            }
        )
    # tricky urls: query strings, fragments, dots in host, no path dot
    extra = [
        ("https://a.example.com/x.HTML?q=1#frag", b"zz"),
        ("https://a.example.com/x.pdf?download=true", b"zz"),
        ("https://a.b.example.com/plain", b"hello world"),
        ("https://a.example.com/dir.name/file", b"hello"),
        ("https://a.example.com/", b"<html><body>x</body></html>"),
        ("https://a.example.com/x.verylongext", b"text"),
        ("https://a.example.com/x.tar.gz", b"\x1f\x8b\x08junk\x00\x01"),
    ]
    for u, b in extra:
        pages.append({"url": u, "warc_ts": None, "html": b, "text": "", "lang": "en"})

    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    got = {
        r["url"]: r["ct"]
        for r in df.select("url", content_type_col(F.col("url"), F.col("html")).alias("ct")).collect()
    }
    mismatches = []
    for p in pages:
        want = detect_content_type(p["url"], p["html"])
        if got[p["url"]] != want:
            mismatches.append((p["url"], got[p["url"]], want))
    assert not mismatches, mismatches[:10]


# Transparent decompression (north-star crawl extension): one body per
# contract, run for each row of the codec table (kernels/limits.CODECS).
# The wordings below are literals on purpose — the pipeline byte-identity
# test compares against extract_payload itself, so only these asserts pin
# the log and error strings.
_COMPRESS = {
    "gzip": lambda b: gzip.compress(b, mtime=0),
    "xz": lzma.compress,
    "bzip2": bz2.compress,
}
_TAIL_LOG = {
    "gzip": "trailing non-gzip bytes after gzip member",
    "xz": "trailing non-xz bytes after xz stream",
    "bzip2": "trailing non-bz2 bytes after bzip2 stream",
}
_CORRUPT_AT = {"gzip": 12, "xz": 20, "bzip2": 20}
_SHORT_PREFIX = {"gzip": 10, "xz": 12, "bzip2": 8}


def _assert_transparent(spark, type_name):
    """Payloads with the codec's extension or magic decompress and
    re-dispatch: JVM/Python detector parity, inner-type routing, one
    nesting level whichever codec is inside, corruption containment, and
    the fused pipeline."""
    comp, ext = _COMPRESS[type_name], CODEC_BY_TYPE[type_name].ext
    html = (
        "<html><head><title>T</title></head>"
        f"<body><p>{type_name} body</p></body></html>"
    ).encode()
    z = comp(html)
    pdf = _pdf_doc_pages(random.Random(2), 2, True)

    # detector parity (extension and magic-only)
    rows = [
        (f"https://x/a.html.{ext}", z),
        ("https://x/blob", z),
        (f"https://x/doc.pdf.{ext}", comp(pdf)),
    ]
    df = spark.createDataFrame(
        [Row(url=u, html=p) for u, p in rows]
    ).withColumn("ct", content_type_col(F.col("url"), F.col("html")))
    got = {r["url"]: r["ct"] for r in df.collect()}
    for u, p in rows:
        assert got[u] == detect_content_type(u, p) == type_name, u

    # inner routing equals direct extraction of the decompressed twin
    t, _, s, _, logs = extract_payload(f"https://x/a.html.{ext}", z, type_name)
    assert t == extract_payload("https://x/a.html", html, "html")[0] and s
    assert f"Decompressed {type_name} payload ({len(z)} -> {len(html)} bytes)" in logs
    t2 = extract_payload(f"https://x/doc.pdf.{ext}", comp(pdf), type_name)[0]
    assert t2 == extract_payload("https://x/doc.pdf", pdf, "pdf")[0]

    # nesting stops at one level, in every direction
    for inner in _COMPRESS.values():
        assert "[Unsupported file type: unknown]" in extract_payload(
            f"https://x/a.{ext}", comp(inner(html)), type_name
        )[0]
    # corruption/truncation contained
    bad = bytearray(z)
    bad[_CORRUPT_AT[type_name]] ^= 0xFF
    t3, _, s3, _, _ = extract_payload(f"https://x/a.html.{ext}", bytes(bad), type_name)
    assert t3.startswith("[Error extracting text:") and not s3
    short = z[: _SHORT_PREFIX[type_name]]
    assert isinstance(extract_payload(f"https://x/a.html.{ext}", short, type_name)[0], str)

    # through the fused pipeline
    pages = spark.createDataFrame(
        [Row(url=f"https://x/a.html.{ext}", warc_ts=None, html=z, text="", lang="en")],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = extract_pages_fused(pages, num_partitions=2).collect()
    assert len(out) == 1 and out[0]["content_type"] == type_name
    assert out[0]["text"] == extract_payload("https://x/a.html", html, "html")[0]


def _assert_streams(type_name):
    """The full (text, ocr_used, success, error, logs) tuple for: (a)
    concatenated streams, which must ALL decode — crawl payloads are often
    member-concatenated like .warc.gz, and pbzip2/wiki dumps are one bz2
    stream per block; (b) a truncated stream, which must hit D2
    containment (error literal), never enter the corpus as clean partial
    text; (c) a non-codec tail after a complete stream, discarded with a
    log line; (d) spec-legal zero padding, silent; (e) a nested codec,
    which is not decompressed a second time."""
    comp, ext = _COMPRESS[type_name], CODEC_BY_TYPE[type_name].ext
    url = f"https://x/a.txt.{ext}"
    txt_log = "Extracted text from TXT file"

    def decompressed(z, n):
        return f"Decompressed {type_name} payload ({len(z)} -> {n} bytes)"

    two = comp(b"hello ") + comp(b"world")
    assert extract_payload(url, two, type_name) == (
        "hello world", False, True, None, [decompressed(two, 11), txt_log],
    )

    whole = comp(b"complete text body here")
    err = f"{type_name} stream truncated or corrupt"
    assert extract_payload(url, whole[:-5], type_name) == (
        f"[Error extracting text: {err}]", False, False, err,
        [f"Error extracting text: {err}"],
    )

    tailed = whole + b"not-a-codec-tail"
    assert extract_payload(url, tailed, type_name) == (
        "complete text body here", False, True, None,
        [f"Discarded 16 {_TAIL_LOG[type_name]}", decompressed(tailed, 23), txt_log],
    )

    padded = whole + b"\x00" * 8
    assert extract_payload(url, padded, type_name) == (
        "complete text body here", False, True, None,
        [decompressed(padded, 23), txt_log],
    )

    for inner_comp in _COMPRESS.values():
        inner = inner_comp(b"inner body")
        nested = comp(inner)
        assert extract_payload(f"https://x/a.{ext}", nested, type_name) == (
            "[Unsupported file type: unknown]", False, True, None,
            [decompressed(nested, len(inner)), "Unsupported file type: unknown"],
        )


def test_gzip_transparent_decompression(spark):
    _assert_transparent(spark, "gzip")


def test_xz_transparent_decompression(spark):
    _assert_transparent(spark, "xz")


def test_bzip2_transparent_decompression(spark):
    _assert_transparent(spark, "bzip2")
    _assert_streams("bzip2")


def test_gzip_multimember_truncation_and_tail():
    _assert_streams("gzip")


def test_xz_multistream_and_truncation():
    _assert_streams("xz")
