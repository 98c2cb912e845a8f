"""Sniff tests: ``content_type_col`` (functions/sniff.py, the package's
one sniffer ``detect_content_type`` behind an Arrow UDF) must agree with
``kernels.dispatch.detect_content_type`` on EVERY row of the synthetic
corpus + all fixtures + NULL url/html rows, and the codec branches of the
dispatch decompress transparently through both the sniff column and the
fused extraction."""

from __future__ import annotations

import ast
import bz2
import gzip
import json
import lzma
import pathlib
import random
import re

from pyspark.sql import Row
from pyspark.sql import functions as F

import universal_text_extractor_spark
from conftest import FIXTURES
from universal_text_extractor_spark.functions.sniff import content_type_col
from universal_text_extractor_spark.kernels import detect_content_type
from universal_text_extractor_spark.kernels.dispatch import EXT_TO_TYPE, extract_payload
from universal_text_extractor_spark.kernels.image_kernel import (
    IMAGE_FORMATS,
    parse_image_header,
)
from universal_text_extractor_spark.kernels.image_prep import decode_image
from universal_text_extractor_spark.kernels.limits import CODEC_BY_TYPE, CODECS
from universal_text_extractor_spark.operators.extract import extract_pages_fused
from universal_text_extractor_spark.sources.pages_gen import (
    _pdf_doc_pages,
    make_bmp,
    make_gif,
    make_heic,
    make_jpeg,
    make_jpeg_lossless,
    make_page,
    make_png,
    make_tiff,
    make_webp,
)


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
        (None, b"%PDF-1.4 no url"),
        ("https://a.example.com/null-html", None),
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


_PKG = pathlib.Path(universal_text_extractor_spark.__file__).parent
_CONTENT_TYPES = set(EXT_TO_TYPE.values()) | {"txt", "unknown"}
# the first 4 bytes of every prefix of every row of the image-format table
# (a literal holding just the start of a signature, b"\x89PNG", is magic too)
_IMAGE_MAGICS = tuple(
    p[:4]
    for row in IMAGE_FORMATS
    for _at, prefix in row.magic
    for p in (prefix if isinstance(prefix, tuple) else (prefix,))
)
_MAGICS = (b"%PDF", b"{\\rtf") + _IMAGE_MAGICS + tuple(c.magic for c in CODECS)


def _content_type_rule(node: ast.AST) -> bool:
    """A ``return "<type>"`` or a ``when(…, "<type>")``/``otherwise("<type>")``
    that yields a content-type name."""
    if isinstance(node, ast.Return):
        values = [node.value]
    elif isinstance(node, ast.Call) and getattr(
        node.func, "attr", getattr(node.func, "id", None)
    ) in ("when", "otherwise"):
        values = node.args
    else:
        return False
    return any(
        isinstance(v, ast.Constant) and v.value in _CONTENT_TYPES for v in values
    )


def test_one_sniffer_one_arrow_boundary():
    """Source lint: kernels/dispatch.py holds the package's only
    content-type rules, and the Spark-facing modules (functions/,
    operators/) import no pandas and reference no sniff table
    (EXT_TO_TYPE, CODECS) or magic-byte literal: they reach the sniffer by
    calling detect_content_type and cross into Python through Arrow.
    dispatch.py itself holds no image magic: it asks
    image_kernel.image_format, the one image recognizer."""
    offenders = []
    for p in sorted(_PKG.rglob("*.py")):
        rel = p.relative_to(_PKG).as_posix()
        src = p.read_text()
        spark_facing = rel.startswith(("functions/", "operators/"))
        if rel == "kernels/dispatch.py":
            offenders += [
                f"{rel}:{n.lineno}: image magic literal {n.value!r}"
                for n in ast.walk(ast.parse(src))
                if isinstance(n, ast.Constant) and isinstance(n.value, bytes)
                and n.value.startswith(_IMAGE_MAGICS)
            ]
        if spark_facing:
            offenders += [
                f"{rel}: {m}" for m in re.findall(r"\b(?:EXT_TO_TYPE|CODECS)\b", src)
            ]
        for node in ast.walk(ast.parse(src)):
            where = f"{rel}:{getattr(node, 'lineno', 0)}"
            if rel != "kernels/dispatch.py" and _content_type_rule(node):
                offenders.append(f"{where}: content-type rule")
            if not spark_facing:
                continue
            if isinstance(node, ast.Import):
                modules = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                modules = [node.module or ""]
            else:
                modules = []
            if any(m.split(".")[0] == "pandas" for m in modules):
                offenders.append(f"{where}: imports pandas")
            if isinstance(node, ast.Constant) and isinstance(node.value, bytes) and (
                node.value.startswith(_MAGICS)
            ):
                offenders.append(f"{where}: magic literal {node.value!r}")
    assert not offenders, offenders


def test_image_formats_agree():
    """The sniff, the header parser and the pixel decoder recognize images
    by one table, so they agree on every format: an extensionless url
    sniffs as image exactly when parse_image_header reads the header, and
    every format with a pixel decoder decodes to the header's dims (WebP
    and HEIC pixel decode stay declined). Extensionless TIFF once sniffed
    as unknown while both the parser and the decoder read it."""
    rgb = [[((x * 37 + y * 11) % 256, x * 5 % 256, y * 29 % 256) for x in range(13)]
           for y in range(9)]
    gray = [[(x * 19 + y * 7) % 256 for x in range(13)] for y in range(9)]
    payloads = {
        "png": make_png(rgb),
        "bmp": make_bmp(rgb),
        "gif": make_gif([gray]),
        "jpeg baseline": make_jpeg(rgb),
        "jpeg progressive": make_jpeg(rgb, progressive=True),
        "jpeg lossless": make_jpeg_lossless(rgb),
        "tiff II": make_tiff(rgb),
        "tiff MM": make_tiff(rgb, byte_order=">"),
        "webp": make_webp(13, 9),
        "heic": make_heic(13, 9),
        "text": b"II is not a TIFF header",
        "html": b"<html><body>BM</body></html>",
    }
    for name, b in payloads.items():
        header = parse_image_header(b)
        sniffed = detect_content_type("https://h/img/123", b)
        assert (sniffed == "image") == (header is not None), (name, sniffed)
        if header is None:
            assert name in ("text", "html") and decode_image(b) is None, name
            continue
        w, h, fmt = header
        assert (w, h) == (13, 9), name
        arr = decode_image(b)
        if fmt in ("WEBP", "HEIC"):
            assert arr is None, name
        else:
            assert arr is not None and arr.shape == (9, 13, 3), name


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
    re-dispatch: sniff-column/detector parity, inner-type routing, one
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
