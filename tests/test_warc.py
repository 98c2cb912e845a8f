"""WARC ingestion source tests (sources/warc.py): parse round-trips
against the independent fixture writer, distributed read via the
binaryFile source, and end-to-end extraction from .warc.gz → text."""

from __future__ import annotations

import gzip as _gzip
import io

from universal_text_extractor_spark.sources.warc import (
    iter_warc_records,
    make_warc,
    read_warc,
)

RECS = [
    ("https://a.example/x.html", "2024-01-02T03:04:05Z",
     b"<html><head><title>One</title></head><body><p>one body</p></body></html>"),
    ("https://b.example/y.html", "2024-02-02T03:04:05Z",
     b"<html><body>two two</body></html>"),
    ("https://c.example/z.txt", "2024-03-02T03:04:05Z", b"plain text doc"),
]


def test_warc_parse_round_trip():
    for gz in (True, False):
        for chunked in (False, True):
            data = make_warc(RECS, gz=gz, chunked=chunked)
            got = list(iter_warc_records(data))
            assert len(got) == 3, (gz, chunked)
            for (u, d, b), (gu, gts, gp) in zip(RECS, got):
                assert gu == u and gp == b
                assert gts is not None and gts.year == int(d[:4])
    # resource records (no HTTP wrapper)
    got = list(
        iter_warc_records(make_warc(RECS, http_wrap=False), record_types=("resource",))
    )
    assert len(got) == 3 and got[0][2] == RECS[0][2]
    # request/metadata records are filtered out by default
    assert list(iter_warc_records(make_warc(RECS, http_wrap=False))) == []


def test_warc_containment():
    good = make_warc(RECS, gz=True)
    for cut in (10, len(good) // 2, len(good) - 5):
        assert isinstance(list(iter_warc_records(good[:cut])), list)
    for pos in range(0, len(good), max(1, len(good) // 40)):
        mut = bytearray(good)
        mut[pos] ^= 0xFF
        assert isinstance(list(iter_warc_records(bytes(mut))), list)
    # gzip'd body payload stays intact (dispatch decompresses it later)
    inner = _gzip.compress(b"<html><body>gzipped body</body></html>", mtime=0)
    data = make_warc([("https://g.example/a.html.gz", "2024-01-01T00:00:00Z", inner)])
    (_, _, payload), = iter_warc_records(data)
    assert payload == inner


def test_read_warc_to_extraction(spark, tmp_path):
    """The full ingestion path: .warc.gz files on disk → read_warc →
    extract_pages_fused → per-url text identical to direct extraction."""
    from universal_text_extractor_spark.kernels.dispatch import extract_payload
    from universal_text_extractor_spark.operators.extract import extract_pages_fused

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "part-0.warc.gz").write_bytes(make_warc(RECS[:2]))
    (d / "part-1.warc.gz").write_bytes(make_warc(RECS[2:], chunked=True))
    pages = read_warc(spark, str(d))
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {u for u, _, _ in RECS}
    for u, _, b in RECS:
        assert bytes(rows[u]["html"]) == b
        assert rows[u]["warc_ts"] is not None

    out = {r["url"]: r for r in extract_pages_fused(pages, num_partitions=2).collect()}
    for u, _, b in RECS:
        want = extract_payload(u, b)[0]
        assert out[u]["text"] == want, u
        assert out[u]["success"]


def test_mixed_crawl_end_to_end(spark, tmp_path):
    """Capstone integration: one WARC crawl mixing the real-web shapes
    added this round — gzip-compressed HTML bodies, AES-256-encrypted
    ObjStm PDFs, CID-font PDFs, scanned TIFFs (OCR path), interlaced
    PNGs — through read_warc → extract_pages_fused with use_ocr, each
    url's text equal to direct kernel extraction."""
    import gzip as _g
    import random

    from universal_text_extractor_spark.kernels.dispatch import extract_payload
    from universal_text_extractor_spark.kernels.options import ExtractOptions
    from universal_text_extractor_spark.operators.extract import extract_pages_fused
    from universal_text_extractor_spark.sources.pages_gen import (
        _pdf_doc_pages,
        make_png,
        make_tiff,
        render_text_rows,
    )

    ocr = ExtractOptions(use_ocr=True)
    rng = random.Random(42)
    html = b"<html><head><title>T</title></head><body><p>crawl body</p></body></html>"
    scan_rows = render_text_rows(["MIXED CRAWL TEST"], rng, scale=1)
    gray = [[px[0] for px in row] for row in scan_rows]
    docs = [
        ("https://m.example/page.html.gz", _g.compress(html, mtime=0)),
        ("https://m.example/enc.pdf",
         _pdf_doc_pages(random.Random(1), 2, True, encrypt="aes256", objstm=True)),
        ("https://m.example/cid.pdf",
         _pdf_doc_pages(random.Random(2), 2, True, cid_font=True)),
        ("https://m.example/scan.tiff",
         make_tiff(gray, color="gray", compression="lzw")),
        ("https://m.example/pic.png",
         make_png([[(10, 20, 30)] * 24] * 16, "rgb", [0], interlace=True)),
    ]
    warc = tmp_path / "mix"
    warc.mkdir()
    (warc / "crawl.warc.gz").write_bytes(
        make_warc([(u, "2024-05-05T05:05:05Z", p) for u, p in docs])
    )
    pages = read_warc(spark, str(warc))
    out = {
        r["url"]: r
        for r in extract_pages_fused(pages, num_partitions=2, options=ocr).collect()
    }
    assert set(out) == {u for u, _ in docs}
    for u, p in docs:
        want = extract_payload(u, p, options=ocr)[0]
        assert out[u]["text"] == want, u
    # the OCR'd scan actually recognized the rendered text
    assert "MIXED CRAWL TEST" in out["https://m.example/scan.tiff"]["text"]
    # the encrypted PDF produced real page text (not the corrupt literal)
    assert "--- Page 1 ---" in out["https://m.example/enc.pdf"]["text"]
    # the gzip body extracted the inner HTML
    assert "crawl body" in out["https://m.example/page.html.gz"]["text"]


def test_streaming_warc_ingestion(spark, tmp_path):
    """read_warc_stream: archives arriving in a directory extract as a
    stream, exactly-once across restarts (the availableNow + checkpoint
    pattern the batch-parquet stream_extract uses)."""
    from universal_text_extractor_spark.operators.extract import extract_pages_fused
    from universal_text_extractor_spark.sources.warc import read_warc_stream

    drop = tmp_path / "drop"
    drop.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (drop / "a.warc.gz").write_bytes(make_warc(RECS[:2]))

    def run_once():
        pages = read_warc_stream(spark, str(drop))
        assert pages.isStreaming
        q = (
            extract_pages_fused(pages, num_partitions=2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    got = {r["url"] for r in spark.read.parquet(out).select("url").collect()}
    assert got == {u for u, _, _ in RECS[:2]}

    # second archive arrives; restart processes ONLY the new file
    (drop / "b.warc.gz").write_bytes(make_warc(RECS[2:]))
    run_once()
    rows = spark.read.parquet(out).collect()
    assert {r["url"] for r in rows} == {u for u, _, _ in RECS}
    assert len(rows) == 3  # no duplicates: exactly-once via the checkpoint
    by_url = {r["url"]: r for r in rows}
    for u, _, b in RECS:
        from universal_text_extractor_spark.kernels.dispatch import extract_payload

        assert by_url[u]["text"] == extract_payload(u, b)[0]


class _Trickle:
    """File object returning at most ``step`` bytes per read — forces
    every chunk-boundary path in the incremental reader."""

    def __init__(self, data: bytes, step: int):
        self._f = io.BytesIO(data)
        self._step = step

    def read(self, n=-1):
        lim = self._step if n is None or n < 0 else min(n, self._step)
        return self._f.read(lim)


def test_warc_stream_reader_chunk_boundaries():
    """Records split across arbitrary read boundaries parse identically
    to the whole-buffer parse (headers, gzip magics, blocks all straddle
    reads at step=7)."""
    from universal_text_extractor_spark.sources.warc import (
        iter_warc_records_stream,
    )

    for gz in (True, False):
        data = make_warc(RECS, gz=gz)
        want = list(iter_warc_records(data))
        for step in (7, 64, 1 << 20):
            got = list(iter_warc_records_stream(_Trickle(data, step)))
            assert got == want, (gz, step)


def test_warc_stream_reader_bounded_memory(tmp_path):
    """r3 verdict item #1: parsing an archive much larger than any single
    record must hold one record + one chunk, not the archive. 48 MiB of
    records through the reader with a Python-alloc peak pinned far below
    the archive size."""
    import random
    import tracemalloc

    from universal_text_extractor_spark.sources.warc import (
        _CHUNK,
        iter_warc_records_stream,
    )

    rng = random.Random(7)
    body = bytes(rng.randrange(256) for _ in range(256 * 1024))
    recs = [
        (f"https://big.example/{i}", "2024-01-01T00:00:00Z", body)
        for i in range(192)
    ]  # 192 * 256 KiB = 48 MiB decompressed
    p = tmp_path / "big.warc.gz"
    p.write_bytes(make_warc(recs, gz=True))
    assert p.stat().st_size > 40 * 1024 * 1024  # random bodies don't compress

    tracemalloc.start()
    n = 0
    with open(p, "rb") as f:
        for url, _ts, payload in iter_warc_records_stream(f):
            assert len(payload) == len(body)
            n += 1
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n == 192
    # one record (256 KiB) + one chunk (4 MiB) + slack — NOT 48 MiB
    assert peak < 4 * _CHUNK, f"reader peak {peak/2**20:.1f} MiB not bounded"


def test_warc_parser_emits_bounded_batches(monkeypatch):
    """The task-side parser flushes Arrow batches at the row cap instead
    of materializing one DataFrame per archive."""
    import pandas as pd

    from universal_text_extractor_spark.sources import warc as warc_mod

    monkeypatch.setattr(warc_mod, "_BATCH_ROWS", 2)
    recs = [
        (f"https://b.example/{i}.txt", "2024-01-01T00:00:00Z", b"body %d" % i)
        for i in range(5)
    ]
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".warc.gz") as tf:
        tf.write(make_warc(recs))
        tf.flush()
        batches = iter([pd.DataFrame({"path": [tf.name]})])
        out = list(warc_mod._parse_warc_paths(batches))
    assert [len(b) for b in out] == [2, 2, 1]
    assert list(out[0]["url"]) == [u for u, _, _ in recs[:2]]


def test_warc_rejects_remote_scheme():
    from universal_text_extractor_spark.sources.warc import _local_path

    import pytest

    assert _local_path("file:/tmp/a.warc.gz") == "/tmp/a.warc.gz"
    assert _local_path("/tmp/b.warc") == "/tmp/b.warc"
    with pytest.raises(ValueError, match="local/file paths only"):
        _local_path("s3a://bucket/crawl.warc.gz")
