"""WARC ingestion source — .warc / .warc.gz → the pages table.

The north-star input (BASELINE.json input_hint) is an Iceberg/parquet
table of Common-Crawl-style pages ``(url, warc_ts, html, text, lang)``;
this module supplies the step BEFORE that table exists: reading real
crawl archives. Scope is the Common Crawl layout (ISO 28500 WARC/1.0/1.1):

- plain ``.warc`` and ``.warc.gz`` where EACH RECORD is its own gzip
  member (the Common Crawl convention that makes archives streamable;
  Python's zlib consumes member-concatenated streams incrementally)
- ``response`` records: the block is an HTTP/1.x response — status line
  + headers + CRLF CRLF + body; the body becomes the ``html`` column
  (Transfer-Encoding: chunked is de-chunked; Content-Encoding gzip is
  left intact — the dispatch layer decompresses payloads transparently)
- ``resource``/``conversion`` records: the block IS the payload
- url ← WARC-Target-URI, warc_ts ← WARC-Date (ISO 8601)

Scale design (reworked r4 per the r3 verdict): tasks receive archive
*paths*, not archive bytes. Each task opens its file and feeds an
incremental zlib decompressor, so per-task memory is one record + one
I/O chunk — never the ~1 GB archive that the old one-Arrow-cell-per-file
shape shipped JVM→Python before parsing could start (32 concurrent
tasks ≈ 32 GB resident), and the ``binaryFile`` 2 GiB per-file cap no
longer applies to archive CONTENT (the listing still uses binaryFile,
with only ``path`` selected — file sizes drive partition packing, so a
~1 GB archive naturally gets its own task). Parsed records are emitted
in bounded Arrow batches (row + byte caps). Malformed records are
skipped, never raised (D2 containment at the source).

The test fixture writer :func:`make_warc` is an independent spec
implementation (own header layout, per-record gzip members, mtime=0 for
byte-stability) — writer ≠ parser, same pattern as every kernel.
"""

from __future__ import annotations

import io
import zlib
from datetime import datetime

MAX_RECORD_BYTES = 256 * 1024 * 1024  # per-record containment bound
_CHUNK = 4 * 1024 * 1024  # file-read / decompress granule
_MAX_HEADER = 64 * 1024  # a WARC header block larger than this is garbage
_BATCH_ROWS = 1024  # Arrow batch flush: row cap ...
_BATCH_BYTES = 32 * 1024 * 1024  # ... and payload-byte cap

# single source of truth for the pages-table contract (r5 review,
# batch 3: a verbatim copy here could silently fork from the generator's)
from .pages_gen import PAGES_SCHEMA


def _iter_decompressed(f):
    """Yield decompressed chunks from a file object holding a plain or
    member-concatenated-gzip stream (the Common Crawl .warc.gz layout).
    Incremental: peak memory is O(_CHUNK), never the archive. A corrupt
    tail stops the iteration, keeping the chunks already yielded."""
    head = f.read(_CHUNK)
    if not head.startswith(b"\x1f\x8b"):
        while head:
            yield head
            head = f.read(_CHUNK)
        return
    d = zlib.decompressobj(wbits=31)
    pending = head
    while True:
        if not pending:
            pending = f.read(_CHUNK)
            if not pending:
                return
        try:
            out = d.decompress(pending, _CHUNK)
        except zlib.error:
            return  # corrupt member: keep what already decoded
        pending = d.unconsumed_tail
        if out:
            yield out
        if d.eof:
            # next member starts in unused_data (zero padding is legal);
            # a partial gzip magic split across reads is fine — the fresh
            # decompressobj buffers it until the next file chunk arrives
            pending = d.unused_data.lstrip(b"\x00")
            d = zlib.decompressobj(wbits=31)


def _parse_warc_header(raw: bytes):
    """WARC header block (sans trailing CRLFCRLF) → (fields, length) or
    None when malformed / length out of bounds."""
    try:
        lines = raw.decode("latin-1").split("\r\n")
        fields = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            fields[k.strip().lower()] = v.strip()
        length = int(fields.get("content-length", "-1"))
    except Exception:
        return None
    if length < 0 or length > MAX_RECORD_BYTES:
        return None
    return fields, length


def _parse_http_response(block: bytes) -> bytes:
    """HTTP response block → body bytes (headers dropped; chunked
    transfer-encoding reassembled). Returns the block unchanged when it
    doesn't parse as HTTP (resource-style payloads)."""
    if not block.startswith((b"HTTP/1.", b"HTTP/2")):
        return block
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return block
    headers = block[:sep].decode("latin-1", "replace").lower()
    body = block[sep + 4 :]
    if "transfer-encoding:" in headers and "chunked" in headers:
        out = bytearray()
        pos = 0
        while pos < len(body):
            eol = body.find(b"\r\n", pos)
            if eol < 0:
                break
            try:
                size = int(body[pos:eol].split(b";")[0], 16)
            except ValueError:
                break
            if size == 0:
                break
            out += body[eol + 2 : eol + 2 + size]
            pos = eol + 2 + size + 2
        return bytes(out)
    return body


def _to_record(fields: dict, block: bytes, record_types: tuple[str, ...]):
    """(header fields, raw block) → (url, ts, payload) or None (filtered
    record type / missing url)."""
    rtype = fields.get("warc-type", "")
    if rtype not in record_types:
        return None
    url = fields.get("warc-target-uri", "")
    if not url:
        return None
    ts = None
    raw_ts = fields.get("warc-date", "")
    try:
        ts = datetime.fromisoformat(raw_ts.replace("Z", "+00:00"))
    except ValueError:
        ts = None
    payload = _parse_http_response(block) if rtype == "response" else block
    return url, ts, payload


def _drain(buf: bytearray, record_types: tuple[str, ...], at_eof: bool):
    """Parse every COMPLETE record out of ``buf`` (mutated: consumed
    bytes are dropped, an in-flight record's prefix is retained). With
    ``at_eof`` a truncated final block is emitted as-is."""
    out = []
    pos = 0
    n = len(buf)
    while True:
        h = buf.find(b"WARC/", pos)
        if h < 0:
            pos = max(pos, n - 8)  # keep a tail that may hold a split magic
            break
        hdr_end = buf.find(b"\r\n\r\n", h)
        if hdr_end < 0:
            if n - h > _MAX_HEADER:
                pos = h + 5  # runaway "header": skip this marker
                continue
            pos = h  # wait for more input
            break
        parsed = _parse_warc_header(bytes(buf[h:hdr_end]))
        if parsed is None:
            pos = hdr_end + 4
            continue
        fields, length = parsed
        end = hdr_end + 4 + length
        if end > n:
            if not at_eof:
                pos = h  # record incomplete: wait for more input
                break
            end = n  # truncated archive tail: emit what decoded
        block = bytes(buf[hdr_end + 4 : end])
        pos = end
        rec = _to_record(fields, block, record_types)
        if rec is not None:
            out.append(rec)
    del buf[: max(pos, 0)]
    return out


def iter_warc_records_stream(f, record_types: tuple[str, ...] = ("response",)):
    """Yield ``(url, warc_ts | None, payload)`` from a WARC archive FILE
    OBJECT, incrementally: peak memory is one record + one chunk, never
    the archive. Malformed records are skipped; never raises."""
    buf = bytearray()
    for chunk in _iter_decompressed(f):
        buf += chunk
        yield from _drain(buf, record_types, at_eof=False)
    yield from _drain(buf, record_types, at_eof=True)


def iter_warc_records(data: bytes, record_types: tuple[str, ...] = ("response",)):
    """Byte-buffer convenience wrapper over the streaming parser."""
    yield from iter_warc_records_stream(io.BytesIO(data), record_types)


def _local_path(uri: str) -> str:
    """binaryFile path URI → an os.open-able local path. Non-local
    schemes hard-fail with a clear message (same local-FS-only policy as
    plans/storage.py — plug a DFS-capable opener here for object-store
    crawls; a posix-mounted DFS works as-is)."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    if p.scheme in ("", "file"):
        return unquote(p.path) or uri
    raise ValueError(
        f"read_warc opens archives task-side from local/file paths only, got {uri!r}"
    )


def _parse_warc_paths(batches):
    """``mapInPandas`` body: archive paths in, ``response`` records out as
    pages rows, flushed every ``_BATCH_ROWS`` rows or ``_BATCH_BYTES``
    payload bytes."""
    import pandas as pd

    cols = ["url", "warc_ts", "html", "text", "lang"]
    for pdf in batches:
        for uri in pdf["path"]:
            rows: list[tuple] = []
            nbytes = 0
            with open(_local_path(str(uri)), "rb") as f:
                for url, ts, payload in iter_warc_records_stream(f):
                    rows.append((url, ts, payload, "", ""))
                    nbytes += len(payload)
                    if len(rows) >= _BATCH_ROWS or nbytes >= _BATCH_BYTES:
                        yield pd.DataFrame(rows, columns=cols)
                        rows, nbytes = [], 0
            if rows:
                yield pd.DataFrame(rows, columns=cols)


def read_warc(spark, path: str):
    """Distributed WARC read: ``path`` (file / dir / glob of .warc[.gz])
    → pages DataFrame ``(url, warc_ts, html, text, lang)``. The listing
    distributes archive PATHS (binaryFile source, only ``path`` selected
    — content is never shipped through the JVM); each task streams its
    file record-at-a-time with bounded memory."""
    files = spark.read.format("binaryFile").load(path).select("path")
    return files.mapInPandas(_parse_warc_paths, PAGES_SCHEMA)


_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_stream(spark, path: str):
    """Streaming variant: a directory where .warc.gz archives keep
    arriving (a live crawl drop) → an unbounded pages stream for
    streaming/stream_extract. Same path-streaming parser, binaryFile
    file-stream source (each new archive becomes one micro-batch input
    file; exactly-once via the stream checkpoint, like every file
    source)."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .load(path)
        .select("path")
    )
    return files.mapInPandas(_parse_warc_paths, PAGES_SCHEMA)


# --- independent test-fixture writer --------------------------------------

def make_warc(
    records: list[tuple[str, str, bytes]],
    gz: bool = True,
    http_wrap: bool = True,
    chunked: bool = False,
) -> bytes:
    """WARC/1.0 writer (fixture side; independent of the parser above).
    ``records``: (url, iso_date, body). ``gz=True`` emits the Common
    Crawl shape — one gzip member per record, mtime=0 (byte-stable).
    ``http_wrap`` wraps bodies as HTTP/1.1 responses; ``chunked`` uses
    chunked transfer-encoding (exercises de-chunking)."""
    import gzip as _gzip

    out = bytearray()
    for i, (url, date, body) in enumerate(records):
        if http_wrap:
            if chunked:
                chunks = bytearray()
                step = 7
                for off in range(0, len(body), step):
                    part = body[off : off + step]
                    chunks += b"%x\r\n" % len(part) + part + b"\r\n"
                chunks += b"0\r\n\r\n"
                block = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Transfer-Encoding: chunked\r\n\r\n" + bytes(chunks)
                )
            else:
                block = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
                    + body
                )
        else:
            block = body
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: " + (b"response" if http_wrap else b"resource") + b"\r\n"
            b"WARC-Record-ID: <urn:uuid:0000-" + str(i).encode() + b">\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: " + date.encode() + b"\r\n"
            b"Content-Length: " + str(len(block)).encode() + b"\r\n"
            b"\r\n" + block + b"\r\n\r\n"
        )
        if gz:
            buf = io.BytesIO()
            with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
                f.write(rec)
            out += buf.getvalue()
        else:
            out += rec
    return bytes(out)
