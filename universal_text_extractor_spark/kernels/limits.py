"""Hostile-input bounds: the one home of every kernel's decompression cap,
pixel cap and transparent-decompression codec.

Crawl payloads are untrusted. A few hundred KB of deflate, xz, bzip2 or
LZW can expand to gigabytes, and a 20-byte image header can claim a
65535×65535 canvas. Every kernel that inflates a stream, reads a zip
member or allocates from a header-claimed size goes through this module
(``tests/test_limits.py`` lints the package for stray decompressors and
second definitions), so each bound is one number in one place. TIFF
strips keep their own tighter budgets, derived from the header's size.

The helpers read the caps when they are called, not when they are
imported, so a test can shrink a cap with ``monkeypatch.setattr``.
"""

from __future__ import annotations

import bz2
import io
import lzma
import zipfile
import zlib
from collections.abc import Callable
from typing import NamedTuple

# decompressed bytes allowed out of one payload, stream or zip archive
MAX_INFLATE_BYTES = 128 * 1024 * 1024

# header-claimed pixel count bound, checked BEFORE anything is allocated
# (a 600-dpi letter scan is ~34M pixels — well inside)
MAX_PIXELS = 48_000_000


class Codec(NamedTuple):
    """A transparent-decompression content type: crawls store compressed
    bodies, and the dispatch decompresses and re-dispatches them."""

    type_name: str  # content_type routed by the dispatch
    ext: str  # url extension
    magic: bytes
    decompressor: Callable[[], object]  # fresh one-stream decompressor
    tail_log: str  # "Discarded N {tail_log}" for a non-codec tail


# sniff order matters: kernels/dispatch.py tests the magics in this order
CODECS = (
    Codec(
        "gzip", "gz", b"\x1f\x8b",
        lambda: zlib.decompressobj(wbits=31),
        "trailing non-gzip bytes after gzip member",
    ),
    Codec(
        "xz", "xz", b"\xfd7zXZ\x00",
        lambda: lzma.LZMADecompressor(format=lzma.FORMAT_XZ),
        "trailing non-xz bytes after xz stream",
    ),
    Codec(
        "bzip2", "bz2", b"BZh",
        bz2.BZ2Decompressor,
        "trailing non-bz2 bytes after bzip2 stream",
    ),
)
CODEC_BY_TYPE = {c.type_name: c for c in CODECS}


def decompress_streams(codec: Codec, payload: bytes, logs: list[str]) -> bytes:
    """Decompress ALL concatenated streams (gzip members, xz streams, the
    pbzip2/wiki-dump one-bz2-stream-per-block layout) under
    ``MAX_INFLATE_BYTES`` in total — a single-stream decompress silently
    drops everything after stream 1. A TRUNCATED stream raises: at crawl
    scale a cut-off document must not enter the corpus flagged clean with
    partial text. Zero padding after a stream is spec-legal and silent;
    any other tail is discarded with a log line."""
    out = bytearray()
    data = payload
    while True:
        dobj = codec.decompressor()
        out += dobj.decompress(data, MAX_INFLATE_BYTES - len(out) + 1)
        if len(out) > MAX_INFLATE_BYTES:
            raise ValueError(f"{codec.type_name} payload exceeds decompression cap")
        if not dobj.eof:
            raise ValueError(f"{codec.type_name} stream truncated or corrupt")
        data = dobj.unused_data.lstrip(b"\x00")
        if not data:
            return bytes(out)
        if not data.startswith(codec.magic):
            logs.append(f"Discarded {len(data)} {codec.tail_log}")
            return bytes(out)


def inflate(data: bytes) -> bytes:
    """``zlib.decompress(data)`` under ``MAX_INFLATE_BYTES``, with its
    stream rules: bytes after the end of the stream are ignored, and a
    truncated stream raises."""
    dobj = zlib.decompressobj()
    out = dobj.decompress(data, MAX_INFLATE_BYTES + 1)
    if len(out) > MAX_INFLATE_BYTES:
        raise ValueError("zlib stream exceeds decompression cap")
    if not dobj.eof:
        raise zlib.error(
            "Error -5 while decompressing data: incomplete or truncated stream"
        )
    return out


class Archive(zipfile.ZipFile):
    """A zip archive read from a payload, whose members share one budget of
    ``MAX_INFLATE_BYTES`` decompressed bytes: a small archive of many
    members, each under the cap, must not inflate past it in total."""

    def __init__(self, payload: bytes):
        super().__init__(io.BytesIO(payload))
        self.inflate_left = MAX_INFLATE_BYTES


def read_member(zf: Archive, name: str) -> bytes:
    """``zf.read(name)`` within what is left of the archive's inflate
    budget (the member's CRC is still checked when it is read to the
    end)."""
    with zf.open(name) as f:
        data = f.read(zf.inflate_left + 1)
    if len(data) > zf.inflate_left:
        raise ValueError(f"zip member {name} exceeds decompression cap")
    zf.inflate_left -= len(data)
    return data
