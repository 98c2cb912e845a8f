"""Content-type detection as pure Spark Column expressions (S2, SURVEY.md
§2.1: "F.when chain over magic bytes + url extension via regexp_extract; no
UDF needed").

RULE-PARITY CONTRACT with ``kernels/dispatch.py`` (tests/test_dispatch.py
locks it over the full synthetic corpus):

1. url extension lookup against the reference taxonomy
   (reference utils/file_handlers.py:94-145)
2. magic bytes: %PDF / PNG / GIF / JPEG / BMP / RIFF-WebP / ftyp-HEIC-HEIF
   / {\\rtf / the gzip, xz and bzip2 magics of ``kernels/limits.CODECS``
3. markup prefix (first 256 bytes, leading-ws-stripped, lowercased):
   <?xml → xml; <!doctype html | <html | <head | <body → html
4. plain-text byte rule: no control byte besides tab/LF/CR in the first 256
   bytes (expressed as a regexp over hex pairs — stays in WholeStageCodegen)
5. default: unknown

Everything here is JVM-side. The extraction path no longer uses it: its
``mapInArrow`` dispatch runs ``detect_content_type`` per row in the worker,
which avoids building this expression (~40 py4j calls) on the driver for
every plan. It stays for the benchmark's sniff probe and the parity test.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.dispatch import EXT_TO_TYPE, URL_EXT_PATTERN
from ..kernels.limits import CODECS

# any hex pair 00-08, 0B, 0C, 0E, 0F, 10-1F at an even offset
_CONTROL_PAIR_RE = "^(?:[0-9A-F]{2})*(?:0[0-8BCEF]|1[0-9A-F])"
_LEADING_WS_RE = "^[ \\t\\r\\n\\f]+"


def _magic(html: Column, prefix: bytes) -> Column:
    return F.substring(html, 1, len(prefix)) == F.lit(prefix)


def content_type_col(url: Column, html: Column) -> Column:
    """content_type dispatch column — rule-identical to
    ``kernels.dispatch.detect_content_type``."""
    ext = F.lower(F.regexp_extract(url, URL_EXT_PATTERN, 1))
    ext_map = F.create_map(
        *[F.lit(x) for kv in sorted(EXT_TO_TYPE.items()) for x in kv]
    )
    by_ext = F.element_at(ext_map, ext)  # null when extension unknown/absent

    is_image = (
        _magic(html, b"\x89PNG\r\n\x1a\n")
        | _magic(html, b"GIF87a")
        | _magic(html, b"GIF89a")
        | _magic(html, b"\xff\xd8\xff")
        | _magic(html, b"BM")
        | (_magic(html, b"RIFF") & (F.substring(html, 9, 4) == F.lit(b"WEBP")))
        | (
            (F.substring(html, 5, 4) == F.lit(b"ftyp"))
            & (
                (F.substring(html, 9, 4) == F.lit(b"heic"))
                | (F.substring(html, 9, 4) == F.lit(b"heix"))
                | (F.substring(html, 9, 4) == F.lit(b"heif"))
                | (F.substring(html, 9, 4) == F.lit(b"mif1"))
                | (F.substring(html, 9, 4) == F.lit(b"msf1"))
            )
        )
    )
    prefix = F.lower(
        F.regexp_replace(F.substring(html, 1, 256).cast("string"), _LEADING_WS_RE, "")
    )
    is_xml_markup = prefix.startswith("<?xml")
    is_html_markup = (
        prefix.startswith("<!doctype html")
        | prefix.startswith("<html")
        | prefix.startswith("<head")
        | prefix.startswith("<body")
    )
    is_texty = (F.length(html) > 0) & ~F.regexp_like(
        F.hex(F.substring(html, 1, 256)), F.lit(_CONTROL_PAIR_RE)
    )

    sniffed = (
        F.when(_magic(html, b"%PDF"), "pdf")
        .when(is_image, "image")
        .when(_magic(html, b"{\\rtf"), "rtf")
    )
    for c in CODECS:
        sniffed = sniffed.when(_magic(html, c.magic), c.type_name)
    sniffed = (
        sniffed.when(is_xml_markup, "xml")
        .when(is_html_markup, "html")
        .when(is_texty, "txt")
        .otherwise("unknown")
    )
    return F.coalesce(by_ext, sniffed)
