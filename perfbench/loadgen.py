"""Seeded input generation for the benchmark workloads.

Every input is a ``pages`` table (url, warc_ts, html, text, lang) built on
the index-pure ``sources.pages_gen.make_page``: row content is a function of
(seed, index) only, so the same seed always gives the same parquet bytes.
On top of the default page mix each workload gets:

- a fixed share of empty or blank fetches (``EMPTY_SHARE``), the documents
  the kernels must report as ``success=false``; a fixed share keeps
  ``docs_failed_frac`` non-zero and steady across seeds;
- a size-stratified page selection: page sizes are heavy-tailed (Pareto),
  so N consecutive pages carry a seed-dependent amount of work. Pages are
  drawn in index order and kept while their (content family, size
  stratum) cell has room, so every seed gets the reference mix of
  families and sizes while the page contents still come from the seed;
- corpus-dupes only: injected duplicate groups (crawl revisits, mirrored
  exact copies, one-word near-dup edits) and one hot template cluster.

Inputs are cached per (workload, seed, size) under the data directory and
are generated before any timed span starts. ``properties.json`` next to
each parquet records the measured share of each input property.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
import re
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from universal_text_extractor_spark.kernels.dispatch import (
    detect_content_type,
    extract_payload,
)
from universal_text_extractor_spark.sources import pages_gen

EMPTY_SHARE = 0.08
GEN_VERSION = 2  # part of the cache key: bump when generation changes

# Reference mix for the stratified selection: share of each content family
# and its payload-size quantile edges (bytes) at the cumulative shares
# _STRATUM_CUM, measured on make_page(i, 42) for i < 24,000.
_FAMILY_SHARE = {"html": 0.5413, "pdf": 0.0993, "other": 0.3594}
_EDGES = {
    "html": (8471, 10120, 12849, 20351, 33233, 54073, 186783),
    "pdf": (810, 2507, 4774, 7611, 11741, 13449, 15577),
    "other": (357, 768, 1519, 3054, 4781, 6884, 21150),
}
_STRATUM_CUM = (0.2, 0.4, 0.6, 0.8, 0.9, 0.95, 0.99, 1.0)
SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# corpus-dupes injection shape: per duplicate group one base page plus a
# revisit, a mirror and NEAR_DUPS one-word edits; one template cluster
DUP_GROUP_SHARE = 0.25
NEAR_DUPS = 2
TEMPLATE_SHARE = 0.12
DUP_DOC_WORDS = 900  # long docs: a one-word edit keeps Jaccard ≈ 0.99


def _empty_page(i: int, seed: int) -> dict:
    rng = random.Random(f"empty:{seed}:{i}")
    return {
        "url": f"https://host{rng.randrange(1000):04d}.example.com/empty/{i:09d}.txt",
        "warc_ts": pages_gen._EPOCH + dt.timedelta(seconds=rng.randrange(86400)),
        "html": rng.choice([b"", b" \n", b"\t\r\n  \n"]),
        "text": "",
        "lang": "unknown",
    }


def _cell(page: dict) -> tuple[str, int]:
    cls = page["url"].split("/")[3]
    family = "html" if cls.startswith("html") else "pdf" if cls == "pdf" else "other"
    return family, bisect.bisect_left(_EDGES[family], len(page["html"]))


def _quotas(n: int) -> dict[tuple[str, int], int]:
    """Largest-remainder split of n pages over (family, stratum) cells."""
    exact = {}
    for fam, share in _FAMILY_SHARE.items():
        prev = 0.0
        for k, cum in enumerate(_STRATUM_CUM):
            exact[(fam, k)] = n * share * (cum - prev)
            prev = cum
    quotas = {c: int(x) for c, x in exact.items()}
    for c in sorted(exact, key=lambda c: quotas[c] - exact[c])[: n - sum(quotas.values())]:
        quotas[c] += 1
    return quotas


def _base_rows(n: int, seed: int) -> list[dict]:
    """Stratified default-mix pages with every 1/EMPTY_SHARE-th row an
    empty fetch."""
    stride = round(1 / EMPTY_SHARE)
    n_empty = sum(1 for i in range(n) if i % stride == stride // 2)
    quotas = _quotas(n - n_empty)
    pages, i = [], 0
    while len(pages) < n - n_empty:
        page = pages_gen.make_page(i, seed)
        cell = _cell(page)
        if quotas[cell]:
            quotas[cell] -= 1
            pages.append(page)
        i += 1
    it = iter(pages)
    return [_empty_page(i, seed) if i % stride == stride // 2 else next(it) for i in range(n)]


def _dup_html(words: list[str], title: str) -> bytes:
    body = "".join(
        "<p>" + " ".join(words[k : k + 60]).capitalize() + ".</p>\n"
        for k in range(0, len(words), 60)
    )
    return (
        f"<!DOCTYPE html>\n<html>\n<head>\n<title>{title}</title>\n</head>\n"
        f"<body>\n<main>\n{body}</main>\n</body>\n</html>\n"
    ).encode()


def _edit(words: list[str], rng: random.Random) -> list[str]:
    """Replace one word with a different word: changes at most 3 shingles."""
    out = list(words)
    k = rng.randrange(len(out))
    out[k] = rng.choice([w for w in pages_gen._WORDS if w != out[k]])
    return out


def _dup_page(url: str, payload: bytes, ts_s: int) -> dict:
    return {
        "url": url,
        "warc_ts": pages_gen._EPOCH + dt.timedelta(seconds=ts_s),
        "html": payload,
        "text": "",
        "lang": "en",
    }


def _corpus_rows(n: int, seed: int) -> tuple[list[dict], dict[str, int]]:
    """Default mix plus duplicate groups; returns rows and url → group id.

    Group ids: 0..G-1 are duplicate groups (base, revisit, mirror, edits),
    G is the template cluster. Rows outside any group carry no id."""
    rng = random.Random(f"dupes:{seed}")
    group_size = 3 + NEAR_DUPS
    n_groups = max(1, int(n * DUP_GROUP_SHARE) // group_size)
    n_template = max(2, int(n * TEMPLATE_SHARE))
    n_base = n - n_groups * group_size - n_template
    rows = _base_rows(n_base, seed)
    groups: dict[str, int] = {}
    idx = n_base
    for g in range(n_groups):
        words = [rng.choice(pages_gen._WORDS) for _ in range(DUP_DOC_WORDS)]
        payload = _dup_html(words, f"Group {g} report")
        url = f"https://dup{g:04d}.example.org/article/{g}.html"
        members = [
            _dup_page(url, payload, 0),  # base
            _dup_page(url, payload, 7 * 86400),  # byte-identical revisit
            _dup_page(f"https://mirror{g:04d}.example.net/copy/{g}.html", payload, 3600),
        ]
        for e in range(NEAR_DUPS):
            members.append(
                _dup_page(
                    f"https://edit{e}.example.com/dup/{g}-{e}.html",
                    _dup_html(_edit(words, rng), f"Group {g} report"),
                    7200 + e,
                )
            )
        for m in members:
            groups[m["url"]] = g
        rows.extend(members)
        idx += group_size
    template = [rng.choice(pages_gen._WORDS) for _ in range(DUP_DOC_WORDS)]
    for t in range(n_template):
        url = f"https://shop{t % 50:02d}.example.com/item/{idx + t:09d}.html"
        rows.append(_dup_page(url, _dup_html(_edit(template, rng), "Item page"), t))
        groups[url] = n_groups
    # interleave injected rows so no partition holds only duplicates
    random.Random(f"order:{seed}").shuffle(rows)
    return rows, groups


def _properties(rows: list[dict], groups: dict[str, int]) -> dict:
    classes = Counter(r["url"].split("/")[3] for r in rows)
    n = len(rows)
    cluster_sizes = Counter()
    for r in rows:
        g = groups.get(r["url"])
        if g is not None:
            cluster_sizes[g] += 1
    urls = Counter(r["url"] for r in rows)
    payloads = Counter(r["html"] for r in rows if groups.get(r["url"]) is not None)
    return {
        "rows": n,
        "content_class_share": {k: round(v / n, 4) for k, v in sorted(classes.items())},
        "html_share": round(
            sum(v for k, v in classes.items() if k.startswith("html")) / n, 4
        ),
        "empty_share": round(classes.get("empty", 0) / n, 4),
        "revisit_share": round(sum(c - 1 for c in urls.values()) / n, 4),
        "exact_copy_share": round(sum(c - 1 for c in payloads.values()) / n, 4),
        "grouped_share": round(sum(cluster_sizes.values()) / n, 4),
        "groups": len(cluster_sizes),
        "largest_cluster": max(cluster_sizes.values(), default=0),
    }


def _check_group_quality(rows: list[dict], groups: dict[str, int]) -> None:
    """Grouped pages must extract and sit well inside the corpus quality
    gates, so the survivor check only tests deduplication."""
    for r in rows:
        if r["url"] not in groups:
            continue
        text, _, ok, _, _ = extract_payload(
            r["url"], r["html"], detect_content_type(r["url"], r["html"])
        )
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        alpha = sum(ch.isalpha() for ch in text) / max(len(text), 1)
        if not ok or len(norm.split(" ")) < 100 or alpha < 0.84:
            raise RuntimeError(f"injected page {r['url']} is near a quality gate")


def write_parquet(rows: list[dict], path: str) -> None:
    table = pa.Table.from_pylist(rows, schema=SCHEMA)
    pq.write_table(table, path, row_group_size=256)


def ensure_inputs(data_dir: str, workload: str, seed: int, size: int) -> dict:
    """Generate (or reuse) the cached input for one (workload, seed, size).

    Returns a dict with the parquet path (``pages``), the
    url → group map (corpus-dupes) and the measured input properties."""
    key = f"{workload}-s{seed}-n{size}-v{GEN_VERSION}"
    d = os.path.join(data_dir, key)
    meta_path = os.path.join(d, "properties.json")
    if not os.path.exists(meta_path):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "corpus-dupes":
            rows, groups = _corpus_rows(size, seed)
            _check_group_quality(rows, groups)
        else:
            rows, groups = _base_rows(size, seed), {}
        write_parquet(rows, os.path.join(tmp, "pages.parquet"))
        meta = {"workload": workload, "seed": seed, "size": size, "groups": groups,
                "properties": _properties(rows, groups)}
        with open(os.path.join(tmp, "properties.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["pages"] = os.path.join(d, "pages.parquet")
    return meta


def read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()
