"""Correctness checks over collected program outputs.

Every check takes plain Python data and returns a list of failure
messages (empty = pass), so ``corruption_self_test`` can feed it a
deliberately corrupted copy of a real run's output and confirm it fails.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

from universal_text_extractor_spark.kernels.dispatch import (
    detect_content_type,
    extract_payload,
)

ORACLE_SAMPLE = 48


def oracle(pages: list[dict], seed: int, k: int = ORACLE_SAMPLE) -> dict[str, tuple[bool, str]]:
    """url → (success, md5 hex of text) from ``extract_payload`` on a seeded
    sample of distinct urls (the same per-document function the pipeline
    maps over Arrow batches)."""
    by_url = {p["url"]: p for p in pages}
    urls = random.Random(f"oracle:{seed}").sample(sorted(by_url), min(k, len(by_url)))
    out = {}
    for u in urls:
        payload = by_url[u]["html"]
        text, _, ok, _, _ = extract_payload(u, payload, detect_content_type(u, payload))
        out[u] = (ok, hashlib.md5(text.encode("utf-8")).hexdigest())
    return out


def check_extracted(rows: list[tuple], input_urls: list[str], expected: dict) -> list[str]:
    """rows = (url, success, md5(text)) per output document."""
    errs = []
    if len(rows) != len(input_urls):
        errs.append(f"row count {len(rows)} != input {len(input_urls)}")
    counts = Counter(r[0] for r in rows)
    dup = [u for u, c in counts.items() if c > 1]
    if dup:
        errs.append(f"{len(dup)} urls have more than one row, e.g. {dup[0]}")
    if set(counts) != set(input_urls):
        errs.append(f"output urls differ from input urls ({len(set(counts) ^ set(input_urls))} differ)")
    got = {r[0]: (bool(r[1]), r[2]) for r in rows}
    bad = [u for u, v in expected.items() if got.get(u) != v]
    if bad:
        errs.append(f"{len(bad)}/{len(expected)} sampled urls differ from the oracle, e.g. {bad[0]}")
    return errs


def check_resume(
    n_buckets: int,
    committed_before: list[int],
    committed_by_resume: list[int],
    skipped_by_resume: list[int],
    manifest_after: list[int],
) -> list[str]:
    errs = []
    pending = sorted(set(range(n_buckets)) - set(committed_before))
    if sorted(committed_by_resume) != pending:
        errs.append(f"resume committed {sorted(committed_by_resume)}, pending were {pending}")
    if sorted(skipped_by_resume) != sorted(committed_before):
        errs.append(f"resume skipped {sorted(skipped_by_resume)}, committed were {sorted(committed_before)}")
    if sorted(set(manifest_after)) != list(range(n_buckets)):
        errs.append(f"manifest holds buckets {sorted(set(manifest_after))} after resume")
    if len(manifest_after) != len(set(manifest_after)):
        errs.append("manifest holds a bucket twice")
    return errs


def check_corpus(survivor_urls: list[str], groups: dict[str, int], input_urls: list[str]) -> list[str]:
    """Each injected duplicate group (revisit, mirror, near-dup edits, the
    template cluster) keeps exactly one member; survivors are input urls
    and no url survives twice."""
    errs = []
    counts = Counter(survivor_urls)
    if any(c > 1 for c in counts.values()):
        errs.append("a url survives more than once")
    unknown = set(counts) - set(input_urls)
    if unknown:
        errs.append(f"{len(unknown)} survivor urls are not input urls")
    kept = Counter(groups[u] for u in survivor_urls if u in groups)
    n_groups = len(set(groups.values()))
    wrong = {g: kept.get(g, 0) for g in set(groups.values()) if kept.get(g, 0) != 1}
    if wrong:
        g, c = next(iter(sorted(wrong.items())))
        errs.append(f"{len(wrong)}/{n_groups} injected groups keep != 1 member (group {g} keeps {c})")
    return errs


def corruption_self_test(cases: list[tuple[str, callable]]) -> list[str]:
    """Each case is (name, thunk) where the thunk runs a check on a
    corrupted copy of this run's real output; every one must fail."""
    return [f"corrupted output passed its check: {name}" for name, thunk in cases if not thunk()]


def extracted_corruptions(rows: list[tuple], input_urls: list[str], expected: dict) -> list[tuple[str, callable]]:
    sampled = next(i for i, r in enumerate(rows) if r[0] in expected)
    changed = list(rows)
    u, ok, h = changed[sampled]
    changed[sampled] = (u, ok, hashlib.md5(b"corrupt" + h.encode()).hexdigest())
    return [
        ("dropped row", lambda: check_extracted(rows[1:], input_urls, expected)),
        ("duplicated row", lambda: check_extracted(rows + rows[:1], input_urls, expected)),
        ("changed text", lambda: check_extracted(changed, input_urls, expected)),
    ]


def resume_corruptions(n_buckets, before, committed, skipped, manifest) -> list[tuple[str, callable]]:
    extra = sorted(set(range(n_buckets)) - set(committed))[:1] or [n_buckets]
    return [
        ("resume re-committed a done bucket",
         lambda: check_resume(n_buckets, before, committed + extra, skipped, manifest)),
        ("manifest lost a bucket",
         lambda: check_resume(n_buckets, before, committed, skipped, manifest[1:])),
    ]


def corpus_corruptions(survivors, groups, input_urls) -> list[tuple[str, callable]]:
    grouped = [u for u in survivors if u in groups]
    g = groups[grouped[0]]
    twin = next(u for u, gg in groups.items() if gg == g and u not in survivors)
    return [
        ("near-dup group keeps two", lambda: check_corpus(survivors + [twin], groups, input_urls)),
        ("group lost its survivor",
         lambda: check_corpus([u for u in survivors if u != grouped[0]], groups, input_urls)),
    ]
