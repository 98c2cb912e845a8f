"""End-to-end pipeline tests (SURVEY.md §5 item 3): per-url byte-identity of
the Spark pipeline vs the kernel oracle for 100% of urls, lineage-table
invariants, and the single-shuffle physical-plan property."""

from __future__ import annotations

import pytest

from universal_text_extractor_spark.kernels import (
    ExtractOptions,
    detect_content_type,
    extract_payload,
)
from universal_text_extractor_spark.operators.extract import (
    PartitionStatsParam,
    extract_pages_fused,
    lineage_metrics,
)
from universal_text_extractor_spark.sources.pages_gen import (
    PAGES_SCHEMA,
    generate_pages_df,
    make_page,
)

N = 1000

# Rows the generator never emits: missing or empty fetches, whitespace-only
# bodies and junk under an unknown extension. Each must still match the
# oracle through the one dispatch path.
EDGE_ROWS = [
    ("https://edge.example/null-no-ext", None),
    ("https://edge.example/null.pdf", None),
    ("https://edge.example/null.html", None),
    ("https://edge.example/null.gz", None),
    ("https://edge.example/empty", b""),
    ("https://edge.example/blank", b" \t\r\n  \n"),
    ("https://edge.example/junk.qqq", b"\x00\x01\x02\x7f\x1b junk \x00"),
]


def _oracle(
    url: str, html: bytes | None, options: ExtractOptions = ExtractOptions()
):
    """(content_type, text, ocr_used, success, error, logs) straight from
    the kernels — the definition of a correct pipeline row."""
    ct = detect_content_type(url, html)
    return (ct, *extract_payload(url, html, ct, options))


def _stable(row) -> tuple:
    return (
        row["content_type"], row["text"], row["ocr_used"], row["success"],
        row["error"], list(row["logs"]),
    )


def test_pipeline_byte_identity(spark):
    edge = spark.createDataFrame(
        [(u, None, h, "", "en") for u, h in EDGE_ROWS], schema=PAGES_SCHEMA
    )
    pages = generate_pages_df(spark, N, partitions=4).unionByName(edge)
    ext = extract_pages_fused(pages, num_partitions=8)
    rows = {r["url"]: r for r in ext.collect()}
    inputs = [(p["url"], p["html"]) for p in map(make_page, range(N))]
    inputs += EDGE_ROWS
    assert len(rows) == len(inputs)
    bad = []
    for url, html in inputs:
        r = rows[url]
        if (
            _stable(r) != _oracle(url, html)
            or r["input_bytes"] != len(html or b"")
        ):
            bad.append(url)
    assert not bad, f"{len(bad)} mismatching urls, e.g. {bad[:5]}"
    # the edge rows reach every failure shape the dispatch has
    edge_out = {u: rows[u] for u, _ in EDGE_ROWS}
    assert edge_out["https://edge.example/junk.qqq"]["content_type"] == "unknown"
    assert not edge_out["https://edge.example/null.gz"]["success"]


def test_lineage_invariants(spark):
    pages = generate_pages_df(spark, N, partitions=4)
    ext = extract_pages_fused(pages, num_partitions=8).cache()
    try:
        metrics = lineage_metrics(ext, run_id="testrun").collect()
        # Σ doc_count = input row count (FIXTURES.md §2)
        assert sum(m["doc_count"] for m in metrics) == N
        # every post-shuffle partition that held rows has exactly one row
        pids = [m["partition_id"] for m in metrics]
        assert len(pids) == len(set(pids))
        # failure_count consistency with the extracted table
        failures = ext.filter("NOT success").count()
        assert sum(m["failure_count"] for m in metrics) == failures
        # byte accounting
        total_bytes = sum(m["input_bytes"] for m in metrics)
        assert total_bytes == sum(len(make_page(i)["html"]) for i in range(N))
        for m in metrics:
            assert m["byte_range_start"] <= m["byte_range_end"]
            assert m["extraction_latency"] >= 0.0
    finally:
        ext.unpersist()


def test_partition_stats_merge_overwrites():
    """A partition reported twice (a retried, speculative or recomputed
    task attempt) keeps one copy of its stats, not their sum; distinct
    partitions are all kept."""
    param = PartitionStatsParam()
    acc = param.zero({})
    first = [3, 30, 5, 15, 1, 0, 900]
    for update in ({0: first}, {1: [1, 7, 7, 7, 0, 0, 40]}, {0: list(first)}):
        acc = param.addInPlace(acc, update)
    assert acc == {0: first, 1: [1, 7, 7, 7, 0, 0, 40]}


def test_lineage_requires_keep_bucket(spark):
    """Lineage stats are keyed by bucket, so an accumulator without
    ``keep_bucket`` is refused before any plan is built."""
    acc = spark.sparkContext.accumulator({}, PartitionStatsParam())
    pages = generate_pages_df(spark, 4, partitions=1)
    with pytest.raises(ValueError, match="keep_bucket"):
        extract_pages_fused(pages, lineage=acc)


def _exchange_inputs(node) -> list[list[str]]:
    """Column names each Exchange in a physical plan reads from its child."""
    found = []
    if node.nodeName().endswith("Exchange"):
        out = node.child().output()
        found.append([out.apply(i).name() for i in range(out.size())])
    children = node.children()
    for i in range(children.size()):
        found += _exchange_inputs(children.apply(i))
    return found


def test_fused_single_stage_plan(spark):
    """The fused path must be exactly one shuffle of (url, html) + one
    Arrow-native Python stage."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pages = generate_pages_df(spark, 50, partitions=2)
        executed = (
            extract_pages_fused(pages, num_partitions=4)
            ._jdf.queryExecution().executedPlan()
        )
        plan = executed.toString()
        # exactly one dispatch stage (the generator contributes its own
        # MapInPandas gen(...) below the exchange) and one shuffle
        assert plan.count("MapInArrow dispatch") == 1, plan
        assert plan.count("MapInPandas dispatch") == 0, plan
        assert plan.count("Exchange") == 1, plan
        # the sniff runs in the dispatch: only url and html cross the shuffle
        assert _exchange_inputs(executed) == [["url", "html"]], plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_generator_partition_invariance(spark):
    """Index-purity: the generated table must be identical at any
    parallelism (prerequisite for the scaling bench)."""
    a = {r["url"]: r["html"] for r in generate_pages_df(spark, 200, partitions=1).collect()}
    b = {r["url"]: r["html"] for r in generate_pages_df(spark, 200, partitions=7).collect()}
    assert a == b


def test_salted_repartition_breaks_host_skew(spark):
    """North rule: 'explicit repartitioning by url-hash with salting to
    break host-level skew'. The corpus's hosts are Zipfian (the heaviest
    host holds far more than a fair share), yet the salted
    xxhash64(url)-keyed exchange must land near-uniform partitions —
    asserted via the lineage doc counts the pipeline already emits."""
    from urllib.parse import urlparse

    n, parts = 4000, 16
    pages = generate_pages_df(spark, n, partitions=4)
    # premise: host-keyed partitioning WOULD be skewed (top host's share
    # is several fair shares) — otherwise this test proves nothing
    hosts = [urlparse(make_page(i)["url"]).netloc for i in range(n)]
    top_share = max(
        sum(1 for h in hosts if h == hh) for hh in set(hosts)
    ) / n
    assert top_share > 2.5 / parts, top_share
    ext = extract_pages_fused(pages, num_partitions=parts).cache()
    try:
        counts = [
            m["doc_count"]
            for m in lineage_metrics(ext, run_id="skewtest").collect()
        ]
        assert sum(counts) == n
        mean = n / parts
        # salted url-hash: every partition within a tight band of fair
        assert max(counts) <= 1.35 * mean, counts
        assert min(counts) >= 0.65 * mean, counts
    finally:
        ext.unpersist()


def test_main_content_mode(spark):
    """main_content=True (north-star boilerplate removal): html rows emit
    extract_main_content output and every other row stays byte-identical
    to the default mode."""
    from universal_text_extractor_spark.kernels import detect_and_decode
    from universal_text_extractor_spark.kernels.html_kernel import (
        extract_main_content,
    )

    pages = generate_pages_df(spark, 400, partitions=4)
    stable = ["url", "content_type", "text", "ocr_used", "success", "error", "logs"]
    plain = {
        r["url"]: r
        for r in extract_pages_fused(pages, num_partitions=8)
        .select(*stable)
        .collect()
    }
    fused = {
        r["url"]: r
        for r in extract_pages_fused(
            pages, num_partitions=8, options=ExtractOptions(main_content=True)
        )
        .select(*stable)
        .collect()
    }
    assert set(plain) == set(fused)

    payloads = {r["url"]: r["html"] for r in pages.collect()}
    n_html = 0
    for u, r in fused.items():
        if r["content_type"] == "html":
            n_html += 1
            want = extract_main_content(detect_and_decode(payloads[u] or b""))
            assert r["text"] == want, u
            assert (
                "Extracted main content from HTML (boilerplate removed)"
                in r["logs"]
            )
        else:  # every non-html row is unchanged by the flag
            assert tuple(r) == tuple(plain[u]), u
    assert n_html > 100  # the corpus is html-dominated; the mode was exercised


def test_fused_matches_oracle_under_ocr_options(spark):
    """The OCR option surface (language + handwriting_mode) threads
    through the pipeline exactly as through ``extract_payload``, and the
    options are visibly live: an unknown language turns every OCR'd image
    into the no-text literal."""
    from universal_text_extractor_spark.kernels.ocr_kernel import (
        NO_TEXT_LITERAL,
    )

    pages = generate_pages_df(spark, 300, partitions=4)
    options = ExtractOptions(
        use_ocr=True, ocr_language="fra", handwriting_mode=True
    )
    rows = {
        r["url"]: _stable(r)
        for r in extract_pages_fused(pages, num_partitions=4, options=options)
        .collect()
    }
    payloads = {r["url"]: r["html"] for r in pages.collect()}
    assert set(rows) == set(payloads)
    bad = [u for u, h in payloads.items() if rows[u] != _oracle(u, h, options)]
    assert not bad, f"{len(bad)} oracle mismatches under OCR options, e.g. {bad[:3]}"
    assert any(r[2] for r in rows.values())  # OCR actually ran

    bad_lang = {
        r["url"]: r["text"]
        for r in extract_pages_fused(
            pages, num_partitions=4,
            options=ExtractOptions(use_ocr=True, ocr_language="zz"),
        ).collect()
        if r["content_type"] == "image"
    }
    assert bad_lang and all(
        t == NO_TEXT_LITERAL or t.startswith("[")  # metadata-less payloads
        for t in bad_lang.values()
    )
    assert any(t == NO_TEXT_LITERAL for t in bad_lang.values())
