"""Crawl→training-corpus pipeline (plans/corpus.py): stage semantics over
a planted corpus — junk dies at quality, exact clones at dedup, shingle
near-clones at LSH, and the survivors land in the corpus parquet with
stage counts that reconcile."""

from __future__ import annotations

from pyspark.sql import Row

from universal_text_extractor_spark.plans.corpus import build_training_corpus

_BASE = (
    "the quick brown fox jumps over the lazy dog while the storm gathers "
    "slowly across the valley and every farmer watches the clouds roll in "
    "before the harvest begins in earnest this autumn season brings change "
)


def _page(url: str, body: str) -> Row:
    html = f"<html><head><title>t</title></head><body><p>{body}</p></body></html>"
    return Row(url=url, warc_ts=None, html=html.encode(), text="", lang="en")


def test_build_training_corpus(spark, tmp_path):
    pages = [
        _page("https://a.example/keep1.html", _BASE + "unique tail one here today"),
        # exact clone of keep1 (same extracted text, higher url hash or lower —
        # either way exactly one survives)
        _page("https://b.example/clone.html", _BASE + "unique tail one here today"),
        # near clone: same shingle mass, different tail → jaccard ≥ 0.7
        _page("https://c.example/near.html", _BASE + "unique tail two here today"),
        # independent keeper
        _page(
            "https://d.example/keep2.html",
            "completely different content about spark partitioning and the "
            "catalyst optimizer with broadcast joins and shuffle planning in "
            "large distributed analytical engines running columnar scans",
        ),
        # junk: fails min_tokens
        _page("https://e.example/junk.html", "too short"),
        # junk: fails alpha ratio
        _page("https://f.example/nums.html", "1 2 3 4 5 6 7 8 9 10 " * 5),
    ]
    df = spark.createDataFrame(
        pages,
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "corpus_out")
    stats = build_training_corpus(spark, df, out, num_partitions=4)

    assert stats["extracted_ok"] == 6
    assert stats["quality_kept"] == 4  # junk + nums die
    assert stats["exact_unique"] == 3  # one of the exact clones dies
    assert stats["near_dup_unique"] == 2  # the near clone dies
    # monotone by construction
    assert (
        stats["extracted_ok"]
        >= stats["quality_kept"]
        >= stats["exact_unique"]
        >= stats["near_dup_unique"]
    )

    final = spark.read.parquet(f"{out}/corpus")
    urls = {r["url"] for r in final.select("url").collect()}
    assert "https://d.example/keep2.html" in urls
    # exactly one member of the {keep1, clone, near} family survives
    fam = {u for u in urls if u != "https://d.example/keep2.html"}
    assert len(fam) == 1 and fam < {
        "https://a.example/keep1.html",
        "https://b.example/clone.html",
        "https://c.example/near.html",
    }
    # docs carry the frame columns + predicted language
    row = final.filter(final.url == "https://d.example/keep2.html").first()
    assert row["lang"] == "en" and row["source"] == "d.example"
    assert row["doc_id"] is not None and row["n_chars"] > 0

    read_stats = spark.read.parquet(f"{out}/stats").first().asDict()
    assert read_stats == stats


def test_bucket_min_fast_path(spark, tmp_path):
    """verify_jaccard=False: the pair-free bucket-min purge kills the
    planted clones without materializing candidate pairs; exact-unique
    keepers with disjoint shingles survive."""
    pages = [
        _page("https://a.example/keep1.html", _BASE + "unique tail one here today"),
        _page("https://c.example/near.html", _BASE + "unique tail two here today"),
        _page(
            "https://d.example/keep2.html",
            "completely different content about spark partitioning and the "
            "catalyst optimizer with broadcast joins and shuffle planning in "
            "large distributed analytical engines running columnar scans",
        ),
    ]
    df = spark.createDataFrame(
        pages,
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "fast_out")
    stats = build_training_corpus(
        spark, df, out, num_partitions=4, verify_jaccard=False
    )
    assert stats["exact_unique"] == 3
    assert stats["near_dup_unique"] == 2  # near clone dies via bucket-min
    urls = {
        r["url"] for r in spark.read.parquet(f"{out}/corpus").select("url").collect()
    }
    assert "https://d.example/keep2.html" in urls and len(urls) == 2


def test_corpus_from_committed_extraction(spark, tmp_path):
    """The resume-friendly shape: a committed run_extraction output feeds
    build_training_corpus(extracted=...) — identical corpus to the
    one-shot path over the same pages."""
    from universal_text_extractor_spark.plans.pipeline import run_extraction

    pages = [
        _page("https://a.example/keep1.html", _BASE + "unique tail one here today"),
        _page("https://b.example/clone.html", _BASE + "unique tail one here today"),
        _page(
            "https://d.example/keep2.html",
            "completely different content about spark partitioning and the "
            "catalyst optimizer with broadcast joins and shuffle planning in "
            "large distributed analytical engines running columnar scans",
        ),
    ]
    df = spark.createDataFrame(
        pages,
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    run_dir = str(tmp_path / "run")
    run_extraction(spark, df, run_dir, n_buckets=2, num_partitions=2)
    extracted = spark.read.parquet(f"{run_dir}/extracted")

    out_a = str(tmp_path / "from_run")
    stats_a = build_training_corpus(spark, None, out_a, extracted=extracted)
    out_b = str(tmp_path / "one_shot")
    stats_b = build_training_corpus(spark, df, out_b, num_partitions=2)
    assert stats_a == stats_b
    ca = {r["url"] for r in spark.read.parquet(f"{out_a}/corpus").collect()}
    cb = {r["url"] for r in spark.read.parquet(f"{out_b}/corpus").collect()}
    assert ca == cb and "https://d.example/keep2.html" in ca


def test_stage_scratch_cleaned_and_no_caching(spark, tmp_path):
    """r3 verdict item #3: stage boundaries are parquet spills, not
    executor-memory caches — out_dir ends with only corpus/stats, and the
    module holds no persist()/cache() calls (stage memory must stay
    independent of corpus size)."""
    import inspect
    import random

    from pyspark.sql import Row

    from universal_text_extractor_spark.plans import corpus as corpus_mod

    src = inspect.getsource(corpus_mod)
    assert ".persist(" not in src and ".cache(" not in src

    rng = random.Random(3)
    words = ("alpha beta gamma delta epsilon zeta eta theta".split())
    pages = [
        Row(
            url=f"https://s.example/{i}.txt",
            warc_ts=None,
            html=(" ".join(rng.choices(words, k=40))).encode(),
            text="",
            lang="en",
        )
        for i in range(30)
    ]
    df = spark.createDataFrame(
        pages,
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = tmp_path / "staged"
    build_training_corpus(spark, df, str(out), num_partitions=2)
    names = sorted(p.name for p in out.iterdir())
    assert names == ["corpus", "stage_metrics", "stats"], names
    # r4 verdict item #7: per-stage wall + bytes are recorded so a
    # regression in one stage is attributable without a full re-run
    sm = {
        r["stage"]: r
        for r in spark.read.parquet(str(out / "stage_metrics")).collect()
    }
    assert set(sm) == {"framed", "quality", "exact", "shingles", "corpus"}
    assert all(r["wall_sec"] > 0 and r["out_bytes"] > 0 for r in sm.values())
    assert sm["framed"]["rows"] >= sm["quality"]["rows"] >= sm["corpus"]["rows"]


def test_connected_components_vs_union_find_oracle(spark):
    """Min-label propagation vs a driver-side union-find oracle over a
    graph mixing a long chain (worst case for propagation), a clique, a
    2-node pair, and a star."""
    import random

    from universal_text_extractor_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(11)
    edges = []
    chain = [rng.randrange(1 << 40) for _ in range(12)]
    edges += list(zip(chain, chain[1:]))
    clique = [rng.randrange(1 << 40) for _ in range(5)]
    edges += [(a, b) for i, a in enumerate(clique) for b in clique[i + 1 :]]
    edges += [(7, 9)]
    hub = rng.randrange(1 << 40)
    edges += [(hub, rng.randrange(1 << 40)) for _ in range(6)]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = sorted((x, find(x)) for x in parent)

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], schema="doc_a long, doc_b long"
    )
    got = sorted(
        (r["doc_id"], r["component"])
        for r in connected_components(pairs).collect()
    )
    assert got == want


def test_closure_vs_keep_first_differ_on_chains(spark, tmp_path):
    """r3 verdict item #6's fixture: a verified-pair CHAIN A—B—C where B
    has the largest doc_id. Keep-first kills only B (the max of both
    pairs) and keeps both endpoints; closure keeps one doc per component
    (the min id). Both modes checked against the expected url sets."""
    import hashlib
    import itertools

    from pyspark.sql import Row

    def mdl(u: str) -> int:
        return int(hashlib.md5(u.encode()).hexdigest()[:15], 16)

    # urls such that id(B) > id(A) and id(B) > id(C), id(A) < id(C)
    for i in itertools.count():
        ua, ub, uc = (f"https://cl.example/{x}{i}.txt" for x in "abc")
        if mdl(ub) > mdl(ua) < mdl(uc) < mdl(ub):
            break

    # word-3-shingle Jaccard: J(A,B)=J(B,C)=18/24=0.75 ≥ 0.7 (verified
    # pairs), J(A,C)=18/30=0.6 < 0.7 (no edge) — B is the textual bridge
    letters = "abcdefghijklmnopqrstuvwxyz"
    shared = [f"shared{letters[j]}" for j in range(20)]
    xa = [f"alpha{letters[j]}" for j in range(6)]
    yc = [f"gamma{letters[j]}" for j in range(6)]
    texts = {
        ua: " ".join(shared + xa),
        ub: " ".join(shared),
        uc: " ".join(shared + yc),
    }
    pages = [
        Row(url=u, warc_ts=None, html=t.encode(), text="", lang="en")
        for u, t in texts.items()
    ]
    df = spark.createDataFrame(
        pages,
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )

    out_kf = str(tmp_path / "keep_first")
    stats_kf = build_training_corpus(spark, df, out_kf, num_partitions=2)
    kept_kf = {r["url"] for r in spark.read.parquet(f"{out_kf}/corpus").collect()}
    assert kept_kf == {ua, uc}, kept_kf  # B (max id, in both pairs) dies
    assert stats_kf["near_dup_unique"] == 2

    out_cl = str(tmp_path / "closure")
    stats_cl = build_training_corpus(
        spark, df, out_cl, num_partitions=2, near_dup_closure=True
    )
    kept_cl = {r["url"] for r in spark.read.parquet(f"{out_cl}/corpus").collect()}
    assert kept_cl == {ua}, kept_cl  # one survivor per component: min id = A
    assert stats_cl["near_dup_unique"] == 1


def test_connected_components_warns_on_non_convergence(spark):
    """ADVICE r4: a chain longer than max_iters hops can't converge — the
    loop must WARN (reduced closure recall is a visible signal), and a
    sufficient max_iters on the same graph must stay silent."""
    import warnings

    import pytest

    from universal_text_extractor_spark.operators.dedup import (
        connected_components,
    )

    chain = list(range(100, 108))  # 7 edges; min-label needs 7 rounds
    pairs = spark.createDataFrame(
        list(zip(chain, chain[1:])), schema="doc_a long, doc_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        labels = connected_components(pairs, max_iters=2)
    # still returns a label per node, just split
    assert labels.count() == len(chain)

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        done = connected_components(pairs, max_iters=10)
    assert {r["component"] for r in done.collect()} == {100}


def test_closure_without_verify_jaccard_raises(spark, tmp_path):
    """ADVICE r4: closure semantics need the verified-pair graph —
    requesting closure with the pair-free bucket-min path must error, not
    silently fall back."""
    import pytest

    from universal_text_extractor_spark.plans.corpus import near_dup_purged

    docs = spark.createDataFrame(
        [(1, "u", "s", "en", "some text here", 14)],
        schema="doc_id long, url string, source string, lang string, "
        "text string, n_chars long",
    )
    with pytest.raises(ValueError, match="verified-pair"):
        near_dup_purged(docs, verify_jaccard=False, closure=True)
    with pytest.raises(ValueError, match="verified-pair"):
        build_training_corpus(
            spark,
            None,
            str(tmp_path / "x"),
            extracted=spark.createDataFrame(
                [("https://x.ex/a", "hello world text", True)],
                schema="url string, text string, success boolean",
            ),
            verify_jaccard=False,
            near_dup_closure=True,
        )


def test_minhash_pairs_from_staged_flat_equals_pure_operator(spark, tmp_path):
    """r4 verdict item #2's correctness lock: verified pairs computed from
    a STAGED (parquet-materialized) flat-shingle relation are identical to
    the pure-plan operator's — the staging is a physical choice, not a
    semantic one."""
    import random

    from pyspark.sql import Row

    from universal_text_extractor_spark.operators.dedup import (
        _shingle_hashes_flat,
        minhash_lsh_pairs,
        minhash_lsh_pairs_from_flat,
    )

    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    base = [" ".join(rng.choices(words, k=30)) for _ in range(20)]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(base)]
        # planted near-clones: same prefix, one-word tail change
        + [Row(doc_id=100 + i, text=base[i] + " omega") for i in range(5)],
        schema="doc_id long, text string",
    )
    want = sorted(map(tuple, minhash_lsh_pairs(docs, threshold=0.5).collect()))
    assert want, "fixture must produce at least one verified pair"

    staged = str(tmp_path / "flat")
    _shingle_hashes_flat(docs).write.parquet(staged)
    got = sorted(
        map(
            tuple,
            minhash_lsh_pairs_from_flat(
                spark.read.parquet(staged), threshold=0.5
            ).collect(),
        )
    )
    assert got == want


def test_bucket_min_from_flat_equals_document_fed(spark, tmp_path):
    """Bucket-min near_dup_purged fed a STAGED hashed-shingle relation
    must keep exactly the same survivor set as near_dup_purged deriving
    the flat shingles from the documents itself — the staging is a
    physical choice, not a semantic one."""
    import random

    from pyspark.sql import Row

    from universal_text_extractor_spark.operators.dedup import (
        _shingle_hashes_flat,
    )
    from universal_text_extractor_spark.plans.corpus import near_dup_purged

    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    base = [" ".join(rng.choices(words, k=30)) for _ in range(20)]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(base)]
        + [Row(doc_id=100 + i, text=base[i] + " omega") for i in range(5)],
        schema="doc_id long, text string",
    )
    want = sorted(
        r["doc_id"]
        for r in near_dup_purged(docs, verify_jaccard=False).collect()
    )
    assert len(want) < 25, "fixture must let bucket-min kill a clone"

    staged = str(tmp_path / "flat_bm")
    _shingle_hashes_flat(docs).write.parquet(staged)
    got = sorted(
        r["doc_id"]
        for r in near_dup_purged(
            docs, verify_jaccard=False, flat=spark.read.parquet(staged)
        ).collect()
    )
    assert got == want


def test_crawl_revisits_are_deduped(spark, tmp_path):
    """r5 review batch 3: every purge stage keys on doc_id, so doc_id must
    be row-unique. A url-only hash gave crawl REVISITS (same url captured
    twice) one shared id, and every copy sailed through exact and near-dup
    dedup untouched. Now: byte-identical recaptures collapse at framing
    (content-qualified id + dropDuplicates), changed revisits get distinct
    ids and the near-dup purge judges them on their text."""
    fwd = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rev = "kappa iota theta eta zeta epsilon delta gamma beta alpha " * 3
    ext = spark.createDataFrame(
        [
            ("https://a.ex/page", fwd, True),
            ("https://a.ex/page", fwd, True),  # byte-identical recapture
            ("https://b.ex/page", rev + "omega", True),  # revisit, edited
            ("https://b.ex/page", rev + "omicron", True),
        ],
        schema="url string, text string, success boolean",
    )
    out = str(tmp_path / "revisit_out")
    stats = build_training_corpus(spark, None, out, extracted=ext)
    assert stats["extracted_ok"] == 3  # identical recapture collapsed
    assert stats["exact_unique"] == 3  # three distinct texts remain
    assert stats["near_dup_unique"] == 2  # edited revisit pair -> 1 survivor
    rows = spark.read.parquet(f"{out}/corpus").collect()
    assert len(rows) == 2
    assert len({r["doc_id"] for r in rows}) == 2  # ids are row-unique
    urls = sorted(r["url"] for r in rows)
    assert urls[0] == "https://a.ex/page" and urls[1] == "https://b.ex/page"
