"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry is a thin lambda over the operator library in
``universal_text_extractor_spark/operators/`` (SURVEY.md §2 inventory:
analytics A1-A12, TPC-H-ish joins/windows, dedup, similarity, text stats).
Each ``oracle_sql()`` entry is the ANSI-SQL twin executed by DuckDB on the
same parquet; hash-sensitive values use the md5 bridge (identical md5 in
both engines) or double-promoted folds so results match bit-for-bit.
"""

from __future__ import annotations

import pathlib
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from universal_text_extractor_spark.functions.text_funcs import WS_CHARS
from universal_text_extractor_spark.operators import analytics as A
from universal_text_extractor_spark.operators import clustering as C
from universal_text_extractor_spark.operators import dedup as D
from universal_text_extractor_spark.operators import multimodal as M
from universal_text_extractor_spark.operators import similarity as S
from universal_text_extractor_spark.operators import textstats as T
from universal_text_extractor_spark.operators import tpch as Q
from universal_text_extractor_spark.operators.similarity import (
    EMB_DIM,
    LSH_PLANES,
    PLANES,
)
from universal_text_extractor_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _parquet_rows(path: str) -> int | None:
    """Row count from parquet footer metadata — no Spark job."""
    try:
        import pyarrow.parquet as pq

        return pq.read_metadata(path).num_rows
    except Exception:
        return None


def _pages_sample(spark: SparkSession, n: int = 500) -> DataFrame:
    """Deterministic synthetic pages slice (binary payload column) for the
    multimodal queries — the sf testdata tables carry no binary column, so
    the seeded generator provides one (index-pure → identical at any
    parallelism)."""
    from universal_text_extractor_spark.sources.pages_gen import generate_pages_df

    return generate_pages_df(spark, n, partitions=4)


def _media_sample(spark: SparkSession, n: int = 200) -> DataFrame:
    """Deterministic synthetic media table (real BMP/PNG pixel payloads:
    document scans, rotated scans, photo noise, junk) for the K14-K16
    preprocessing operators."""
    from universal_text_extractor_spark.sources.pages_gen import generate_media_df

    return generate_media_df(spark, n)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-(lang, source) corpus profile over documents."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return T.doc_profile(docs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- analytics surface (A1-A12 over events) ---
        "a1_total_count": lambda s, d: A.total_count(_t(s, d, "events")),
        "a2_conditional_counts": lambda s, d: A.conditional_counts(_t(s, d, "events")),
        "a4_avg_value": lambda s, d: A.avg_value(_t(s, d, "events")),
        "a5_top_event_types": lambda s, d: A.top_event_types(_t(s, d, "events")),
        "a6_value_histogram": lambda s, d: A.value_histogram(_t(s, d, "events")),
        "a7_daily_trend": lambda s, d: A.daily_trend(_t(s, d, "events")),
        "a8_top_users": lambda s, d: A.top_users(_t(s, d, "events")),
        "a9_derived_rates": lambda s, d: A.derived_rates(_t(s, d, "events")),
        "a11_ordered_scan": lambda s, d: A.ordered_scan(_t(s, d, "events")),
        "a12_per_user_activity": lambda s, d: A.per_user_activity(_t(s, d, "events")),
        "a13_value_percentiles": lambda s, d: A.value_percentiles(_t(s, d, "events")),
        "d4_point_lookup": lambda s, d: A.point_lookup(_t(s, d, "events")),
        "d5_user_history": lambda s, d: A.user_history(_t(s, d, "events")),
        "d6_retention_filter": lambda s, d: A.retention_filter(_t(s, d, "events")),
        "w5_user_sessions": lambda s, d: A.user_sessions(_t(s, d, "events")),
        # --- relational breadth (TPC-H-ish) ---
        "q1_pricing_summary": lambda s, d: Q.q1_pricing_summary(_t(s, d, "lineitem")),
        "q3_shipping_priority": lambda s, d: Q.q3_shipping_priority(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "q5_local_supplier_volume": lambda s, d: Q.q5_local_supplier_volume(
            _t(s, d, "region"), _t(s, d, "nation"), _t(s, d, "customer"),
            _t(s, d, "supplier"), _t(s, d, "orders"), _t(s, d, "lineitem"),
        ),
        "q6_forecast_revenue": lambda s, d: Q.q6_forecast_revenue(_t(s, d, "lineitem")),
        "q10_returned_items": lambda s, d: Q.q10_returned_items(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem"),
            _t(s, d, "nation"),
        ),
        "q14_promo_revenue": lambda s, d: Q.q14_promo_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        "q18_large_volume_customer": lambda s, d: Q.q18_large_volume_customer(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "q4_order_priority": lambda s, d: Q.q4_order_priority(
            _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "q12_shipmode_priority": lambda s, d: Q.q12_shipmode_priority(
            _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "q19_disjunctive_revenue": lambda s, d: Q.q19_disjunctive_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        "q22_global_sales_opportunity": lambda s, d: Q.q22_global_sales_opportunity(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        "w1_top_orders_per_segment": lambda s, d: Q.top_orders_per_segment(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        "w2_rolling_order_stats": lambda s, d: Q.rolling_order_stats(
            _t(s, d, "orders")
        ),
        "w3_lang_rollup": lambda s, d: Q.lang_rollup(_t(s, d, "documents")),
        "w4_lang_source_cube": lambda s, d: Q.lang_source_cube(
            _t(s, d, "documents")
        ),
        "aj_customers_without_orders": lambda s, d: Q.customers_without_orders(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        # --- text analysis ---
        "t1_doc_profile": lambda s, d: T.doc_profile(_t(s, d, "documents")),
        "t2_token_counts": lambda s, d: T.token_counts(_t(s, d, "documents")),
        "t3_quality_summary": lambda s, d: T.quality_summary(_t(s, d, "documents")),
        "t6_quality_filter": lambda s, d: T.quality_filter(_t(s, d, "documents")),
        "t4_fingerprints": lambda s, d: T.fingerprints(_t(s, d, "documents")),
        "t5_language_id": lambda s, d: T.language_id(_t(s, d, "documents")),
        # --- dedup ---
        "dd1_exact_dedup_groups": lambda s, d: D.exact_dedup_groups(
            _t(s, d, "documents")
        ),
        "dd2_exact_kept_count": lambda s, d: D.exact_dedup_keep(_t(s, d, "documents")),
        "dd7_exact_purge": lambda s, d: D.exact_dedup_purge(_t(s, d, "documents")),
        "dd3_ngram_jaccard_pairs": lambda s, d: D.ngram_jaccard_pairs(
            _t(s, d, "documents"), threshold=0.2
        ),
        "dd6_simhash_near_pairs": lambda s, d: D.simhash_near_dup_pairs(
            _t(s, d, "documents")
        ),
        "dd4_minhash_lsh_pairs": lambda s, d: D.minhash_lsh_pairs(
            _t(s, d, "documents"), threshold=0.2
        ),
        # dd5 (simhash hamming-0 groups) retired from the registry in r3:
        # subsumed by dd6 (VERDICT r2 item 10 — keep the registry within
        # the driver's graded window). The operator remains; parity vs its
        # DuckDB twin is still locked by tests/test_queries.py.
        # --- similarity search ---
        # n_vectors from parquet metadata (driver-side, no Spark job) feeds
        # the size gate: tiny corpora take the single-window rank, at-scale
        # inputs the two-stage salted top-k (similarity.brute_force_topk)
        "s1_brute_force_topk": lambda s, d: S.brute_force_topk(
            _t(s, d, "embeddings"), n_vectors=_parquet_rows(f"{d}/embeddings.parquet")
        ),
        "s2_lsh_ann_pairs": lambda s, d: S.lsh_ann_pairs(_t(s, d, "embeddings")),
        "s3_embedding_near_dup": lambda s, d: S.embedding_near_dup(
            _t(s, d, "embeddings"), sim_threshold=0.8
        ),
        "s4_ivf_topk": lambda s, d: S.ivf_topk(_t(s, d, "embeddings")),
        # iterative Lloyd's k-means (driver-loop iterations) — genuinely
        # non-SQL-expressible per the brief; rows-only check, semantics
        # locked by tests/test_clustering.py
        "s5_kmeans_profile": lambda s, d: C.kmeans_cluster_profile(
            _t(s, d, "embeddings")
        ),
        # --- multimodal. m1's header parse has a full byte-level DuckDB
        # twin (_m1_oracle_sql). m2 (1→many frame sampling, decode honestly
        # stubbed) was retired from the registry in r3 (VERDICT r2 item 1:
        # the 52-entry registry exceeded the driver's graded window) — the
        # operator remains, locked by tests/test_multimodal.py. m3 is
        # K14-K16 + feature stats over REAL decoded pixels, upgraded in r3
        # from rows-only to a full integer-exact DuckDB oracle that
        # recomputes the pixel math from the WRITER-side pixel ground
        # truth (_m3_oracle_sql) ---
        # n=4000: wide enough that every header format the kernel parses —
        # incl. the r4 WebP variants (VP8X / 'VP8 ' / VP8L) and HEIC/HEIF
        # brands — appears in the sample, so the oracle exercises them all
        "m1_media_metadata": lambda s, d: M.media_metadata(
            _pages_sample(s, 4000), payload_col="html"
        ),
        "m3_image_prep_profile": lambda s, d: M.image_prep_profile(
            _media_sample(s)
        ),
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL. Shared fragments are built programmatically so the md5
# bridge (hash = ('0x'||substr(md5(x),1,15))::BIGINT), the LSH plane matrix,
# and the simhash bit ladder stay rule-identical to the Spark operators.
# ---------------------------------------------------------------------------

_H = "('0x'||substr(md5({x}),1,15))::BIGINT"


def _ws_trim(texpr: str) -> str:
    """Whitespace runs collapsed to one space, then trimmed — the twin of
    ``functions.text_funcs``' whitespace rule, with its spelled-out class
    (RE2's ``\\s`` lacks \\x0B, which Java's has)."""
    return f"trim(regexp_replace({texpr}, '[{WS_CHARS}]+', ' ', 'g'))"


def _words(texpr: str = "text") -> str:
    """Words of the NORMALIZED text: lowered, whitespace runs collapsed,
    trimmed, and no token for an empty text. One basis for token counts
    and shingles, the twin of ``functions.normalized_text_col`` and
    rule-identical to ``operators.dedup._shingles_flat`` (r5 review batch
    3: trimming only spaces gave leading-``\\n`` docs a phantom empty
    token)."""
    n = _ws_trim(f"lower({texpr})")
    return f"CASE WHEN {n} = '' THEN []::VARCHAR[] ELSE string_split({n}, ' ') END"


_SHINGLES = (
    "CASE WHEN len(ws) < 3 THEN []::VARCHAR[] ELSE list_distinct("
    "list_transform(generate_series(1, len(ws)-2), i -> array_to_string(ws[i:i+2], ' ')))"
    " END"
)

_COS = (
    "round(list_sum(list_transform(generate_series(1, {dim}), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
    " * sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)))), 6)"
)


def _minhash_sig_sql() -> str:
    """sig list: md5 per shingle, then 16 XOR-permutation minhashes
    (mirrors dedup.XOR_SEEDS exactly)."""
    per = ", ".join(
        f"list_min(list_transform(shash, h -> xor(h, {seed}::BIGINT)))"
        for seed in D.XOR_SEEDS
    )
    return (
        f"WITH w AS (SELECT doc_id, {_words()} AS ws FROM documents), "
        f"sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w), "
        "hs AS (SELECT doc_id, shingles, list_transform(shingles, s -> "
        + _H.format(x="s")
        + ") AS shash FROM sh), "
        f"sig AS (SELECT doc_id, shash, len(shingles) AS n_sh, [{per}] AS sig "
        f"FROM hs WHERE len(shingles) > 0)"
    )


def _minhash_lsh_sql(threshold: float) -> str:
    rows = D.NUM_MINHASHES // D.LSH_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, array_to_string(sig[{bi * rows + 1}:{bi * rows + rows}], ',') AS bucket FROM sig"
        for bi in range(D.LSH_BANDS)
    )
    return (
        _minhash_sig_sql() + ", "
        f"bands AS ({band_rows}), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        " FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), "
        "j AS (SELECT c.doc_a, c.doc_b, "
        # intersect over the md5-long HASHES, not strings: the Spark side
        # verifies over hashed shingle rows, so the md5 bridge must be
        # rule-identical — a prefix collision has to move both engines
        # together, as dd3's oracle already guarantees (r5 review, batch 5)
        " len(list_intersect(sa.shash, sb.shash)) AS inter, sa.n_sh AS na, sb.n_sh AS nb "
        " FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b) "
        "SELECT doc_a, doc_b, round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard "
        f"FROM j WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= {threshold}"
    )


def _simhash_fp_cte(bits: int = 16) -> str:
    """WITH … fp(doc_id, simhash) — shared by dd5 (groups) and dd6
    (banded hamming ≤ k pairs); mirrors dedup.simhash_fingerprints."""
    bit_terms = " + ".join(
        f"(CASE WHEN sum(((hv >> {b}) & 1) * 2 - 1) > 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(bits)
    )
    return (
        "WITH tok AS (SELECT doc_id, t FROM (SELECT doc_id, "
        f"unnest(regexp_split_to_array({_ws_trim('lower(text)')}, ' ')) AS t "
        "FROM documents) WHERE t <> ''), "
        f"h AS (SELECT doc_id, {_H.format(x='t')} AS hv FROM tok), "
        f"fp AS (SELECT doc_id, ({bit_terms})::BIGINT AS simhash FROM h GROUP BY doc_id)"
    )


def _simhash_sql(bits: int = 16) -> str:
    return (
        _simhash_fp_cte(bits) + " "
        "SELECT simhash, CAST(COUNT(*) AS BIGINT) AS group_size, MIN(doc_id) AS canonical_doc_id "
        "FROM fp GROUP BY simhash HAVING COUNT(*) > 1 ORDER BY simhash"
    )


def _simhash_near_pairs_sql(bits: int = 32, max_hamming: int = 3) -> str:
    """Mirror of dedup.simhash_near_dup_pairs: SIMHASH_BANDS bands as the
    candidate join key, exact popcount verify."""
    bw = bits // D.SIMHASH_BANDS
    mask = (1 << bw) - 1
    return (
        _simhash_fp_cte(bits) + ", "
        f"bands AS (SELECT doc_id, simhash, band, (simhash >> (band * {bw})) & {mask} AS val "
        f"FROM fp, generate_series(0, {D.SIMHASH_BANDS - 1}) t(band)), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "a.simhash AS sa, b.simhash AS sb FROM bands a JOIN bands b "
        "ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id) "
        "SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming "
        f"FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}"
    )


def _lsh_sig_sql(emb: str) -> str:
    terms = []
    for j in range(LSH_PLANES):
        arr = "[" + ",".join(f"{float(v)}" for v in PLANES[j]) + "]"
        proj = (
            f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
            f"i -> {emb}[i]::DOUBLE * ({arr}::DOUBLE[])[i]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {2 ** j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def _ivf_topk_sql(k: int = 10, n_probe: int = 2) -> str:
    """Mirror of similarity.ivf_topk: same ±1 centroid matrix, same
    first-max cluster assignment (list_position), same probe tie-break."""
    dots = []
    for c in range(S.IVF_CENTROIDS_N):
        arr = "[" + ",".join(str(float(v)) for v in S.CENTROIDS[c]) + "]"
        dots.append(
            f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
            f"i -> embedding[i]::DOUBLE * ({arr}::DOUBLE[])[i]))"
        )
    cscores = "[" + ", ".join(dots) + "]"
    qids = "(0, 1, 2, 3, 4)"
    return (
        f"WITH sc AS (SELECT vec_id, embedding, {cscores} AS cscores FROM embeddings), "
        "asn AS (SELECT vec_id, embedding, "
        "CAST(list_position(cscores, list_max(cscores)) AS INT) AS cluster FROM sc), "
        f"qs AS (SELECT vec_id AS query_id, embedding AS q_emb, cscores FROM sc WHERE vec_id IN {qids}), "
        f"qp AS (SELECT query_id, q_emb, i AS cluster, cscores[i] AS cscore "
        f"FROM qs, generate_series(1, {S.IVF_CENTROIDS_N}) t(i)), "
        "pr AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cscore DESC, cluster ASC) AS prank FROM qp), "
        f"probe AS (SELECT query_id, q_emb, CAST(cluster AS INT) AS cluster FROM pr WHERE prank <= {n_probe}), "
        "cand AS (SELECT p.query_id, p.q_emb, a.vec_id, a.embedding "
        "FROM probe p JOIN asn a USING (cluster) WHERE a.vec_id <> p.query_id), "
        "sims AS (SELECT query_id, vec_id, "
        + _COS.format(dim=EMB_DIM, a="q_emb", b="embedding")
        + " AS sim FROM cand) "
        "SELECT query_id, vec_id, sim, rk FROM ("
        "SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
        f"ORDER BY sim DESC, vec_id ASC) AS INT) AS rk FROM sims) WHERE rk <= {k}"
    )


def _lang_score(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in T.LANG_MARKERS[lang])
    return (
        f"round(len(list_filter(ws, t -> t IN ({markers})))::DOUBLE"
        f" / greatest(len(ws), 1), 4)"
    )


def _lang_id_sql() -> str:
    langs = sorted(T.LANG_MARKERS)
    scores = ", ".join(f"{_lang_score(lang)} AS s_{lang}" for lang in langs)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    chain = " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in langs
    )
    return (
        f"WITH w AS (SELECT doc_id, lang, {_words()} AS ws FROM documents), "
        f"sc AS (SELECT doc_id, lang, {scores} FROM w), "
        f"p AS (SELECT doc_id, lang, {best} AS best, * FROM sc), "
        f"pred AS (SELECT doc_id, lang, CASE {chain} ELSE 'unknown' END AS predicted FROM p) "
        "SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS cnt FROM pred "
        "GROUP BY lang, predicted ORDER BY lang, predicted"
    )


def _byte(i) -> str:
    """1-based byte value of the m1 prefix, read from its hex string ``hx``
    (DuckDB's BLOB supports neither substring nor slicing here; hex-string
    arithmetic does the job)."""
    if isinstance(i, int):
        return f"('0x'||substr(hx,{2 * i - 1},2))::INT"
    return f"('0x'||substr(hx,2*({i})-1,2))::INT"


def _u16be(i) -> str:
    return f"({_byte(i)} * 256 + {_byte(f'{i}+1' if isinstance(i, str) else i + 1)})"


def _m1_oracle_sql(n: int = 4000) -> str:
    """Full-hash oracle for m1 (VERDICT.md item 10): the header-parse half
    of media_metadata is deterministic and SQL-expressible, so DuckDB
    re-derives format/width/height from RAW PAYLOAD BYTES — fixed-offset
    fields for PNG/GIF/BMP, a recursive-CTE marker scan for JPEG that
    mirrors kernels.image_kernel._jpeg_size step for step, and (r4)
    RIFF-WebP variant fields (VP8X 24-bit LE canvas, 'VP8 ' 14-bit LE
    frame dims behind the 9D 01 2A start code, VP8L packed 14-bit) plus
    the ISOBMFF HEIC/HEIF 'ispe' box (located by aligned hex strpos;
    u32be width/height at +8/+12 past the box type).

    Input: a (url, prefix[128], n_bytes) parquet written HERE with pyarrow
    straight from the index-pure page generator (no Spark involved) — the
    same role the sf testdata parquet plays for every other oracle. 128
    bytes covers every fixed-offset field, the corpus JPEGs' SOF0, and
    the writer-side heic ispe box (ends at byte 105).
    """
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from universal_text_extractor_spark.sources.pages_gen import make_page

    build = pathlib.Path(__file__).resolve().parent / "build"
    build.mkdir(exist_ok=True)
    path = build / "m1_prefixes.parquet"
    rows = [make_page(i) for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "url": [r["url"] for r in rows],
                "prefix": [(r["html"] or b"")[:128] for r in rows],
                "n_bytes": [len(r["html"] or b"") for r in rows],
            },
            schema=pa.schema(
                [("url", pa.string()), ("prefix", pa.binary()), ("n_bytes", pa.int64())]
            ),
        ),
        path,
    )

    is_png = (
        "substr(hx,1,16) = '89504E470D0A1A0A' AND plen >= 24 "
        "AND substr(hx,25,8) = '49484452'"
    )
    is_gif = (
        "substr(hx,1,12) IN ('474946383761','474946383961') AND plen >= 10"
    )
    is_bmp = "substr(hx,1,4) = '424D' AND plen >= 26"
    has_jpeg_magic = "substr(hx,1,6) = 'FFD8FF'"
    # RIFF....WEBP + chunk fourcc (VP8X / 'VP8 ' / VP8L)
    is_webp = "substr(hx,1,8) = '52494646' AND substr(hx,17,8) = '57454250'"
    cc = "substr(hx,25,8)"
    webp_w = (
        f"CASE WHEN {cc} = '56503858' AND plen >= 30 "
        f"THEN 1 + {_byte(25)} + {_byte(26)}*256 + {_byte(27)}*65536 "
        f"WHEN {cc} = '56503820' AND plen >= 30 AND substr(hx,47,6) = '9D012A' "
        f"THEN ({_byte(27)} + {_byte(28)}*256) % 16384 "
        f"WHEN {cc} = '5650384C' AND plen >= 25 AND substr(hx,41,2) = '2F' "
        f"THEN {_byte(22)} + ({_byte(23)} % 64)*256 + 1 END"
    )
    webp_h = (
        f"CASE WHEN {cc} = '56503858' AND plen >= 30 "
        f"THEN 1 + {_byte(28)} + {_byte(29)}*256 + {_byte(30)}*65536 "
        f"WHEN {cc} = '56503820' AND plen >= 30 AND substr(hx,47,6) = '9D012A' "
        f"THEN ({_byte(29)} + {_byte(30)}*256) % 16384 "
        f"WHEN {cc} = '5650384C' AND plen >= 25 AND substr(hx,41,2) = '2F' "
        f"THEN ({_byte(23)} // 64) + {_byte(24)}*4 + ({_byte(25)} % 16)*1024 + 1 END"
    )
    # ISOBMFF ftyp + HEIC/HEIF brand; ispe box located by byte-aligned hex
    # strpos ('ispe' = 69737065), width/height u32be at +8/+12 past the type
    is_heic = (
        "substr(hx,9,8) = '66747970' AND substr(hx,17,8) IN "
        "('68656963','68656978','68656966','6D696631','6D736631')"
    )
    heic_ok = (
        f"({is_heic}) AND (strpos(hx,'69737065') % 2) = 1 "
        "AND ip > 0 AND ip + 15 <= plen"
    )
    heic_w = (
        f"{_byte('ip+8')}*16777216 + {_byte('ip+9')}*65536 "
        f"+ {_byte('ip+10')}*256 + {_byte('ip+11')}"
    )
    heic_h = (
        f"{_byte('ip+12')}*16777216 + {_byte('ip+13')}*65536 "
        f"+ {_byte('ip+14')}*256 + {_byte('ip+15')}"
    )
    heic_fmt = (
        "CASE WHEN substr(hx,17,8) IN ('68656966','6D736631') "
        "THEN 'HEIF' ELSE 'HEIC' END"
    )
    # little-endian signed int32 at 1-based offset i
    le32 = (
        lambda i: f"(CASE WHEN {_byte(i + 3)} >= 128 THEN -4294967296 ELSE 0 END"
        f" + {_byte(i)} + {_byte(i + 1)} * 256 + {_byte(i + 2)} * 65536"
        f" + {_byte(i + 3)} * 16777216)"
    )
    u32be = (
        lambda i: f"({_byte(i)} * 16777216 + {_byte(i + 1)} * 65536"
        f" + {_byte(i + 2)} * 256 + {_byte(i + 3)})"
    )
    # the JPEG scan state machine (mirrors _jpeg_size: skip padding/markers,
    # jump segments by length, stop at SOF0..SOF15 minus DHT/JPG/DAC)
    marker = _byte("pos+1")
    seglen = _u16be("pos+2")
    sof = (
        f"({_byte('pos')} = 255 AND {marker} BETWEEN 192 AND 207 "
        f"AND {marker} NOT IN (196, 200, 204))"
    )
    return (
        "WITH RECURSIVE "
        f"p AS (SELECT url, hex(prefix) AS hx, n_bytes, octet_length(prefix) AS plen, "
        f"(strpos(hex(prefix),'69737065') + 1) // 2 AS ip "
        f"FROM read_parquet('{path}')), "
        f"jp AS (SELECT * FROM p WHERE {has_jpeg_magic} "
        f"AND NOT ({is_png}) AND NOT ({is_gif}) AND NOT ({is_bmp})), "
        "scan(url, hx, plen, pos, it, h, w, done) AS ("
        "  SELECT url, hx, plen, 3, 0, NULL::INT, NULL::INT, FALSE FROM jp "
        "  UNION ALL "
        "  SELECT url, hx, plen, "
        f"   CASE WHEN {sof} THEN pos "
        f"        WHEN {_byte('pos')} <> 255 THEN pos + 1 "
        f"        WHEN {marker} IN (216, 1) OR {marker} BETWEEN 208 AND 215 THEN pos + 2 "
        f"        ELSE pos + 2 + {seglen} END, "
        "   it + 1, "
        f"   CASE WHEN {sof} THEN {_u16be('pos+5')} END, "
        f"   CASE WHEN {sof} THEN {_u16be('pos+7')} END, "
        f"   {sof} "
        "  FROM scan WHERE NOT done AND it < 64 AND pos + 9 <= plen), "
        "jfound AS (SELECT url, max(h) AS h, max(w) AS w FROM scan WHERE done GROUP BY url) "
        "SELECT p.url, "
        f"CASE WHEN {is_png} THEN 'PNG' WHEN {is_gif} THEN 'GIF' "
        f"WHEN {is_bmp} THEN 'BMP' "
        f"WHEN ({is_webp}) AND ({webp_w}) IS NOT NULL THEN 'WEBP' "
        f"WHEN {heic_ok} THEN {heic_fmt} "
        "WHEN jf.w IS NOT NULL THEN 'JPEG' "
        "ELSE 'unknown' END AS format, "
        f"CAST(CASE WHEN {is_png} THEN {u32be(17)} "
        f"WHEN {is_gif} THEN {_byte(7)} + {_byte(8)} * 256 "
        f"WHEN {is_bmp} THEN {le32(19)} "
        f"WHEN ({is_webp}) THEN ({webp_w}) "
        f"WHEN {heic_ok} THEN {heic_w} "
        "ELSE jf.w END AS INT) AS width, "
        f"CAST(CASE WHEN {is_png} THEN {u32be(21)} "
        f"WHEN {is_gif} THEN {_byte(9)} + {_byte(10)} * 256 "
        f"WHEN {is_bmp} THEN abs({le32(23)}) "
        f"WHEN ({is_webp}) THEN ({webp_h}) "
        f"WHEN {heic_ok} THEN {heic_h} "
        "ELSE jf.h END AS INT) AS height, "
        "CAST(p.n_bytes AS BIGINT) AS n_bytes "
        "FROM p LEFT JOIN jfound jf USING (url)"
    )


def _m3_oracle_sql(n: int = 200) -> str:
    """Full-hash oracle for m3 (VERDICT r2 item 4): the K14-K16 pixel math
    is deterministic integer arithmetic, so DuckDB recomputes every column
    from the WRITER-side pixel ground truth — the RGB rows the generator
    encoded, written here to a side parquet as ITU-601 luma lists (the m1
    prefix-parquet pattern). The Spark side decodes the actual BMP/PNG
    payload bytes, so a decoder defect shows up as an oracle mismatch.

    Integer-exactness notes mirrored from the kernels:
    - mean: int(gray.mean()+0.5) ≡ floor(sum/n + 0.5) (single IEEE
      division, identical in both engines);
    - contrast 1.5 then threshold 130: out = rint(m + 1.5·(g−m)) computed
      half-EVEN in the integer domain via t = clip(2m + 3(g−m), 0, 510),
      out = t//2 + [t odd ∧ t//2 odd] (numpy rint rounds half to even —
      DuckDB round() rounds half away, hence the integer form);
    - 3×3 edge-replicated median of a {0,255} image: 255 iff ≥5 of the 9
      neighbors are 255;
    - orientation: integer profile scores S = n_rows·Σc² − (Σc)² (see
      kernels/image_prep.py:profile_scores) — exact, no float summation.
    """
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from universal_text_extractor_spark.sources.pages_gen import make_media_row

    build = pathlib.Path(__file__).resolve().parent / "build"
    build.mkdir(exist_ok=True)
    path = build / "m3_pixels.parquet"
    urls, ws, hs, grays = [], [], [], []
    for i in range(n):
        r = make_media_row(i)
        urls.append(r["url"])
        px = r["pixels"]
        if px is None:
            ws.append(None), hs.append(None), grays.append(None)
        else:
            hs.append(len(px)), ws.append(len(px[0]))
            grays.append(
                [(p[0] * 299 + p[1] * 587 + p[2] * 114) // 1000 for row in px for p in row]
            )
    pq.write_table(
        pa.table(
            {"url": urls, "w": ws, "h": hs, "gray": grays},
            schema=pa.schema(
                [
                    ("url", pa.string()),
                    ("w", pa.int32()),
                    ("h", pa.int32()),
                    ("gray", pa.list_(pa.int32())),
                ]
            ),
        ),
        path,
    )

    # contrast+binarize ladder: t = clip(2m+3(g−m), 0, 510); half-even t/2
    t_list = "list_transform(gray, g -> least(greatest(2*mean_i + 3*(g - mean_i), 0), 510))"
    bin_ind = (
        "list_transform(tl, t -> CASE WHEN t//2 + "
        "(CASE WHEN t%2=1 AND (t//2)%2=1 THEN 1 ELSE 0 END) > 130 "
        "THEN 1 ELSE 0 END)"
    )
    nb = []  # the 9 clamped neighbors' white-indicators
    for dy in (-1, 0, 1):
        yy = {-1: "greatest(y-1,0)", 0: "y", 1: "least(y+1,h-1)"}[dy]
        for dx in (-1, 0, 1):
            xx = {-1: "greatest(x-1,0)", 0: "x", 1: "least(x+1,w-1)"}[dx]
            nb.append(f"wi[{yy}*w + {xx} + 1]")
    white9 = " + ".join(nb)
    edge_pred = (
        "y < h-1 AND x < w-1 AND ("
        "abs(gray[y*w + x + 2] - gray[y*w + x + 1]) > 60 OR "
        "abs(gray[(y+1)*w + x + 1] - gray[y*w + x + 1]) > 60)"
    )
    scanned = (
        "(((w::DOUBLE / h) >= 0.65 AND (w::DOUBLE / h) <= 0.75 "
        "OR (w::DOUBLE / h) >= 1.3 AND (w::DOUBLE / h) <= 1.55) "
        "AND (white_cnt / n::DOUBLE) > 0.7) "
        "OR ((h-1)*(w-1) > 0 AND (edge_cnt / ((h-1)*(w-1))::DOUBLE) >= 0.01 "
        "AND (edge_cnt / ((h-1)*(w-1))::DOUBLE) <= 0.1)"
    )
    return (
        f"WITH px AS (SELECT url, w, h, gray FROM read_parquet('{path}')), "
        "dec AS (SELECT url, w, h, gray, w*h AS n, "
        " CAST(list_sum(gray) AS BIGINT) AS sum_g, "
        " CAST(list_sum(list_transform(gray, g -> CASE WHEN g >= 200 THEN 1 ELSE 0 END)) AS BIGINT) AS white_cnt "
        " FROM px WHERE gray IS NOT NULL), "
        "mm AS (SELECT *, CAST(floor(sum_g / n::DOUBLE + 0.5) AS BIGINT) AS mean_i FROM dec), "
        f"ind AS (SELECT *, {bin_ind.replace('tl', t_list)} AS wi FROM mm), "
        "cells0 AS (SELECT url, w, h, gray, wi, "
        " unnest(generate_series(0, h-1)) AS y FROM ind), "
        "cells AS (SELECT url, w, h, gray, wi, y, "
        " unnest(generate_series(0, w-1)) AS x FROM cells0), "
        "agg AS (SELECT url, "
        f" CAST(SUM(CASE WHEN ({white9}) <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS ink0, "
        f" CAST(SUM(CASE WHEN {edge_pred} THEN 1 ELSE 0 END) AS BIGINT) AS edge_cnt "
        " FROM cells GROUP BY url), "
        "rowp AS (SELECT url, h, y, SUM(CASE WHEN gray[y*w + x + 1] < 128 THEN 1 ELSE 0 END) AS c "
        " FROM cells GROUP BY url, h, y), "
        "colp AS (SELECT url, w, x, SUM(CASE WHEN gray[y*w + x + 1] < 128 THEN 1 ELSE 0 END) AS c "
        " FROM cells GROUP BY url, w, x), "
        "sr AS (SELECT url, ANY_VALUE(h)*SUM(c*c) - SUM(c)*SUM(c) AS s_rows FROM rowp GROUP BY url), "
        "sc AS (SELECT url, ANY_VALUE(w)*SUM(c*c) - SUM(c)*SUM(c) AS s_cols FROM colp GROUP BY url), "
        "scn AS (SELECT d.url, "
        f" ({scanned}) AS is_scanned "
        " FROM dec d JOIN agg USING (url)) "
        "SELECT p.url, (d.url IS NOT NULL) AS decoded, "
        " d.w AS width, d.h AS height, CAST(d.n AS BIGINT) AS n_pix, "
        " d.sum_g AS sum_gray, a.ink0, a.edge_cnt, "
        " COALESCE(s.is_scanned, FALSE) AS is_scanned, "
        " CAST(CASE WHEN d.url IS NULL THEN 0 WHEN sr.s_rows >= sc.s_cols THEN 0 ELSE 90 END AS INT) AS orientation "
        "FROM px p LEFT JOIN dec d USING (url) LEFT JOIN agg a USING (url) "
        "LEFT JOIN scn s USING (url) "
        "LEFT JOIN sr USING (url) LEFT JOIN sc USING (url)"
    )


def oracle_sql() -> dict[str, str]:
    qsum = "sum(l_extendedprice * (1 - l_discount))"
    return {
        "a1_total_count": "SELECT CAST(COUNT(*) AS BIGINT) AS total_processed FROM events",
        "a13_value_percentiles": (
            "SELECT event_type, "
            "round(quantile_cont(value, 0.25), 6) AS p25, "
            "round(quantile_cont(value, 0.50), 6) AS p50, "
            "round(quantile_cont(value, 0.75), 6) AS p75, "
            "round(quantile_cont(value, 0.95), 6) AS p95 "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "d4_point_lookup": (
            "SELECT event_id, user_id, event_type, round(value, 2) AS value "
            "FROM events WHERE event_id = 42"
        ),
        "d5_user_history": (
            "SELECT event_id, ts, event_type, round(value, 2) AS value "
            "FROM events WHERE user_id = 7 "
            "ORDER BY ts DESC, event_id ASC LIMIT 20"
        ),
        # gaps-and-islands twin of F.session_window: a session breaks when
        # the gap to the previous event is > 30 min; end = last event + gap
        "w5_user_sessions": (
            "WITH o AS (SELECT user_id, ts, value, "
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events), "
            "f AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE "
            "THEN 1 ELSE 0 END AS new_s FROM o), "
            "g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS UNBOUNDED PRECEDING) AS sid FROM f) "
            "SELECT user_id, MIN(ts) AS session_start, "
            "MAX(ts) + INTERVAL 30 MINUTE AS session_end, "
            "CAST(COUNT(*) AS BIGINT) AS n_events, "
            "SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS session_value "
            "FROM g GROUP BY user_id, sid"
        ),
        "a2_conditional_counts": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS total_processed, "
            "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count, "
            "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count "
            "FROM events"
        ),
        "a4_avg_value": "SELECT round(coalesce(avg(value), 0), 2) AS avg_value FROM events",
        "a5_top_event_types": (
            "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events "
            "GROUP BY event_type ORDER BY cnt DESC, event_type ASC LIMIT 5"
        ),
        "a6_value_histogram": (
            "SELECT CAST(SUM(CASE WHEN value < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS small, "
            "CAST(SUM(CASE WHEN value >= 1.0 AND value < 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS medium, "
            "CAST(SUM(CASE WHEN value >= 5.0 AND value < 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS large, "
            "CAST(SUM(CASE WHEN value >= 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS very_large "
            "FROM events"
        ),
        "a7_daily_trend": (
            "SELECT day, cnt FROM (SELECT CAST(ts AS DATE) AS day, "
            "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1 "
            "ORDER BY day DESC LIMIT 7) ORDER BY day ASC"
        ),
        "a8_top_users": (
            "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events "
            "GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 5"
        ),
        "a9_derived_rates": (
            "WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_processed, "
            "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pc, "
            "SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ec FROM events) "
            "SELECT total_processed, "
            "round(CASE WHEN total_processed > 0 THEN pc * 100.0 / total_processed ELSE 0 END, 1) AS purchase_rate, "
            "round(CASE WHEN total_processed > 0 THEN ec * 100.0 / total_processed ELSE 0 END, 1) AS error_rate "
            "FROM c"
        ),
        "a11_ordered_scan": (
            "SELECT * FROM events ORDER BY ts DESC, event_id ASC LIMIT 100"
        ),
        "a12_per_user_activity": (
            "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, "
            "SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS total_value, MIN(ts) AS first_ts, MAX(ts) AS last_ts, "
            "CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_errors "
            "FROM events GROUP BY user_id"
        ),
        "d6_retention_filter": (
            f"SELECT CAST(COUNT(*) AS BIGINT) AS expired_count, MIN(ts) AS oldest_ts "
            f"FROM events WHERE ts < TIMESTAMP '{A.RETENTION_CUTOFF}'"
        ),
        "q1_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            f"round({qsum}, 2) AS sum_disc_price, "
            "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
            "round(avg(l_quantity), 4) AS avg_qty, "
            "round(avg(l_extendedprice), 4) AS avg_price, "
            "round(avg(l_discount), 4) AS avg_disc, "
            "CAST(COUNT(*) AS BIGINT) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "q3_shipping_priority": (
            f"SELECT l_orderkey, o_orderdate, round({qsum}, 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' AND l_shipdate > TIMESTAMP '1998-03-15' "
            "AND o_orderdate < TIMESTAMP '1998-03-15' "
            "GROUP BY l_orderkey, o_orderdate "
            "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
        ),
        "q5_local_supplier_volume": (
            f"SELECT n_name, round({qsum}, 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1997-01-01' "
            "AND o_orderdate < TIMESTAMP '1998-01-01' "
            "GROUP BY n_name ORDER BY revenue DESC, n_name ASC"
        ),
        "q6_forecast_revenue": (
            "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
            "AND l_shipdate < TIMESTAMP '1998-01-01' "
            "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
        ),
        "q10_returned_items": (
            f"SELECT c_custkey, c_name, n_name, round({qsum}, 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE l_returnflag = 'R' "
            "GROUP BY c_custkey, c_name, n_name "
            "ORDER BY revenue DESC, c_custkey ASC LIMIT 20"
        ),
        "q14_promo_revenue": (
            "SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100.0 "
            "/ sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'"
        ),
        "q18_large_volume_customer": (
            "WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty "
            "FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) "
            "SELECT c_custkey, c_name, o_orderkey, o_orderdate, "
            "round(o_totalprice, 2) AS total_price, round(sum_qty, 2) AS sum_qty "
            "FROM big JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "ORDER BY total_price DESC, o_orderkey ASC LIMIT 20"
        ),
        "q4_order_priority": (
            "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count "
            "FROM orders WHERE o_orderdate >= TIMESTAMP '1997-07-01' "
            "AND o_orderdate < TIMESTAMP '1997-10-01' "
            "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
            "AND l_returnflag = 'R') "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        "q12_shipmode_priority": (
            "SELECT l_linestatus, "
            "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' "
            "GROUP BY l_linestatus ORDER BY l_linestatus"
        ),
        "q19_disjunctive_revenue": (
            "SELECT round(coalesce(sum(l_extendedprice * (1 - l_discount)), 0), 2) AS revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE ((p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 30 AND p_size <= 15) "
            "OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 40 AND p_size <= 25))"
        ),
        "q22_global_sales_opportunity": (
            "WITH ab AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0), "
            "rich AS (SELECT c_custkey, c_acctbal, right(c_name, 2) AS cntrycode "
            "FROM customer, ab WHERE c_acctbal > ab), "
            "noord AS (SELECT * FROM rich r WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey)) "
            "SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust, "
            "round(SUM(c_acctbal), 2) AS totacctbal "
            "FROM noord GROUP BY cntrycode ORDER BY cntrycode"
        ),
        "w2_rolling_order_stats": (
            "SELECT o_custkey, o_orderkey, o_orderdate, "
            "CAST(row_number() OVER w AS INT) AS order_seq, "
            "floor(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) "
            "OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)::DOUBLE "
            "/ count(*) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) / 100.0 AS moving_avg_price, "
            "round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER w, o_totalprice), 2) AS delta_vs_prev "
            "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"
        ),
        "w3_lang_rollup": (
            "SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "round(avg(n_chars), 2) AS avg_chars FROM documents "
            "GROUP BY ROLLUP (lang, source) "
            "ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST"
        ),
        "w4_lang_source_cube": (
            "SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs "
            "FROM documents GROUP BY CUBE (lang, source) "
            "ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST"
        ),
        "w1_top_orders_per_segment": (
            "SELECT c_mktsegment, rk, o_orderkey, total_price FROM ("
            "SELECT c_mktsegment, CAST(row_number() OVER "
            "(PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk, "
            "o_orderkey, round(o_totalprice, 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rk <= 3"
        ),
        "aj_customers_without_orders": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS inactive_customers FROM customer c "
            "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "m1_media_metadata": _m1_oracle_sql(),
        "m3_image_prep_profile": _m3_oracle_sql(),
        "t1_doc_profile": (
            "SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "round(avg(n_chars), 2) AS avg_chars, "
            f"round(avg(CASE WHEN {_ws_trim('text')} = '' THEN 0 "
            f"ELSE len(string_split({_ws_trim('text')}, ' ')) END), 2) AS avg_tokens, "
            "MAX(n_chars) AS max_chars "
            "FROM documents GROUP BY lang, source ORDER BY lang, source"
        ),
        "t2_token_counts": (
            "SELECT doc_id, "
            f"CAST(CASE WHEN {_ws_trim('text')} = '' THEN 0 "
            f"ELSE len(string_split({_ws_trim('text')}, ' ')) END AS INT) AS ws_tokens, "
            "CAST(len(regexp_extract_all(text, "
            f"'[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]')) AS INT) AS bpe_ish_tokens, "
            "CAST(length(text) AS INT) AS n_chars "
            "FROM documents"
        ),
        "t3_quality_summary": _quality_summary_sql(),
        "t6_quality_filter": (
            "WITH sc AS (SELECT doc_id, lang, "
            f"len({_words()}) AS n_tokens, "
            "round(length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::DOUBLE "
            "/ greatest(length(text), 1), 4) AS alpha_ratio FROM documents) "
            "SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens, alpha_ratio "
            "FROM sc WHERE alpha_ratio >= 0.81 AND n_tokens >= 15"
        ),
        "t4_fingerprints": (
            f"WITH n AS (SELECT doc_id, {_ws_trim('lower(text)')} AS nt FROM documents), "
            "g AS (SELECT doc_id, list_transform(generate_series(1, greatest(length(nt) - 4, 1), "
            f"{T.FINGERPRINT_STRIDE}), "
            "i -> substr(nt, i, 5)) AS grams FROM n) "
            "SELECT doc_id, list_min(list_transform(grams, x -> "
            + _H.format(x="x")
            + ")) AS fingerprint FROM g"
        ),
        "t5_language_id": _lang_id_sql(),
        "dd1_exact_dedup_groups": (
            "WITH k AS (SELECT doc_id, "
            + _H.format(x=_ws_trim("lower(text)"))
            + " AS text_key FROM documents) "
            "SELECT text_key, CAST(COUNT(*) AS BIGINT) AS group_size, "
            "MIN(doc_id) AS canonical_doc_id FROM k GROUP BY text_key "
            "HAVING COUNT(*) > 1"
        ),
        "dd2_exact_kept_count": (
            "WITH k AS (SELECT doc_id, "
            + _H.format(x=_ws_trim("lower(text)"))
            + " AS text_key FROM documents), "
            "kept AS (SELECT text_key, MIN(doc_id) FROM k GROUP BY text_key) "
            "SELECT CAST(COUNT(*) AS BIGINT) AS kept_count FROM kept"
        ),
        "dd3_ngram_jaccard_pairs": (
            # mirrors dedup.ngram_jaccard_pairs incl. the SHINGLE_DF_CAP
            # posting-list cap (shingles in > cap docs dropped; per-doc
            # counts recomputed over the capped universe). Rule-identical
            # to the Spark side's r5 hashed posting lists: the cap and the
            # self-join key are the same md5-long bridge, so even a hash
            # collision would move both engines identically.
            f"WITH w AS (SELECT doc_id, {_words()} AS ws FROM documents), "
            f"sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM w), "
            f"ex0 AS (SELECT doc_id, {_H.format(x='unnest(shingles)')} AS h FROM sh), "
            "capped AS (SELECT doc_id, h FROM (SELECT doc_id, h, "
            "COUNT(*) OVER (PARTITION BY h) AS df FROM ex0) "
            f"WHERE df <= {D.SHINGLE_DF_CAP}), "
            "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM capped GROUP BY doc_id), "
            "ex AS (SELECT c.doc_id, c.h, n.n_sh FROM capped c JOIN cnt n USING (doc_id)), "
            "i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, "
            "CAST(COUNT(*) AS BIGINT) AS inter FROM ex a JOIN ex b "
            "ON a.h = b.h AND a.doc_id < b.doc_id "
            "GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh) "
            "SELECT doc_a, doc_b, round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard "
            "FROM i WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= 0.2"
        ),
        "dd4_minhash_lsh_pairs": _minhash_lsh_sql(0.2),
        # dd5 retired from the registry (see queries()); _simhash_sql(16)
        # remains the twin used by tests/test_queries.py's parity lock
        "dd7_exact_purge": (
            "WITH k AS (SELECT doc_id, "
            + _H.format(x=_ws_trim("lower(text)"))
            + " AS text_key FROM documents), "
            "m AS (SELECT MIN(doc_id) AS doc_id FROM k GROUP BY text_key) "
            "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d "
            "WHERE EXISTS (SELECT 1 FROM m WHERE m.doc_id = d.doc_id)"
        ),
        "dd6_simhash_near_pairs": _simhash_near_pairs_sql(32),
        "s1_brute_force_topk": (
            "WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings "
            "WHERE vec_id IN (0, 1, 2, 3, 4)), "
            "p AS (SELECT q.query_id, e.vec_id, "
            + _COS.format(dim=EMB_DIM, a="q.q_emb", b="e.embedding")
            + " AS sim FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id) "
            "SELECT query_id, vec_id, sim, rk FROM ("
            "SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
            "ORDER BY sim DESC, vec_id ASC) AS INT) AS rk FROM p) WHERE rk <= 10"
        ),
        "s2_lsh_ann_pairs": (
            "WITH sig AS (SELECT vec_id, embedding, "
            + _lsh_sig_sql("embedding")
            + " AS sig FROM embeddings) "
            "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
            + _COS.format(dim=EMB_DIM, a="a.embedding", b="b.embedding")
            + " AS sim FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id "
            "WHERE " + _COS.format(dim=EMB_DIM, a="a.embedding", b="b.embedding") + " >= 0.6"
        ),
        "s3_embedding_near_dup": (
            "WITH sig AS (SELECT vec_id, embedding, "
            + _lsh_sig_sql("embedding")
            + " AS sig FROM embeddings), "
            "pairs AS (SELECT "
            + _COS.format(dim=EMB_DIM, a="a.embedding", b="b.embedding")
            + " AS sim FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id) "
            "SELECT CAST(COUNT(*) AS BIGINT) AS near_dup_pairs, "
            "round(coalesce(avg(sim), 0), 6) AS avg_sim FROM pairs WHERE sim >= 0.8"
        ),
        "s4_ivf_topk": _ivf_topk_sql(),
    }


def _quality_summary_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in __import__(
        "universal_text_extractor_spark.functions.text_funcs", fromlist=["STOPWORDS"]
    ).STOPWORDS)
    return (
        "WITH s AS (SELECT lang, "
        "length(text) AS n_chars, "
        f"{_words()} AS ws, "
        "length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS alpha "
        "FROM documents), "
        "sc AS (SELECT lang, n_chars, len(ws) AS n_tokens, "
        "round(alpha::DOUBLE / greatest(n_chars, 1), 4) AS alpha_ratio, "
        f"round(len(list_filter(ws, t -> t IN ({stop_list})))::DOUBLE / greatest(len(ws), 1), 4) AS stopword_ratio "
        "FROM s) "
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "round(avg(n_chars), 2) AS avg_chars, round(avg(n_tokens), 2) AS avg_tokens, "
        "round(avg(alpha_ratio), 4) AS avg_alpha_ratio, "
        "round(avg(stopword_ratio), 4) AS avg_stopword_ratio "
        "FROM sc GROUP BY lang ORDER BY lang"
    )
