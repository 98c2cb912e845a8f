"""Physical-plan audits (task brief: '.explain the plan and iterate until
it's the plan you'd want'). These lock the scale-critical plan properties:

- predicate pushdown + column pruning reach the parquet scan
- dimension joins are broadcast (no fact-side shuffle for dims)
- top-k compiles to TakeOrderedAndProject (no global sort materialization)
- aggregations are partial (map-side combine) before the shuffle
- the extraction fan-out reuses one exchange (tested in test_pipeline.py)
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("UTES_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _no_aqe(spark):
    # inspect the static plan (AQE wraps everything pre-execution)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q6_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan, plan
    # column pruning: only the 4 needed columns are read
    assert "l_extendedprice" in plan.split("ReadSchema")[-1]
    read_schema = plan.split("ReadSchema: ")[-1].splitlines()[0]
    assert "l_returnflag" not in read_schema, read_schema
    # whole-stage codegen: "WholeStageCodegen" node or the "*(n)" star
    # prefix, depending on Spark's toString flavor
    assert "WholeStageCodegen" in plan or "*(" in plan, plan


def test_q3_topk_and_small_dim_strategy(spark):
    plan = _plan(spark, "q3_shipping_priority")
    # customer carries NO broadcast hint (scale-proportional; VERDICT item
    # 2) — at this SF size statistics still pick a broadcast join, which is
    # exactly the stats-driven behavior we want
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q5_fixed_dims_broadcast(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    # nation/region (constant-size) are explicitly broadcast at EVERY
    # scale; customer/supplier are unhinted and may shuffle at large SF
    # (here size stats broadcast them too, hence >= 2 not == 2)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_no_forced_broadcast_of_scaling_tables():
    """Source-level contract: F.broadcast() hints only on fixed-size
    region/nation (and q22's 1-row scalar subquery) — never on
    customer/supplier/part, which grow with scale factor."""
    import inspect

    from universal_text_extractor_spark.operators import tpch

    src = inspect.getsource(tpch)
    import re

    hinted = re.findall(r"F\.broadcast\(\s*(\w+)", src)
    assert set(hinted) <= {"nation", "region", "avg_bal"}, hinted


def test_d4_point_lookup_pushes_key(spark):
    plan = _plan(spark, "d4_point_lookup")
    assert "EqualTo(event_id,42)" in plan.replace(" ", ""), plan


def test_d5_user_history_take_ordered_and_pushed(spark):
    plan = _plan(spark, "d5_user_history")
    assert "TakeOrderedAndProject" in plan, plan
    assert "EqualTo(user_id,7)" in plan.replace(" ", ""), plan


def test_a5_topk_is_take_ordered(spark):
    plan = _plan(spark, "a5_top_event_types")
    assert "TakeOrderedAndProject" in plan, plan


def test_q1_partial_aggregation(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # partial_ functions before the exchange = map-side combine
    assert "partial_sum" in plan or "partial_avg" in plan, plan


def test_anti_join_plan(spark):
    plan = _plan(spark, "aj_customers_without_orders")
    assert "LeftAnti" in plan, plan


def test_entry_plan_no_python_udfs(spark):
    """The analytics/text-stats surface must stay entirely JVM-side."""
    for name in (
        "t1_doc_profile", "t2_token_counts", "t3_quality_summary",
        "a6_value_histogram", "a12_per_user_activity",
    ):
        plan = _plan(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_q4_semi_join_plan(spark):
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan, plan


def test_q22_anti_join_and_broadcast(spark):
    plan = _plan(spark, "q22_global_sales_opportunity")
    assert "LeftAnti" in plan, plan
    # the 1-row scalar avg is broadcast, not shuffled
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_q19_pushes_single_side_conjuncts(spark):
    """Each disjunct's part-only conjuncts cannot be pushed below the join
    (they sit under an OR with lineitem predicates), but the join itself
    must be a broadcast of part."""
    plan = _plan(spark, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan, plan


def test_dd4_minhash_no_python_and_partial_agg(spark):
    """The whole minhash/LSH pipeline stays JVM-side with map-side partial
    min-aggregation (the flat-formulation scale property)."""
    plan = _plan(spark, "dd4_minhash_lsh_pairs")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "partial_min" in plan, plan


def test_dd6_simhash_pairs_no_python_partial_agg(spark):
    """Banded simhash pairs: JVM-side end to end, bit-sign sums partial-
    aggregated map-side before the shuffle."""
    plan = _plan(spark, "dd6_simhash_near_pairs")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "partial_sum" in plan, plan


def test_s1_two_stage_topk(spark):
    """brute_force_topk at scale (n_vectors unknown/large) must rank in
    two stages: a (query_id, partition) local prune before the per-query
    global window — never a single window that sorts a query's full
    candidate list in one task. Small inputs (n_vectors under the gate)
    legitimately take the single window (VERDICT r2 item 5)."""
    from universal_text_extractor_spark.operators import similarity as S
    from universal_text_extractor_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = S.brute_force_topk(emb)  # scale default: no size hint
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # two window nodes: local (query_id, _p) then final (query_id)
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2, plan
    assert "SPARK_PARTITION_ID" in plan or "_p" in plan, plan
    # the gated small-input shape collapses to ONE window
    small = S.brute_force_topk(emb, n_vectors=2000)
    plan_small = small._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SPARK_PARTITION_ID" not in plan_small, plan_small
    # and both shapes agree exactly
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, small.collect()))


def test_registry_wide_no_python_in_hot_paths(spark):
    """Blanket plan audit over EVERY registry query: row-at-a-time Python
    (BatchEvalPython) is banned everywhere, and only the two binary-decode
    queries (m1/m3 — Arrow-batched by design: pixel/header bytes have no
    JVM expression) may carry Python at all. A new query that silently
    falls off the codegen path fails here before the driver ever grades
    it."""
    arrow_ok = {"m1_media_metadata", "m3_image_prep_profile"}
    offenders = []
    for name, fn in entry_mod.queries().items():
        plan = (
            fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
        if name not in arrow_ok and any(
            k in plan
            for k in (
                "ArrowEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas",
            )
        ):
            offenders.append((name, "python-node"))
    assert not offenders, offenders


def test_dd3_cap_is_broadcast_anti_join_not_window(spark):
    """dd3's doc-frequency cap must NOT be a window over the shingle key
    (a window funnels every row of a hot key through one task BEFORE the
    filter — VERDICT r2 finding 2). The required shape: map-side-combined
    groupBy(shingle) to find the tiny hot set, broadcast anti-join to drop
    it, partial_count proving the map-side combine."""
    plan = _plan(spark, "dd3_ngram_jaccard_pairs")
    # no Window node anywhere: the df-cap must not funnel hot keys through
    # one task, and the r5 regex shingle formation removed the only other
    # Window this plan ever had — any Window reappearing is a regression
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "partial_count" in plan, plan


def test_shingle_formation_is_narrow(spark, tmp_path):
    """The flat shingle stage (string and hashed forms) must stay a
    ZERO-exchange narrow pipeline over its scan: one regexp_extract_all
    pass + array_distinct before the explode (r5 — the earlier
    posexplode→window-lead→distinct form paid an exchange+sort over every
    token row plus a string distinct, 63 s of the 140 s verified-pair
    corpus wall at 20k pages)."""
    from universal_text_extractor_spark.operators.dedup import (
        _shingle_hashes_flat,
        _shingles_flat,
    )

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    for build in (_shingles_flat, _shingle_hashes_flat):
        plan = build(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (build.__name__, plan)
        assert "Window" not in plan, (build.__name__, plan)


def test_registry_plan_lint_no_scale_killers(spark):
    """Registry-wide sweep: EVERY queries() entry must compile to a plan
    free of the classic 100-TB killers — CartesianProduct (all-pairs
    blow-up) and BatchEvalPython (row-at-a-time Python in the hot path).
    Nested-loop joins and Arrow-batched Python are allowed only where
    they are the design: q22's scalar-subquery comparison (1-row
    aggregate), s1's broadcast query side, and the multimodal kernels'
    vectorized pandas stages."""
    bnlj_ok = {"q22_global_sales_opportunity", "s1_brute_force_topk"}
    python_ok = {"m1_media_metadata", "m3_image_prep_profile"}
    for name, fn in entry_mod.queries().items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        if name not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name
        if name not in python_ok:
            assert "ArrowEvalPython" not in plan, name
            assert "MapInPandas" not in plan, name
            assert "MapInArrow" not in plan, name
            assert "FlatMapGroupsInPandas" not in plan, name


def test_corpus_pipeline_plan_shapes(spark):
    """plans/corpus.py stage plans (design-for-100-TB audit): the quality
    purge is a pure scan+filter (zero Exchange, no Python); the exact
    purge is a map-side-combinable key aggregate + LEFT SEMI join; the
    bucket-min near-dup fast path is partial_min + LEFT ANTI — no pair
    materialization and no Python anywhere."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from universal_text_extractor_spark.functions.text_funcs import (
        normalized_text_col,
        token_count_col,
    )
    from universal_text_extractor_spark.operators.dedup import lsh_bands, md5_long

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        docs = spark.createDataFrame(
            [
                Row(doc_id=i, url=f"https://h{i}.ex/a", source="s", lang="en",
                    text="some words here for the plan " * 5, n_chars=100)
                for i in range(50)
            ]
        )
        alpha = F.length(F.regexp_replace(F.col("text"), r"[^\p{L}]", ""))
        q = docs.filter(
            (token_count_col(F.col("text")) >= 15)
            & (alpha / F.greatest(F.col("n_chars"), F.lit(1)) >= 0.5)
        )
        p = q._jdf.queryExecution().executedPlan().toString()
        assert p.count("Exchange") == 0 and "Python" not in p

        kept = (
            docs.select(
                "doc_id", md5_long(normalized_text_col(F.col("text"))).alias("k")
            )
            .groupBy("k")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        p = (
            docs.join(kept, "doc_id", "left_semi")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "partial_min" in p and "LeftSemi" in p and "Python" not in p

        bands = lsh_bands(docs)
        bm = bands.groupBy("band", "bucket").agg(F.min("doc_id").alias("min_id"))
        doomed = (
            bands.join(bm, ["band", "bucket"])
            .filter(F.col("doc_id") != F.col("min_id"))
            .select("doc_id")
            .distinct()
        )
        p = (
            docs.join(doomed, "doc_id", "left_anti")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "partial_min" in p and "LeftAnti" in p and "Python" not in p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_composed_pipeline_plan_lint(spark, tmp_path):
    """r3 verdict item #10: lint the COMPOSED paths the way the registry
    queries are linted — run_extraction's stage plans (staging, per-bucket
    extraction, lineage), every build_training_corpus stage builder (all
    three near-dup variants, exactly the compositions production runs),
    and read_warc. No CartesianProduct, no BatchEvalPython anywhere;
    Exchange counts pinned where the design pins them."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from universal_text_extractor_spark.operators.extract import (
        extract_pages_fused,
        lineage_metrics,
    )
    from universal_text_extractor_spark.plans.corpus import (
        exact_unique,
        frame_documents,
        near_dup_purged,
        quality_filter,
    )
    from universal_text_extractor_spark.plans.pipeline import _bucket_col
    from universal_text_extractor_spark.sources.pages_gen import (
        generate_pages_df,
    )
    from universal_text_extractor_spark.sources.warc import make_warc, read_warc

    def lint(df, name, python_ok=True, max_exchanges=None):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
        if not python_ok:
            for node in (
                "ArrowEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas",
            ):
                assert node not in plan, (name, node, plan)
        if max_exchanges is not None:
            n = plan.count("Exchange")
            assert n <= max_exchanges, (name, n, plan)
        return plan

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # --- run_extraction stage plans (same compositions the loop runs)
        pages = generate_pages_df(spark, 50, partitions=2)
        staged = pages.withColumn("bucket", _bucket_col(4))
        lint(staged, "stage_pages", max_exchanges=0)  # pure scan+project
        chunk = staged.filter(F.col("bucket") == 0).drop("bucket")
        extracted = extract_pages_fused(chunk, num_partitions=2)
        # exactly ONE Exchange: the salted repartition in front of the
        # single-pass dispatch
        lint(extracted, "bucket_extract", max_exchanges=1)
        lint(lineage_metrics(extracted, "lint"), "lineage", max_exchanges=2)

        # --- corpus stage builders over a framed-docs shape
        docs = frame_documents(extracted)
        lint(docs, "frame_documents")
        q = quality_filter(spark.createDataFrame(
            [Row(doc_id=i, url=f"https://h{i}.ex/a", source="s", lang="en",
                 text="plan lint words " * 8, n_chars=120) for i in range(40)]
        ))
        lint(q, "quality_filter", python_ok=False, max_exchanges=0)
        e = exact_unique(q)
        lint(e, "exact_unique", python_ok=False)
        for kw, nm in (
            (dict(verify_jaccard=True), "near_dup_keep_first"),
            (dict(verify_jaccard=True, closure=True), "near_dup_closure"),
            (dict(verify_jaccard=False), "near_dup_bucket_min"),
        ):
            lint(near_dup_purged(q, **kw), nm, python_ok=False)

        # --- read_warc: path listing + task-side streaming parse; no
        # shuffle between the listing and the parser
        d = tmp_path / "lintwarc"
        d.mkdir()
        (d / "a.warc.gz").write_bytes(
            make_warc([("https://l.ex/a.html", "2024-01-01T00:00:00Z",
                        b"<html><body>x</body></html>")])
        )
        lint(read_warc(spark, str(d)), "read_warc", max_exchanges=0)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
