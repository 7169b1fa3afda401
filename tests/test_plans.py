"""Physical-plan property pins (the 100-TB contract): pushdown reaches
the scan, small dims broadcast, Catalyst-only families never cross into
Python. Full audit artifact: tools/explain_audit.py → PLANS.md."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

SF_DIR = "/root/testdata/sf0.001"


def test_plan_properties(spark):
    import __spark_entry__ as E
    from explain_audit import CHECKS, codegen_summary, formatted_plan

    qs = E.queries()
    for name in (
        "q01_pricing_summary",
        "q04_member_resolution",
        "q13_composite_filter",
        "q36_langid",
        "q80_extract_links",
        "q84_vocab_topk",
        "q86_conjunctive_search",
        "q87_bm25_search",
        "q88_latest_snapshot",
        "q147_isolines",
        "q148_host_triangles",
        "q153_random_projection",
        "q154_jaccard_join",
        "q150_kmv_intersect",
    ):
        must, must_not, min_cg = CHECKS[name]
        df = qs[name](spark, SF_DIR)
        plan = formatted_plan(df)
        for m in must:
            assert m in plan, (name, m)
        for m in must_not:
            assert m not in plan, (name, m)
        if min_cg:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                cg = codegen_summary(qs[name](spark, SF_DIR))
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", "true")
            assert "WholeStageCodegen subtrees" in cg
            assert int(cg.split()[1]) >= min_cg, (name, cg)


def test_no_codegen_fallback(spark):
    """Janino rejects generated methods > 64 KB; Spark then silently
    drops the stage to interpreted eval (an ERROR log line, no failure).
    That is exactly how the pre-fix link extraction lost codegen: one
    expression tree inlining the URL-normalization chain ~12x. With
    fallback disabled, an oversized method fails the query instead, so
    this pins the expression-heavy families as codegen-compilable."""
    import __spark_entry__ as E

    qs = E.queries()
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in (
            "q80_extract_links",  # explode + resolve + normalize chain
            "q70_extract_text",  # HTML→text regex chain
            "q68_url_normalize",  # normalization + parts extraction
        ):
            assert qs[name](spark, SF_DIR).count() >= 0, name
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_simplify_plan_is_single_python_pass(spark):
    """Ring simplification adds exactly one mapInPandas over its input
    — no shuffle, no join, no explode of its own (checked on a fresh
    source so upstream lineage can't leak into the plan)."""
    from osm_spark.spatial.simplify import simplify_shapes
    from explain_audit import formatted_plan

    ring = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [(1, [[ring]], 1)],
        "rel_id long, shape array<array<array<array<double>>>>, n_polygons int",
    )
    plan = formatted_plan(simplify_shapes(df, 1e-6))
    # formatted plans render each node twice (tree + details) — one
    # physical MapInPandas = exactly one numbered "MapInPandas" line.
    assert "MapInPandas" in plan
    assert plan.count(") MapInPandas") == 1
    for forbidden in ("Exchange", "Join", "Generate"):
        assert forbidden not in plan, forbidden


def test_pip_index_plan_is_single_python_pass(spark, world):
    """The fused PIP path's whole plan is: scan → project → ONE
    MapInPandas — no join, no exchange on the page side."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline
    from explain_audit import formatted_plan

    sp = run_spatial_pipeline(
        spark,
        pages_df(spark, PagesSpec(n_pages=100, n_countries=1)),
        world["locations"],
        world["kept"],
        max_level=11,
    )
    plan = formatted_plan(sp["pip"])
    assert "MapInPandas" in plan
    for forbidden in ("Exchange", "Join", "Generate"):
        assert forbidden not in plan, forbidden


def test_bpe_encode_plan_broadcasts_dictionary(spark):
    """bpe_encode's corpus path: the word→pieces dictionary must come
    in as a broadcast hash join (never a shuffled sort-merge join of
    the exploded corpus), and the merge folds must stay Catalyst
    expressions (no Python eval in the plan)."""
    from explain_audit import formatted_plan

    from osm_spark.text.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(1, "the lower the newer"), (2, "lower and lowest")],
        "doc_id: int, text: string",
    )
    plan = formatted_plan(
        bpe_encode(docs, [("t", "h"), ("e", "r")], mode="dict")
    )
    assert "BroadcastHashJoin" in plan
    # The per-document regroup join (LeftOuter on the doc key) is a
    # legitimate shuffle; only the word-dictionary join falling out of
    # broadcast (an INNER sort-merge join) would be a plan regression.
    assert "SortMergeJoin Inner" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
