"""HTML -> text extraction: golden semantics + the north-rule
byte-identity invariant over the pages table.

The north rule's per-row invariant is "byte-identical extracted text
per url" (BASELINE.json input_hint); osm_spark.sources.html is the
operator that makes it checkable. Golden cases pin the chosen
extraction semantics (strip order, entity decode order, documented
regex limitations) so a future refactor can't silently change the
contract."""

import pytest
from pyspark.sql import functions as F


def _extract_one(spark, html: str) -> str:
    from osm_spark.sources.html import extract_text_col

    df = spark.createDataFrame([(html.encode(),)], "html binary")
    return df.select(extract_text_col("html").alias("t")).first()["t"]


GOLDEN = [
    # plain body text survives byte-for-byte
    ("<html><body>hello world</body></html>", "hello world"),
    # head block (title included) is dropped entirely
    ("<html><head><title>T</title></head><body>x</body></html>", "x"),
    # script bodies may contain bare < > && — never tag-stripped
    (
        '<body><script>if (1 < 2 && a > 0) { f("<b>"); }</script>ok</body>',
        "ok",
    ),
    # style blocks dropped
    ("<body><style>p { margin: 0; }</style>y</body>", "y"),
    # comments dropped, including markup inside them
    ("<body>a<!-- <p>hidden</p> -->b</body>", "ab"),
    # attributes stripped with the tag; quotes inside values fine
    ('<div class="a b" data-x=\'1\'>c</div>', "c"),
    # case-insensitive block matching
    ("<BODY><SCRIPT>x()</SCRIPT>z</BODY>", "z"),
    # entity decode, incl. numeric
    ("a&#44;b&#46;c&amp;d&lt;e&gt;f&quot;g&#39;h&nbsp;i", 'a,b.c&d<e>f"g\'hi'.replace("hi", "h i")),
    # &amp; decoded LAST: '&amp;lt;' is the TEXT '&lt;', not '<'
    ("x&amp;lt;y", "x&lt;y"),
    # multiline blocks (dotall)
    ("<body><script>\nvar a=1;\n</script>line</body>", "line"),
    # documented limitation: '>' inside a quoted attribute truncates
    # the tag early — the remainder leaks as text (chosen semantics,
    # shared with every regex extractor)
    ('<div title="a>b">c</div>', 'b">c'),
]


@pytest.mark.parametrize("html,expected", GOLDEN)
def test_golden_extraction(spark, html, expected):
    assert _extract_one(spark, html) == expected


def test_pages_byte_identity(spark):
    """extract_text(html) == text for EVERY row of the synthetic
    Common-Crawl-style table — the invariant the whole pipeline
    preserves."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.sources.html import verify_extraction

    pages = pages_df(spark, PagesSpec(n_pages=3000, n_countries=2))
    agg = verify_extraction(pages).agg(
        F.min("identical").alias("all_ok"),
        F.count("*").alias("n"),
    ).first()
    assert agg["n"] == 3000
    assert agg["all_ok"] is True


def test_extraction_is_catalyst_only(spark):
    """The extraction chain must stay JVM-side: no Python eval nodes
    in the plan (the 10^12-row scan cannot afford Arrow transfer)."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.sources.html import extract_text

    plan = extract_text(
        pages_df(spark, PagesSpec(n_pages=10))
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_entity_decode_on_identity_path(spark):
    """The pages html really does entity-encode the body (',' and '.'
    as numeric entities), so the identity test above exercises the
    decoder — guard against a generator regression that would make
    the invariant vacuously easy."""
    from osm_spark.data.pages import PagesSpec, pages_df

    row = pages_df(spark, PagesSpec(n_pages=1)).first()
    html = bytes(row["html"]).decode()
    assert "&#44;" in html and "&#46;" in html
    assert "<script" in html and "<!--" in html and "<head" in html
