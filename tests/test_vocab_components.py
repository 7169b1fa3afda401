"""Vocabulary statistics + page-graph component labeling tests."""

import pytest
from pyspark.sql import functions as F

from osm_spark.spatial.components import label_components
from osm_spark.text.vocab import top_k_vocabulary, vocabulary


@pytest.fixture(scope="module")
def spark():
    from osm_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=4)


DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog ate the cat food"),
    (3, "a mat. A MAT!"),
]


def test_vocabulary_tf_df(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {r["token"]: (r["tf"], r["df"]) for r in vocabulary(df).collect()}
    assert got["the"] == (4, 2)
    assert got["mat"] == (3, 2)  # punctuation/case folded
    assert got["cat"] == (2, 2)
    assert got["a"] == (2, 1)  # twice in one doc
    assert got["dog"] == (1, 1)


def test_top_k_deterministic_cut(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = [(r["token"], r["tf"]) for r in top_k_vocabulary(df, k=4).collect()]
    # tf=4: the; tf=3: mat; tf=2 tie broken token ASC: a, cat
    assert got == [("the", 4), ("mat", 3), ("a", 2), ("cat", 2)]


def test_top_k_partitioning_invariant(spark):
    docs = [(i, f"tok{i % 7} tok{i % 3} filler") for i in range(60)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    a = top_k_vocabulary(df.repartition(1), k=5).collect()
    b = top_k_vocabulary(df.repartition(16), k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_label_components_isolated_nodes(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["url"])
    edges = spark.createDataFrame([("c", "b"), ("b", "a")], ["src", "dst"])
    got = {
        r["url"]: (r["component"], r["component_size"])
        for r in label_components(nodes, edges).collect()
    }
    assert got == {
        "a": ("a", 3),
        "b": ("a", 3),
        "c": ("a", 3),
        "d": ("d", 1),
    }


def test_label_components_worldgen_graph(spark):
    """Component labels over the generated page graph: every page gets
    exactly one label; sizes are consistent with the labeling."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.text.links import page_edges

    pages = pages_df(spark, PagesSpec(n_pages=60))
    labeled = label_components(pages.select("url"), page_edges(pages))
    rows = labeled.collect()
    assert len(rows) == 60
    sizes = {}
    for r in rows:
        sizes.setdefault(r["component"], []).append(r["component_size"])
    for comp, ss in sizes.items():
        assert all(s == len(ss) for s in ss), (comp, ss)
