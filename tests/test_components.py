"""Connected components (large-star/small-star) + near-dup clustering."""

import random

import pytest

from osm_spark.spatial.components import connected_components
from osm_spark.text.dedup import near_dup_clusters


@pytest.fixture(scope="module")
def spark():
    from osm_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=4)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df, **kw).collect()
    return {r.node: r.component for r in got}


def _brute(edges):
    """Reference union-find over the same edge list."""
    parent = {}

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
    # min-label per component
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    return comp


def test_chain_converges_to_min(spark):
    """A length-40 path — the diameter-pathological case plain label
    propagation needs 40 rounds for; star contraction stays O(log^2)."""
    edges = [(i, i + 1) for i in range(1, 41)]
    got = _cc(spark, edges)
    assert got == {i: 1 for i in range(1, 42)}


def test_two_cliques_and_isolated_edge(spark):
    edges = (
        [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
        + [(a, b) for a in range(100, 104) for b in range(a + 1, 104)]
        + [(7, 3)]
    )
    got = _cc(spark, edges)
    assert {got[i] for i in range(10, 15)} == {10}
    assert {got[i] for i in range(100, 104)} == {100}
    assert got[7] == 3 and got[3] == 3


def test_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(1, 120))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got = _cc(spark, edges)
    want = _brute(edges)
    assert got == want


def test_driver_and_distributed_paths_identical(spark):
    # The adaptive small-graph union-find path (default) and the
    # forced star contraction (driver_threshold=0) must produce the
    # identical (node, min-id component) rows; both match brute force.
    rng = random.Random(5)
    nodes = list(range(1, 80))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(110)]
    edges = [(a, b) for a, b in edges if a != b]
    fast = _cc(spark, edges)
    dist = _cc(spark, edges, driver_threshold=0)
    assert fast == dist == _brute(edges)


def test_driver_path_string_nodes(spark):
    edges = [("b", "a"), ("c", "b"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.component for r in connected_components(df).collect()}
    want = {
        r.node: r.component
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == want == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_duplicate_and_reversed_edges_are_canonicalized(spark):
    edges = [(2, 1), (1, 2), (2, 1), (3, 2), (2, 3)]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_near_dup_clusters_contract(spark):
    """Every doc labeled exactly once; component = min id of cluster;
    keep marks exactly one doc per component; where(keep) is the dedup
    result; exact duplicates always cluster."""
    rows = [
        (1, "spark shuffle join agg window sort merge batch"),
        (2, "spark shuffle join agg window sort merge batch"),  # dup of 1
        (3, "spark shuffle join agg window sort merge batch"),  # dup of 1
        (10, "completely different words entirely unrelated text here"),
        (11, "another unique document with its own vocabulary set"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = near_dup_clusters(docs, threshold=0.9).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == 5
    assert by_id[1].component == by_id[2].component == by_id[3].component == 1
    assert by_id[1].cluster_size == 3
    assert by_id[1].keep and not by_id[2].keep and not by_id[3].keep
    assert by_id[10].component == 10 and by_id[10].cluster_size == 1
    assert by_id[10].keep and by_id[11].keep
    # one keeper per component
    keeps = [r for r in out if r.keep]
    assert len({r.component for r in out}) == len(keeps)
