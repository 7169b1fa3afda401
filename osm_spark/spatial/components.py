"""Distributed connected components of an undirected edge list.

``hotspots.clusters_from_cells`` labels dense grid cells with the
component of their 8-adjacency graph; the cluster id is the
component's minimum node id, so labels are deterministic and
parallelism-independent. The text operators reuse it for near-dup
clusters (``text.dedup.near_dup_clusters``, ``text.semdedup``) and
page-graph components.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC'14). Each round is two shuffles (a groupBy-min and a
join); the edge set provably converges to a forest of min-rooted stars
in O(log^2 n) rounds regardless of graph shape. We use it instead of
plain min-label propagation because propagation needs O(diameter)
rounds — pathological on chain topologies (a coastline chain of dense
cells) — while star contraction's round count is insensitive to
diameter.

Scale notes (the 100-TB shape):
- Every round is DataFrame groupBy/join on the edge list — map-side
  combinable min-aggregations, no driver-side state. The edge list
  SHRINKS monotonically toward one edge per non-root node.
- Convergence is detected with a count + two order-insensitive hash
  sums over the edge set (one distributed aggregate per round), never
  a collect of the edges.
- Skew: a mega-component with 10^7 nodes makes one star with 10^7
  spokes; the groupBy-min over its hub key is a single hot reducer
  ONLY for the final hub — and min() combines map-side, so the
  reducer receives one partial per upstream partition, not 10^7 rows.

No reference analog (pmezard/osm has no clustering); this extends
SURVEY §2-ext. Published-algorithm port, not reference code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (small, large) order, no self
    loops, deduplicated."""
    a, b = F.col("src"), F.col("dst")
    return (
        edges.select(
            F.least(a, b).alias("src"), F.greatest(a, b).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions of each undirected edge: (u, v) and (v, u)."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); emit (v, m) for every
    strictly larger neighbor v > u. (Kiveris et al. §3, Alg. 2.)"""
    sym = _sym(edges)
    m = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: over the not-larger neighborhood N⁻(u) =
    {v ∈ N(u) : v ≤ u}, m = min(N⁻(u) ∪ {u}); emit (v, m) for
    v ∈ N⁻(u) ∪ {u}. (Kiveris et al. §3, Alg. 1.)"""
    sym = _sym(edges)
    lower = sym.where(F.col("dst") <= F.col("src"))
    m = lower.groupBy("src").agg(F.min("dst").alias("m"))
    spokes = lower.join(m, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    hubs = m.select(F.col("src"), F.col("m").alias("dst"))
    return spokes.unionByName(hubs)


def _edge_digest(edges: DataFrame) -> tuple:
    """(count, hash-sum, second hash-sum) — an order-insensitive edge-
    set fingerprint for convergence detection. One distributed agg."""
    r = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64("src", "dst") % F.lit(2**31)), F.lit(0)).alias(
            "h1"
        ),
        F.coalesce(
            F.sum(F.xxhash64("dst", "src", F.lit(17)) % F.lit(2**31)), F.lit(0)
        ).alias("h2"),
    ).collect()[0]
    return (r["n"], r["h1"], r["h2"])


def _driver_components(e: DataFrame) -> DataFrame:
    """Union-find over a COLLECTED canonical edge list — the adaptive
    small-graph path. Same output contract as the distributed
    contraction: (node, component = min node id in the component).

    Rationale: the star contraction pays ~4-6 driver-coordinated jobs
    PER ROUND; on a metadata-scale graph (the hotspot cell-adjacency
    set is bounded by the GRID, not the corpus — 16.8k edges at 1M
    points) those fixed costs are the entire wall time (measured
    5.9 s of a 6.5 s operator). Collecting ≤ driver_threshold edges
    is the same driver-compile trade as the PIP index auto mode; the
    distributed contraction remains the path for graphs that grow
    with the corpus."""
    parent: dict = {}

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    rows = e.collect()
    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    label: dict = {}
    for nd in parent:
        root = find(nd)
        cur = label.get(root)
        if cur is None or nd < cur:
            label[root] = nd
    out = [(nd, label[find(nd)]) for nd in parent]
    node_t = e.schema[0].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", node_t, False), StructField("component", node_t, False)]
    )
    return e.sparkSession.createDataFrame(sorted(out), schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components of the undirected graph given as an edge
    list. Returns (node, component) for every node that appears in at
    least one edge; component = the minimum node id in its component.

    ``driver_threshold``: canonical edge counts at or below this run
    union-find on the driver (one collect of the deduped edge list —
    metadata-scale by definition of the threshold) instead of paying
    per-round distributed fixed costs; 0 disables. Both paths produce
    the identical (node, min-id component) rows (pinned by test).

    Raises RuntimeError if the edge set has not converged after
    ``max_rounds`` large+small-star rounds (theory: O(log^2 n)).
    """
    # Each round's plan is built ON TOP of the previous round's — an
    # iterative DataFrame algorithm's logical plan grows geometrically
    # and Catalyst analysis time explodes after a handful of rounds.
    # localCheckpoint(eager=True) materializes the round AND truncates
    # lineage, keeping every round's plan constant-size (on a real
    # cluster with a configured checkpoint dir, swap for checkpoint()
    # to also survive executor loss).
    e = _canon(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint(eager=True)
    n_edges = e.count()  # cheap: reads the checkpointed blocks
    if n_edges == 0:
        return e.select(
            F.col("src").alias("node"), F.col("dst").alias("component")
        )
    if driver_threshold and n_edges <= driver_threshold:
        return _driver_components(e)
    # Convergence digests only matter on the distributed path.
    prev = _edge_digest(e)
    for _ in range(max_rounds):
        nxt = _canon(_small_star(_large_star(e))).localCheckpoint(eager=True)
        cur = _edge_digest(nxt)
        e = nxt
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # Converged: e is a forest of min-rooted stars. _canon keeps
    # (least, greatest) order, so src IS the root and dst the spoke.
    spokes = e.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    roots = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return spokes.unionByName(roots).distinct()


def label_components(
    nodes: DataFrame, edges: DataFrame, key: str = "url"
) -> DataFrame:
    """Per-node component labels over an explicit vertex set: (key,
    component, component_size). Isolated nodes (no incident edge) are
    their own singleton component — ``nodes`` is the universe, not the
    edge endpoints. One left join + one size aggregate on top of
    :func:`connected_components` (same scale shape)."""
    comp = connected_components(edges)
    labeled = (
        nodes.select(F.col(key))
        .join(comp.withColumnRenamed("node", key), key, "left")
        .select(
            F.col(key),
            F.coalesce("component", F.col(key)).alias("component"),
        )
    )
    sizes = labeled.groupBy("component").agg(
        F.count("*").alias("component_size")
    )
    return labeled.join(sizes, "component").select(
        F.col(key), "component", "component_size"
    )

