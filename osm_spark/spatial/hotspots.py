"""Grid-density hotspot clustering (DBSCAN-style) over geo points.

A web corpus with geoparsed pages wants "where are the places" —
contiguous regions dense in geo-tagged pages (cities, events,
disaster coverage) — without a parametric model or a fragile
all-pairs distance join. This is the grid-based member of the DBSCAN
family (the cell IS the epsilon-neighborhood): a point is "core"
when its grid cell holds ≥ ``min_pts`` points, and clusters are the
connected components of dense cells under 8-adjacency (Chebyshev
distance 1 on the grid, with the antimeridian wrap). Equivalent to
GriT-DBSCAN / STING-style density clustering on a fixed grid; grid
quantization replaces the epsilon ball, which is exactly the trade
that makes the operator ONE map-side-combinable groupBy at corpus
scale instead of a spatial self-join.

Scale shape (the 100-TB contract):
- points → cells: one groupBy on the Morton cell id (cells_sql
  linear OR-chain expression — stays in whole-stage codegen), count
  partials combine map-side. The only pass over the point table.
- everything after runs at CELLS scale (≤ occupied cells, bounded by
  4^level regardless of corpus size): the 8-neighbor candidate
  fan-out is a projection ×4 (undirected half of the 8 directions),
  the dense⋈dense adjacency an equi-join on the neighbor cell id,
  and components use the large-star/small-star contraction
  (spatial/components.py) whose round count is diameter-insensitive —
  a coastline megacity chain of cells converges in O(log²) rounds.
- per-point labels come back via ONE broadcast left join of the
  cells→cluster map (cells-scale, broadcastable by construction) —
  the point table itself never shuffles.

Cluster ids are the component's minimum cell id: deterministic,
engine- and parallelism-reproducible (driver gate hashes them).

No reference analog (pmezard/osm has no clustering); SURVEY §2-ext.
Published-algorithm composition, not reference code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.spatial.cells_sql import _morton_expr, _xy_expr
from osm_spark.spatial.components import label_components

# Undirected half of the 8-neighborhood; _canon symmetrizes.
_HALF_NEIGHBORS = ((1, -1), (1, 0), (1, 1), (0, 1))


def _cell_of(x, y, level: int):
    m = _morton_expr(x, y, level) if level > 0 else F.lit(0)
    return F.shiftleft(m, 6).bitwiseOR(F.lit(level)).cast("long")


def cell_counts(
    points: DataFrame,
    level: int,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """(cell, x, y, n_points) for every OCCUPIED grid cell — the
    single point-scale pass. Also the mergeable maintenance unit:
    counts from disjoint batches/shards sum per cell (see
    streaming.stream_hotspot_maintenance)."""
    x, y = _xy_expr(F.col(lon), F.col(lat), level)
    return (
        points.select(
            x.alias("x"), y.alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_points"))
        .select(
            _cell_of(F.col("x"), F.col("y"), level).alias("cell"),
            "x",
            "y",
            "n_points",
        )
    )


def dense_cells(
    points: DataFrame,
    level: int,
    min_pts: int,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """(cell, x, y, n_points) for every grid cell holding ≥ min_pts
    points — the single point-scale pass of the operator."""
    return cell_counts(points, level, lon=lon, lat=lat).where(
        F.col("n_points") >= min_pts
    )


def _adjacency_edges(
    dense: DataFrame, level: int, wrap: bool = True,
    broadcast_cells: bool = True,
) -> DataFrame:
    """Undirected edges between 8-adjacent dense cells (cells-scale).

    Longitude wraps at the antimeridian (x = 0 and x = n-1 are
    neighbors) when ``wrap``; latitude never wraps. At level 0 the
    grid is one cell — no edges. At n = 2 with wrap, +1 and -1 reach
    the same residue; the equi-join's distinct-by-construction
    candidate rows plus components' edge canonicalization absorb the
    duplicates, and x+1 == x at n = 1 would be a self loop, dropped
    there too.
    """
    n = 1 << level
    cand = None
    for dx, dy in _HALF_NEIGHBORS:
        nx = (F.col("x") + F.lit(dx) + F.lit(n)) % F.lit(n) if wrap else (
            F.col("x") + F.lit(dx)
        )
        ny = F.col("y") + F.lit(dy)
        part = dense.select(
            F.col("cell").alias("src"),
            _cell_of(nx.cast("long"), ny.cast("long"), level).alias("dst"),
            nx.alias("nx"),
            ny.alias("ny"),
        ).where((F.col("ny") >= 0) & (F.col("ny") < n))
        if not wrap:
            part = part.where((F.col("nx") >= 0) & (F.col("nx") < n))
        part = part.select("src", "dst")
        cand = part if cand is None else cand.unionByName(part)
    # Keep only neighbors that are themselves dense.
    dense_ids = dense.select(F.col("cell").alias("dst"))
    if broadcast_cells:
        dense_ids = F.broadcast(dense_ids)
    return cand.join(dense_ids, "dst").select("src", "dst")


def grid_clusters(
    points: DataFrame,
    level: int,
    min_pts: int,
    lon: str = "lon",
    lat: str = "lat",
    wrap: bool = True,
    broadcast_cells: bool = True,
) -> DataFrame:
    """Per-dense-cell cluster labels:
    (cell, x, y, n_points, cluster, cluster_n_cells, cluster_n_points).

    cluster = min cell id of the connected component of dense cells
    under 8-adjacency. One point-scale groupBy; everything else is
    cells-scale.
    """
    return clusters_from_cells(
        cell_counts(points, level, lon=lon, lat=lat),
        level,
        min_pts,
        wrap=wrap,
        broadcast_cells=broadcast_cells,
    )


def clusters_from_cells(
    cells: DataFrame,
    level: int,
    min_pts: int,
    wrap: bool = True,
    broadcast_cells: bool = True,
) -> DataFrame:
    """grid_clusters from a PRE-AGGREGATED (cell, x, y, n_points)
    frame — the entry point for maintained count tables (streaming
    hotspot maintenance reads its versioned cell counts and clusters
    any snapshot without touching the original points).

    ``broadcast_cells``: the dense-cell set is bounded by
    min(occupied cells, 4^level) — broadcastable for the coarse-to-
    mid levels every heatmap uses, but at level ≥ ~14 over a planet
    corpus it can reach 10^8 rows; pass False to run the adjacency
    semi filter, totals and label joins as plain shuffled equi-joins
    (identical output, pinned by test)."""
    dense = cells.where(F.col("n_points") >= min_pts).select(
        "cell", "x", "y", "n_points"
    )
    # The dense set feeds the fan-out, the semi filter, components
    # AND the final join — persist the (small) cells-scale frame once.
    dense = dense.persist()
    try:
        edges = _adjacency_edges(
            dense, level, wrap=wrap, broadcast_cells=broadcast_cells
        )
        labeled = label_components(
            dense.select("cell"), edges, key="cell"
        ).withColumnRenamed("component", "cluster").withColumnRenamed(
            "component_size", "cluster_n_cells"
        )
        out = dense.join(labeled, "cell")
        totals = out.groupBy("cluster").agg(
            F.sum("n_points").alias("cluster_n_points")
        )
        if broadcast_cells:
            totals = F.broadcast(totals)
        return (
            out.join(totals, "cluster")
            .select(
                "cell",
                "x",
                "y",
                "n_points",
                "cluster",
                "cluster_n_cells",
                "cluster_n_points",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        dense.unpersist(blocking=False)


def cluster_points(
    points: DataFrame,
    level: int,
    min_pts: int,
    id_col: str,
    lon: str = "lon",
    lat: str = "lat",
    wrap: bool = True,
    broadcast_cells: bool = True,
) -> DataFrame:
    """Per-point labels (id_col, cell, cluster): cluster is NULL for
    noise points (points whose cell is not dense). The point table
    never shuffles — labels arrive by ONE broadcast left join of the
    cells-scale cluster map."""
    labels = grid_clusters(
        points, level, min_pts, lon=lon, lat=lat, wrap=wrap,
        broadcast_cells=broadcast_cells,
    ).select("cell", "cluster")
    x, y = _xy_expr(F.col(lon), F.col(lat), level)
    tagged = points.select(
        F.col(id_col), _cell_of(x, y, level).alias("cell")
    )
    if broadcast_cells:
        labels = F.broadcast(labels)
    return tagged.join(labels, "cell", "left").select(
        id_col, "cell", "cluster"
    )
