"""J8 — distributed point-in-polygon join (catalyst mode).

The over-budget PIP path: ``run_spatial_pipeline(mode="auto")`` falls
back here when the broadcast ``PipIndex`` (pip_index.py) would exceed
its budget, so nothing polygon-sized is broadcast:

    points --anchor prune (broadcast semi-join against the covering's
             distinct ancestors at the coarsest level: a small set)
           --cells at the covering's levels (Catalyst bit ops)-->
        ⋈ polygon_cells on cell       (no hint: Spark's size threshold
                                       decides; AQE splits hot cells)
    interior-cell matches -> accepted directly (no geometry touched)
    boundary-cell matches -> exact PIP with the one kernel
                             (kernels.poly.polygon_contains) in a
                             cogroup keyed (rel_id, poly_idx, shard)

Scale properties:
- the point side (10^12 rows) is touched exactly once per covering
  level (quadtree cells are disjoint across levels, so a point matches
  at most one covering cell per polygon — no dedup shuffle needed);
- hot cells (city-dense pages) meet AQE's skew-join split on the cell
  join (``session.get_spark`` turns it on); a hand salt on that join
  measured slower than AQE alone (SCALE.md §skew);
- exact geometry is shipped once per (rel, poly, shard) group, not per
  candidate row; candidates pick one of ``REFINE_SHARDS`` shards by
  hash, so a coastline-heavy polygon's candidates split across that
  many tasks and refinement parallelism is polygons × REFINE_SHARDS.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.kernels.poly import grid_segments, polygon_contains, to_grid, xy_rings
from osm_spark.spatial.cells_sql import cell_expr, cell_parent_expr, point_cells_expr


REFINE_SCHEMA = "point_id long, rel_id long, poly_idx int"
# Refinement shards per polygon: each geometry row is replicated this
# many times in the cogroup shuffle, and one polygon's boundary
# candidates spread over this many tasks.
REFINE_SHARDS = 8


def _refine_cogroup(key, pts: pd.DataFrame, poly: pd.DataFrame) -> pd.DataFrame:
    if len(pts) == 0 or len(poly) == 0:
        return pd.DataFrame({"point_id": [], "rel_id": [], "poly_idx": []}).astype(
            {"point_id": "int64", "rel_id": "int64", "poly_idx": "int32"}
        )
    ok = polygon_contains(
        grid_segments(xy_rings(poly["poly"].iloc[0])),
        to_grid(pts["lon"].to_numpy(dtype=np.float64)),
        to_grid(pts["lat"].to_numpy(dtype=np.float64)),
    )
    sel = pts.loc[ok, ["point_id"]].copy()
    sel["rel_id"] = key[0]
    sel["poly_idx"] = key[1]
    return sel[["point_id", "rel_id", "poly_idx"]]


def pip_join(
    points: DataFrame, polygon_cells: DataFrame, polygons: DataFrame
) -> DataFrame:
    """points(point_id, lon, lat) × polygons → (point_id, rel_id, poly_idx).

    Output rows are unique per (point_id, rel_id) by construction when
    the multipolygon parts of each relation are disjoint (always true
    for valid assembled admin boundaries): covering cells are disjoint
    across levels of one polygon, and a point lies in at most one
    polygon of a relation — so no dedup shuffle is needed downstream.

    Page-side shape (the probe levels and which of them bear boundary
    cells are read from the data — one tiny aggregate over the small
    cell side — so the split is correct for any covering):

    1. ANCHOR PRUNE: one Morton encode per point; a broadcast semi-join
       against the covering's distinct ancestors at the coarsest level
       drops every point outside the covered footprint (at planet
       scale: the oceans) before any explode or shuffle.
    2. WIDE PROBE at the boundary-bearing levels only (for
       build_polygon_cells coverings that is exactly max_level, so no
       explode at all): carries lon/lat for exact refinement.
    3. NARROW PROBE at the interior-only levels: exploded rows are just
       (point_id, cell) — matches are accepted without geometry, so
       lon/lat never replicate.

    An empty polygon side yields an empty result.
    """
    lv_rows = (
        polygon_cells.groupBy(
            polygon_cells.cell.bitwiseAND(F.lit(0x3F)).alias("lvl")
        )
        .agg(F.max(~F.col("interior")).alias("has_boundary"))
        .collect()
    )
    if not lv_rows:
        return points.sparkSession.createDataFrame([], REFINE_SCHEMA)
    has_boundary = {int(r["lvl"]): bool(r["has_boundary"]) for r in lv_rows}
    probe_levels = sorted(has_boundary)
    wide_levels = [lv for lv in probe_levels if has_boundary[lv]]
    narrow_levels = [lv for lv in probe_levels if not has_boundary[lv]]

    pc = polygon_cells
    anchor_lv = probe_levels[0]
    anchors = pc.select(
        cell_parent_expr(F.col("cell"), anchor_lv).alias("anchor")
    ).distinct()
    pts = points.select(
        "point_id",
        "lon",
        "lat",
        cell_expr(F.col("lon"), F.col("lat"), anchor_lv).alias("anchor"),
    ).join(F.broadcast(anchors), "anchor", "left_semi")

    cand_parts = []
    if wide_levels:
        if len(wide_levels) == 1:
            wide_cell = cell_expr(F.col("lon"), F.col("lat"), wide_levels[0])
        else:
            wide_cell = F.explode(
                point_cells_expr(F.col("lon"), F.col("lat"), wide_levels)
            )
        p_wide = pts.select("point_id", "lon", "lat", wide_cell.alias("cell"))
        cand_parts.append(p_wide.join(pc, "cell"))
    if narrow_levels:
        p_narrow = pts.select(
            "point_id",
            F.explode(
                point_cells_expr(F.col("lon"), F.col("lat"), narrow_levels)
            ).alias("cell"),
        )
        # Interior-only levels: every match is accepted outright, so the
        # join needs no lon/lat. (`where("interior")` is a no-op by the
        # has_boundary split but keeps correctness unconditional.)
        cand_parts.append(
            p_narrow.join(pc, "cell")
            .where("interior")
            .withColumn("lon", F.lit(None).cast("double"))
            .withColumn("lat", F.lit(None).cast("double"))
        )

    cand = cand_parts[0]
    for part in cand_parts[1:]:
        cand = cand.unionByName(part.select(*cand.columns))

    accepted = cand.where("interior").select("point_id", "rel_id", "poly_idx")
    # Each boundary candidate picks a shard; each geometry row is
    # replicated once per shard, so every group meets its polygon.
    boundary = cand.where(~F.col("interior")).select(
        "point_id",
        "lon",
        "lat",
        "rel_id",
        "poly_idx",
        F.pmod(F.xxhash64("point_id"), F.lit(REFINE_SHARDS)).cast("int").alias("shard"),
    )
    geom = polygons.select(
        "rel_id",
        "poly_idx",
        "poly",
        F.explode(F.sequence(F.lit(0), F.lit(REFINE_SHARDS - 1))).alias("shard"),
    )
    refined = (
        boundary.groupBy("rel_id", "poly_idx", "shard")
        .cogroup(geom.groupBy("rel_id", "poly_idx", "shard"))
        .applyInPandas(_refine_cogroup, REFINE_SCHEMA)
    )
    return accepted.unionByName(refined)
