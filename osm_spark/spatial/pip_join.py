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
    boundary-cell matches -> each candidate row carries its cell's edge
                             slice (the ``edges`` column the covering
                             pass stores); one row-local mapInPandas
                             refines every Arrow batch with
                             ``pip_index.refine``, the same flat pass
                             ``PipIndex.join`` runs

Scale properties:
- the point side (10^12 rows) is touched exactly once per covering
  level (quadtree cells are disjoint across levels, so a point matches
  at most one covering cell per polygon — no dedup shuffle needed);
- hot cells (city-dense pages) meet AQE's skew-join split on the cell
  join (``session.get_spark`` turns it on); a hand salt on that join
  measured slower than AQE alone (SCALE.md §skew);
- the cell join is the only shuffle: refinement needs no polygon
  geometry beyond the slice each candidate row already holds (a few
  edges), so it runs wherever the join put the row and its work
  splits with the candidates, not by polygon.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.kernels.poly import to_grid
from osm_spark.spatial.cells_sql import cell_expr, cell_parent_expr, point_cells_expr
from osm_spark.spatial.pip_index import PIP_SCHEMA, column_slices, refine


def refine_candidates(pdf: pd.DataFrame) -> pd.DataFrame:
    """Boundary candidate rows (point_id, lon, lat, rel_id, poly_idx,
    edges) -> the (point_id, rel_id, poly_idx) rows whose polygon
    strictly contains the point. Each row is refined on its own slice;
    a null slice (no geometry) yields no row."""
    keep = refine(
        column_slices(pdf["edges"].to_numpy()),
        np.arange(len(pdf)),
        to_grid(pdf["lon"].to_numpy(np.float64)),
        to_grid(pdf["lat"].to_numpy(np.float64)),
    )
    return pdf.loc[keep, ["point_id", "rel_id", "poly_idx"]]


def pip_join(points: DataFrame, polygon_cells: DataFrame) -> DataFrame:
    """points(point_id, lon, lat) × polygon_cells (covering.build_polygon_cells)
    → (point_id, rel_id, poly_idx).

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
       explode at all): carries lon/lat for exact refinement, and the
       join hands each boundary match its cell's edge slice.
    3. NARROW PROBE at the interior-only levels: exploded rows are just
       (point_id, cell) — matches are accepted without geometry, so
       lon/lat never replicate.

    Boundary matches are refined row-locally by ``refine_candidates``.
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
        return points.sparkSession.createDataFrame([], PIP_SCHEMA)
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

    parts = []
    if wide_levels:
        if len(wide_levels) == 1:
            wide_cell = cell_expr(F.col("lon"), F.col("lat"), wide_levels[0])
        else:
            wide_cell = F.explode(
                point_cells_expr(F.col("lon"), F.col("lat"), wide_levels)
            )
        wide = pts.select("point_id", "lon", "lat", wide_cell.alias("cell")).join(pc, "cell")
        parts.append(wide.where("interior"))
        parts.append(
            wide.where(~F.col("interior"))
            .select("point_id", "lon", "lat", "rel_id", "poly_idx", "edges")
            .mapInPandas(lambda it: map(refine_candidates, it), PIP_SCHEMA)
        )
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
        parts.append(
            p_narrow.join(pc.drop("edges"), "cell").where("interior")
        )
    return reduce(
        DataFrame.unionByName,
        (p.select("point_id", "rel_id", "poly_idx") for p in parts),
    )
