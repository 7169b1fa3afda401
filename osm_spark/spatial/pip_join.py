"""J8 — skew-aware distributed point-in-polygon join.

Shape (the heart of the extension, SURVEY.md §2.3 J8):

    points  --cells at the covering's levels (Catalyst bit ops)-->
            --explode--> (point, cell)
        ⋈ polygon_cells on cell            (equi-join; AQE skew split
                                            + optional explicit salting)
    interior-cell matches  -> accepted directly (no geometry touched)
    boundary-cell matches  -> exact PIP refinement with the one kernel
                              (kernels.poly.polygon_contains), broadcast
                              or cogrouped per (rel, poly)

Scale properties:
- the point side (10^12 rows) is touched exactly once per covering
  level (quadtree cells are disjoint across levels, so a point matches
  at most one covering cell per polygon — no dedup shuffle needed);
- the polygon-cell side is small (10^6-10^7 rows) — broadcastable;
- exact geometry is shipped once per (rel, poly) group via cogroup, not
  per candidate row;
- hot cells (city-dense pages) are handled in layers: with the default
  broadcast cell join there is NO reduce partitioning to skew — hot-cell
  points stay spread across input partitions; when the polygon-cell side
  is too large to broadcast (``broadcast_cells=False`` → shuffle join),
  AQE skew-join splitting applies, plus optional deterministic salting:
  polygon-cell rows are replicated ``salt`` times and points pick a
  replica by hash — bounding any single reduce task at
  points_in_hot_cell / salt.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.kernels.poly import grid_segments, polygon_contains, to_grid, xy_rings
from osm_spark.spatial.cells_sql import point_cells_expr


REFINE_SCHEMA = "point_id long, rel_id long, poly_idx int"


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


def _refine_broadcast(boundary: DataFrame, polygons: DataFrame) -> DataFrame:
    """Exact refinement with broadcast geometry — ZERO shuffle.

    Replaces the (rel_id, poly_idx)-keyed cogroup (VERDICT r1 #1 scale
    flaw: parallelism capped at polygon count, coastline candidates
    concentrated in one task). Boundary candidates stay in their
    existing partitioning; each Arrow batch groups its rows by polygon
    and runs the exact kernel (``PipIndex.contains``) against the
    broadcast geometry. Parallelism = input partitions; skew = input
    skew.
    """
    from osm_spark.spatial.pip_index import PipIndex, build_pip_index

    sc = boundary.sparkSession.sparkContext
    bc = sc.broadcast(build_pip_index(None, polygons))

    def run(it):
        idx: PipIndex = bc.value
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"point_id": [], "rel_id": [], "poly_idx": []}
                ).astype({"point_id": "int64", "rel_id": "int64", "poly_idx": "int32"})
                continue
            lons = pdf["lon"].to_numpy(np.float64)
            lats = pdf["lat"].to_numpy(np.float64)
            pids = pdf["point_id"].to_numpy(np.int64)
            rel = pdf["rel_id"].to_numpy(np.int64)
            poly = pdf["poly_idx"].to_numpy(np.int64)
            # Sub-group by covering cell when the caller carried it
            # through: tight groups make the kernel's segment slice
            # effective (see PipIndex.contains).
            cell = (
                pdf["cell"].to_numpy(np.int64)
                if "cell" in pdf.columns
                else np.zeros(len(pdf), dtype=np.int64)
            )
            keep = np.zeros(len(pdf), dtype=bool)
            key = rel * np.int64(1 << 20) + poly
            order = np.lexsort((cell, key))
            key_s, cell_s = key[order], cell[order]
            bounds = np.flatnonzero(
                (np.diff(key_s) != 0) | (np.diff(cell_s) != 0)
            ) + 1
            for seg in np.split(order, bounds):
                r, p = int(rel[seg[0]]), int(poly[seg[0]])
                keep[seg] = idx.contains(r, p, lons[seg], lats[seg])
            yield pd.DataFrame(
                {
                    "point_id": pids[keep],
                    "rel_id": rel[keep],
                    "poly_idx": poly[keep].astype(np.int32),
                }
            )

    cols = ["point_id", "rel_id", "poly_idx", "lon", "lat"]
    if "cell" in boundary.columns:
        cols.append("cell")
    return boundary.select(*cols).mapInPandas(run, REFINE_SCHEMA)


def choose_salt(
    points: DataFrame,
    polygon_cells: DataFrame,
    target_rows_per_task: int = 2_000_000,
    sample_mod: int = 100,
    max_salt: int = 64,
) -> int:
    """Count-sampled hot-cell salt chooser (VERDICT r3 next #9: nothing
    auto-detected a hot cell; SCALE.md §skew documents the manual
    procedure this automates).

    Estimates the hottest JOINED cell's point mass from a deterministic
    1/``sample_mod`` point sample (xxhash64(point_id) % mod == 0 — no
    RNG, so the choice is reproducible across runs and cluster sizes):
    sampled points are cell-encoded at every covering level, semi-joined
    against the broadcast cell dimension (a hot OCEAN cell never joins,
    so it must not drive the salt), grouped, and the max count scaled
    back up. salt = ceil(est_hot / target_rows_per_task), clamped to
    [1, max_salt].

    Cost: one pass over 1/mod of the points with a tiny shuffle —
    pennies next to the join it protects. Only meaningful for the
    shuffle-join path (broadcast_cells=False); the broadcast join has
    no reduce partitioning to skew.
    """
    from math import ceil

    from osm_spark.spatial.cells_sql import point_cells_expr as _pce

    lv = sorted(
        int(r[0])
        for r in polygon_cells.select(
            polygon_cells.cell.bitwiseAND(F.lit(0x3F))
        ).distinct().collect()
    )
    cells_dim = polygon_cells.select("cell").distinct()
    sample = points.where(
        F.pmod(F.xxhash64(F.col("point_id")), F.lit(sample_mod)) == 0
    )
    hot = (
        sample.select(
            F.explode(_pce(F.col("lon"), F.col("lat"), lv)).alias("cell")
        )
        .join(F.broadcast(cells_dim), "cell", "left_semi")
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    if not hot:
        return 1
    return max(1, min(max_salt, ceil(hot * sample_mod / target_rows_per_task)))


def pip_join(
    points: DataFrame,
    polygon_cells: DataFrame,
    polygons: DataFrame,
    levels: list[int] | None = None,
    salt: int | str = 1,
    broadcast_cells: bool = True,
    refine: str = "broadcast",
    refine_salt: int = 1,
) -> DataFrame:
    """points(point_id, lon, lat) × polygons → (point_id, rel_id, poly_idx).

    Output rows are unique per (point_id, rel_id) by construction when
    the multipolygon parts of each relation are disjoint (always true
    for valid assembled admin boundaries): covering cells are disjoint
    across levels of one polygon, and a point lies in at most one
    polygon of a relation — so no dedup shuffle is needed downstream.

    ``levels``: covering levels to probe; default = distinct levels in
    polygon_cells (collected — small dimension).

    Page-side shape (VERDICT r2 fix #3 — the old path exploded every
    point to ~9 covering levels, multiplying the 10^12-row side before
    the join):

    1. ANCHOR PRUNE: one Morton encode per point; a broadcast semi-join
       against the covering's distinct ancestors at the coarsest probed
       level drops every point outside the covered footprint (at planet
       scale: the oceans) before any explode or shuffle.
    2. WIDE PROBE at the boundary-bearing levels only (for
       build_polygon_cells coverings that is exactly max_level, so no
       explode at all): carries lon/lat for exact refinement.
    3. NARROW PROBE at the interior-only levels: exploded rows are just
       (point_id, cell) — matches are accepted without geometry, so
       lon/lat never replicate.

    Which levels bear boundary cells is read from the data (one tiny
    aggregate over the small cell side), so the split is correct for
    any covering, not only ours.

    ``salt="auto"`` runs the count-sampled ``choose_salt`` chooser
    (only useful with ``broadcast_cells=False`` — the broadcast join
    has no reduce partitioning to skew).
    """
    from osm_spark.spatial.cells_sql import cell_expr, cell_parent_expr

    if salt == "auto":
        salt = choose_salt(points, polygon_cells)

    lv_rows = (
        polygon_cells.groupBy(
            polygon_cells.cell.bitwiseAND(F.lit(0x3F)).alias("lvl")
        )
        .agg(F.max(~F.col("interior")).alias("has_boundary"))
        .collect()
    )
    data_levels = {int(r["lvl"]): bool(r["has_boundary"]) for r in lv_rows}
    if levels is None:
        levels = sorted(data_levels)
    probe_levels = [lv for lv in sorted(levels) if lv in data_levels]
    if not probe_levels:
        probe_levels = sorted(levels)
    wide_levels = [lv for lv in probe_levels if data_levels.get(lv, True)]
    narrow_levels = [lv for lv in probe_levels if not data_levels.get(lv, True)]

    pc = polygon_cells
    anchor_lv = probe_levels[0]
    anchors = (
        pc.where(pc.cell.bitwiseAND(F.lit(0x3F)) >= anchor_lv)
        .select(cell_parent_expr(F.col("cell"), anchor_lv).alias("anchor"))
        .distinct()
    )
    pts = points.select(
        "point_id",
        "lon",
        "lat",
        cell_expr(F.col("lon"), F.col("lat"), anchor_lv).alias("anchor"),
    ).join(F.broadcast(anchors), "anchor", "left_semi")

    def salted(p: DataFrame) -> DataFrame:
        return p.withColumn(
            "salt_id", F.pmod(F.xxhash64("point_id"), F.lit(salt))
        )

    if salt > 1:
        pc = pc.withColumn(
            "salt_id", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        join_keys = ["cell", "salt_id"]
    else:
        join_keys = ["cell"]
    pc_side = F.broadcast(pc) if broadcast_cells else pc

    cand_parts = []
    if wide_levels:
        if len(wide_levels) == 1:
            wide_cell = cell_expr(F.col("lon"), F.col("lat"), wide_levels[0])
            p_wide = pts.select(
                "point_id", "lon", "lat", wide_cell.alias("cell")
            )
        else:
            p_wide = pts.select(
                "point_id",
                "lon",
                "lat",
                F.explode(
                    point_cells_expr(F.col("lon"), F.col("lat"), wide_levels)
                ).alias("cell"),
            )
        if salt > 1:
            p_wide = salted(p_wide)
        cand_parts.append(p_wide.join(pc_side, join_keys))
    if narrow_levels:
        p_narrow = pts.select(
            "point_id",
            F.explode(
                point_cells_expr(F.col("lon"), F.col("lat"), narrow_levels)
            ).alias("cell"),
        )
        if salt > 1:
            p_narrow = salted(p_narrow)
        # Interior-only levels: every match is accepted outright, so the
        # join needs no lon/lat. (`where("interior")` is a no-op by the
        # has_boundary split but keeps correctness unconditional.)
        cand_parts.append(
            p_narrow.join(pc_side, join_keys)
            .where("interior")
            .withColumn("lon", F.lit(None).cast("double"))
            .withColumn("lat", F.lit(None).cast("double"))
        )

    cand = cand_parts[0]
    for part in cand_parts[1:]:
        cand = cand.unionByName(part.select(*cand.columns))

    accepted = cand.where("interior").select("point_id", "rel_id", "poly_idx")
    boundary = cand.where(~F.col("interior")).select(
        "point_id", "lon", "lat", "rel_id", "poly_idx", "cell"
    )
    if refine == "broadcast":
        refined = _refine_broadcast(boundary, polygons)
    elif refine_salt > 1:
        # Sharded cogroup: candidates pick a deterministic shard, the
        # single geometry row is replicated per shard — refinement
        # parallelism becomes polygons × refine_salt and a coastline-
        # heavy polygon's candidates split across refine_salt tasks.
        b = boundary.withColumn(
            "shard", F.pmod(F.xxhash64("point_id"), F.lit(refine_salt)).cast("int")
        )
        pg = polygons.withColumn(
            "shard", F.explode(F.sequence(F.lit(0), F.lit(refine_salt - 1)))
        ).withColumn("shard", F.col("shard").cast("int"))
        refined = (
            b.groupBy("rel_id", "poly_idx", "shard")
            .cogroup(pg.groupBy("rel_id", "poly_idx", "shard"))
            .applyInPandas(
                lambda key, pts, poly: _refine_cogroup(key[:2], pts, poly),
                REFINE_SCHEMA,
            )
        )
    else:
        refined = (
            boundary.groupBy("rel_id", "poly_idx")
            .cogroup(polygons.groupBy("rel_id", "poly_idx"))
            .applyInPandas(_refine_cogroup, REFINE_SCHEMA)
        )
    return accepted.unionByName(refined)
