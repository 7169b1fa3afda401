"""Extension pipeline: pages × admin polygons (the north rule).

    boundaries (from run_boundaries_pipeline)
      -> polygon covering (interior/boundary cells)
    pages -> geoparse -> (url, lon, lat)
      -> skew-aware cell join + exact PIP refinement (J8)
      -> per-admin-level tile assignments
      -> density rasters, kNN nearest-boundary

Everything here is shaped for 10^12 pages: the page side is touched by
pure Catalyst expressions + one equi-join; geometry only ever meets the
(small) boundary-cell candidate subset.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger("osm_spark.spatial")

from osm_spark.spatial.covering import build_polygon_cells, polygon_geometry
from osm_spark.spatial.geoparse import geoparse_pages
from osm_spark.spatial.pip_join import REFINE_SHARDS, pip_join
from osm_spark.spatial.tiles import tile_assignments


def run_spatial_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    locations: DataFrame,
    kept: DataFrame,
    min_level: int = 4,
    max_level: int = 12,
    tile_level: int = 7,
    mode: str = "auto",
    index_max_bytes: int | None = None,
    simplify_tol: float | None = None,
) -> dict[str, DataFrame]:
    """``mode="index"``: the page side streams through ONE mapInPandas
    pass against a broadcast covering+geometry index — no explode, no
    join, no shuffle on the 10^12-row side (see pip_index.py).
    ``mode="catalyst"``: anchor-pruned cell equi-join + sharded cogroup
    refinement (see pip_join.py) — the path for polygon sides too large
    to broadcast as one index; nothing polygon-sized is broadcast, and
    AQE's skew-join split is its hot-cell guard (logged, with a warning
    when it is off). ``mode="auto"`` (default) measures the covering +
    ring sizes (two tiny aggregates over the SMALL side, nothing
    collected) and picks: index when the estimated broadcast fits
    ``index_max_bytes`` (default pip_index.INDEX_MAX_BYTES), catalyst
    otherwise; the decision is logged. Both modes produce identical
    rows (pinned by tests, the q21/q54 oracles and
    ``perfbench/pin.py --check``).

    ``simplify_tol`` (degrees): when set, admin rings are
    Douglas-Peucker-simplified at that tolerance BEFORE covering and
    geometry extraction — the SCALE.md mitigation that keeps index
    mode under the broadcast budget at planet fidelity.  Assignment
    then differs only for points within ``tol`` of a boundary.
    """
    if mode not in ("auto", "index", "catalyst"):
        raise ValueError(f"unknown PIP mode {mode!r}")
    if simplify_tol is not None:
        from osm_spark.spatial.simplify import simplify_shapes

        locations = simplify_shapes(locations, simplify_tol)
    geo = geoparse_pages(pages).withColumn(
        "point_id", F.xxhash64("url")
    )
    # points feed both the PIP join and the tile assignment — persist so
    # geoparse runs once.
    points = geo.select("point_id", "url", "lon", "lat").persist()

    pcells = build_polygon_cells(locations, min_level, max_level).persist()
    pgeom = polygon_geometry(locations)

    if mode == "auto":
        from osm_spark.spatial.pip_index import (
            INDEX_MAX_BYTES,
            estimate_index_bytes,
        )

        limit = INDEX_MAX_BYTES if index_max_bytes is None else index_max_bytes
        n_cells = pcells.count()
        geom_stats = pgeom.select(
            F.aggregate(
                "poly", F.lit(0), lambda acc, ring: acc + F.size(ring)
            ).alias("n_pts")
        ).agg(
            F.coalesce(F.sum("n_pts"), F.lit(0)).alias("pts"),
            F.count("*").alias("polys"),
        ).first()
        est = estimate_index_bytes(
            n_cells, int(geom_stats["pts"]), int(geom_stats["polys"])
        )
        mode = "index" if est <= limit else "catalyst"
        _log.info(
            "PIP mode auto -> %s (estimated index %.1f MB vs %.0f MB budget;"
            " %d cells, %d ring points)",
            mode, est / 1e6, limit / 1e6, n_cells, int(geom_stats["pts"]),
        )

    # No distinct: pip output is unique per (point, rel) by
    # construction (disjoint multipolygon parts / disjoint quadtree
    # cells) — dropping the dedup saves a full shuffle of the largest
    # intermediate. tests assert exact set equality with the oracle.
    if mode == "index":
        from osm_spark.spatial.pip_index import build_pip_index, pip_join_index

        index_bc = spark.sparkContext.broadcast(build_pip_index(pcells, pgeom))
        pip = pip_join_index(
            points.select("point_id", "lon", "lat"), index_bc
        ).select("point_id", "rel_id")
    else:
        # pip_join reads the probe levels + boundary flags from pcells
        # itself (one tiny aggregate over the persisted small side) and
        # probes max_level with NO page-side explode; interior levels
        # explode only (point_id, cell) after the anchor prune.
        aqe = spark.conf.get("spark.sql.adaptive.enabled", "true").lower()
        skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true").lower()
        # AQE's skew split is the only hot-cell guard on the cell join.
        _log.log(
            logging.INFO if aqe == skew == "true" else logging.WARNING,
            "PIP catalyst: refine cogroup over %d shards per polygon;"
            " spark.sql.adaptive.skewJoin.enabled=%s,"
            " spark.sql.adaptive.enabled=%s",
            REFINE_SHARDS, skew, aqe,
        )
        pip = pip_join(
            points.select("point_id", "lon", "lat"), pcells, pgeom
        ).select("point_id", "rel_id")

    admin_levels = kept.select(
        F.col("id").alias("rel_id"), "admin_level"
    )
    tiles = tile_assignments(pip, points, admin_levels, tile_level)

    return {
        "points": points,
        "polygon_cells": pcells,
        "polygon_geometry": pgeom,
        "pip": pip,
        "tiles": tiles,
    }
