"""Extension pipeline: pages × admin polygons (the north rule).

    boundaries -> prepare_polygons: covering, geometry, admin levels,
                  PIP mode, broadcast index (index mode)
    pages -> assign_pages: geoparse -> point_id -> tile -> exact PIP (J8)
          -> (point_id, admin_level, rel_id, tile, url)

Every page-side caller (this pipeline, the streaming sinks,
``pip_increment``) goes through ``assign_pages`` or ``locate_pages``.
Shaped for 10^12 pages: in index mode the page side is Catalyst
expressions, ONE mapInPandas carrying ``url`` and ``tile`` through the
PIP batch, and one broadcast join with the admin levels — no shuffle,
no join back to the pages, no cache.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.spatial.cells_sql import cell_expr
from osm_spark.spatial.covering import build_polygon_cells, polygon_geometry
from osm_spark.spatial.geoparse import geoparse_pages
from osm_spark.spatial.pip_index import (
    INDEX_MAX_BYTES, estimate_index_bytes, pip_join_index,
)
from osm_spark.spatial.pip_join import pip_join
from osm_spark.spatial.tiles import tile_assignments

_log = logging.getLogger("osm_spark.spatial")


@dataclass(frozen=True)
class Polygons:
    """The prepared polygon side: the persisted covering, the exact
    geometry, (rel_id, admin_level) (None without ``kept``: PIP pairs
    only) and the broadcast PipIndex (None in catalyst mode)."""

    cells: DataFrame
    geometry: DataFrame
    admin_levels: DataFrame | None
    index: Broadcast | None


def prepare_polygons(
    spark: SparkSession,
    locations: DataFrame,
    kept: DataFrame | None,
    min_level: int = 4,
    max_level: int = 12,
    mode: str = "auto",
    index_max_bytes: int | None = None,
    simplify_tol: float | None = None,
) -> Polygons:
    """Build the polygon side once.

    ``mode="index"``: pages stream through ONE mapInPandas against a
    broadcast covering+geometry index — no explode, join or shuffle on
    the 10^12-row side (pip_index.py). ``mode="catalyst"``: the
    anchor-pruned cell equi-join, boundary matches refined row-locally
    on their cells' edge slices (pip_join.py) — for polygon sides too
    large to broadcast; AQE's skew-join split is its hot-cell guard
    (logged, with a warning when off). ``mode="auto"`` (default) sizes
    the index from two tiny aggregates over the SMALL side (nothing
    collected) and picks index when it fits ``index_max_bytes``
    (default pip_index.INDEX_MAX_BYTES), else catalyst; the decision
    is logged. Both modes give identical rows (tests, the q21/q54
    oracles, ``perfbench/pin.py --check``).

    ``simplify_tol`` (degrees): Douglas-Peucker-simplify the admin
    rings BEFORE covering — the SCALE.md lever that keeps index mode
    under the broadcast budget at planet fidelity; assignment then
    differs only for points within ``tol`` of a boundary.
    """
    if mode not in ("auto", "index", "catalyst"):
        raise ValueError(f"unknown PIP mode {mode!r}")
    if simplify_tol is not None:
        from osm_spark.spatial.simplify import simplify_shapes

        locations = simplify_shapes(locations, simplify_tol)
    pcells = build_polygon_cells(locations, min_level, max_level).persist()
    pgeom = polygon_geometry(locations)

    if mode == "auto":
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

    if mode == "index":
        # looked up per call, so a test can refuse it via the module
        from osm_spark.spatial.pip_index import build_pip_index

        index = spark.sparkContext.broadcast(build_pip_index(pcells, pgeom))
    else:
        index = None
        aqe = spark.conf.get("spark.sql.adaptive.enabled", "true").lower()
        skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true").lower()
        # AQE's skew split is the only hot-cell guard on the cell join.
        _log.log(
            logging.INFO if aqe == skew == "true" else logging.WARNING,
            "PIP catalyst: spark.sql.adaptive.skewJoin.enabled=%s,"
            " spark.sql.adaptive.enabled=%s",
            skew, aqe,
        )
    admin_levels = None if kept is None else kept.select(
        F.col("id").alias("rel_id"), "admin_level"
    )
    return Polygons(pcells, pgeom, admin_levels, index)


def page_points(pages: DataFrame) -> DataFrame:
    """geoparse → (point_id, url, lon, lat); ``point_id`` is
    ``xxhash64(url)``, the page key every PIP output carries."""
    return geoparse_pages(pages).select(
        F.xxhash64("url").alias("point_id"), "url", "lon", "lat"
    )


def locate_pages(
    pages: DataFrame,
    index_bc: Broadcast,
    keep: tuple = (),
    tile_level: int | None = None,
) -> DataFrame:
    """The index-mode page pass: ``page_points`` (→ ``tile`` at
    ``tile_level``) → ONE broadcast-index mapInPandas →
    (point_id, rel_id, poly_idx[, keep...][, tile]). ``keep`` columns
    (``url``) ride through the batch, so no caller joins back to the
    pages — which a stream could not do anyway (a stream-stream
    self-join is illegal in append mode)."""
    points = page_points(pages)
    if tile_level is not None:
        points = points.withColumn(
            "tile", cell_expr(F.col("lon"), F.col("lat"), tile_level)
        )
        keep = (*keep, "tile")
    return pip_join_index(points, index_bc, keep=keep)


def _pip(pages: DataFrame, polygons: Polygons) -> DataFrame:
    """(point_id, rel_id) containment pairs in the prepared mode. No
    distinct: they are unique by construction (disjoint multipolygon
    parts / disjoint quadtree cells)."""
    if polygons.index is not None:
        pairs = locate_pages(pages, polygons.index)
    else:
        pairs = pip_join(
            page_points(pages).select("point_id", "lon", "lat"), polygons.cells
        )
    return pairs.select("point_id", "rel_id")


def assign_pages(
    pages: DataFrame, polygons: Polygons, tile_level: int = 7
) -> DataFrame:
    """(point_id, admin_level, rel_id, tile, url): every page's
    containing admin relations, with their level and the page's tile
    (Morton cell at ``tile_level``).

    Index mode: ``locate_pages`` carries ``url`` and ``tile`` through
    the PIP batch, then one broadcast join adds the admin level.
    Catalyst mode joins back to the points (``tile_assignments``): its
    probe explodes points per covering level, and carrying ``url``
    through it would copy it once per level."""
    if polygons.index is None:
        return tile_assignments(
            _pip(pages, polygons), page_points(pages),
            polygons.admin_levels, tile_level,
        )
    return (
        locate_pages(pages, polygons.index, keep=("url",), tile_level=tile_level)
        .join(F.broadcast(polygons.admin_levels), "rel_id")
        .select("point_id", "admin_level", "rel_id", "tile", "url")
    )


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
    """``prepare_polygons`` then ``assign_pages`` (``tiles``), plus the
    ``points`` (point_id, url, lon, lat), ``pip`` (point_id, rel_id)
    and polygon frames. Nothing on the page side is cached."""
    polygons = prepare_polygons(
        spark, locations, kept, min_level, max_level, mode,
        index_max_bytes, simplify_tol,
    )
    return {
        "points": page_points(pages),
        "polygon_cells": polygons.cells,
        "polygon_geometry": polygons.geometry,
        "pip": _pip(pages, polygons),
        "tiles": assign_pages(pages, polygons, tile_level),
    }
