"""Per-admin-level tile assignment + GeoJSON tile emission.

Tile = Morton cell at ``tile_level``. Each geoparsed page is assigned,
per admin level, the admin relation whose polygon contains it (from the
PIP join) and the tile its coordinate falls in. Tiles aggregate to
GeoJSON FeatureCollections (to_json, JVM-side); the binary MVT twin is
spatial/mvt.py. ``tile_assignments`` is the join-based reference: the
pipeline's own page side (spatial_pipeline.assign_pages) carries the
tile through the PIP batch in index mode instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.spatial.cells_sql import cell_expr


def tile_assignments(
    pip_results: DataFrame,
    points: DataFrame,
    admin_levels: DataFrame,
    tile_level: int = 7,
) -> DataFrame:
    """(point_id, admin_level, rel_id, tile).

    pip_results: (point_id, rel_id) containment pairs.
    points: (point_id, lon, lat[, url]).
    admin_levels: (rel_id, admin_level) from the kept relations.
    """
    with_level = pip_results.join(F.broadcast(admin_levels), "rel_id")
    pts = points.withColumn(
        "tile", cell_expr(F.col("lon"), F.col("lat"), tile_level)
    )
    cols = ["point_id", "admin_level", "rel_id", "tile"] + (
        ["url"] if "url" in points.columns else []
    )
    return with_level.join(pts, "point_id").select(*cols)


def geojson_tiles(assignments: DataFrame, points: DataFrame) -> DataFrame:
    """(tile, admin_level, feature_collection) — one GeoJSON
    FeatureCollection per (tile, admin level), features ordered by
    point_id for determinism."""
    joined = assignments.join(
        points.select("point_id", "lon", "lat"), "point_id"
    )
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array("lon", "lat").alias("coordinates"),
            ).alias("geometry"),
            F.struct("point_id", "rel_id").alias("properties"),
        )
    )
    per_tile = (
        joined.withColumn("feature", feature)
        .groupBy("tile", "admin_level")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("point_id", "feature"))
            ).alias("fs")
        )
    )
    return per_tile.select(
        "tile",
        "admin_level",
        F.concat(
            F.lit('{"type":"FeatureCollection","features":['),
            F.array_join(F.expr("transform(fs, x -> x.feature)"), ","),
            F.lit("]}"),
        ).alias("feature_collection"),
    )


BOUNDARY_TILE_SCHEMA = (
    "tile long, rel_id long, clipped array<array<array<array<double>>>>, "
    "n_polygons int"
)


def boundary_tiles(
    locations: DataFrame, polygon_cells: DataFrame, tile_level: int = 7
) -> DataFrame:
    """Per-tile CLIPPED admin geometry: for every tile a polygon's
    covering touches, the multipolygon clipped to that tile's box
    (Sutherland–Hodgman kernel). This is the vector-tile content stage:
    (tile, rel_id, clipped multipolygon).

    Shape: covering cells → parent tile ids (Catalyst bit ops) →
    distinct (tile, rel) pairs → join geometry → cogrouped clip (one
    geometry row per group, Arrow-batched)."""
    import pandas as pd

    from osm_spark.kernels.cells import cell_bounds
    from osm_spark.kernels.clip import clip_multipolygon_to_box
    from osm_spark.spatial.cells_sql import cell_parent_expr

    pairs = (
        polygon_cells.select(
            cell_parent_expr(F.col("cell"), tile_level).alias("tile"),
            "rel_id",
            "poly_idx",
        )
        .distinct()
    )
    def clip_group(key, tiles_pdf: pd.DataFrame, loc_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(tiles_pdf) == 0 or len(loc_pdf) == 0:
            return pd.DataFrame(
                {"tile": [], "rel_id": [], "clipped": [], "n_polygons": []}
            ).astype({"tile": "int64", "rel_id": "int64", "n_polygons": "int32"})
        shape = [
            [[[float(v) for v in pt] for pt in ring] for ring in poly]
            for poly in loc_pdf["shape"].iloc[0]
        ]
        rows = []
        for t in sorted(set(int(t) for t in tiles_pdf["tile"])):
            lon0, lat0, lon1, lat1 = cell_bounds(t)
            clipped = clip_multipolygon_to_box(shape, lon0, lat0, lon1, lat1)
            if clipped:
                rows.append((t, key[0], clipped, len(clipped)))
        return pd.DataFrame(
            rows, columns=["tile", "rel_id", "clipped", "n_polygons"]
        )

    return (
        pairs.select("tile", "rel_id")
        .distinct()
        .groupBy("rel_id")
        .cogroup(locations.select("rel_id", "shape").groupBy("rel_id"))
        .applyInPandas(clip_group, BOUNDARY_TILE_SCHEMA)
    )
