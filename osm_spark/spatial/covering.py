"""Polygon → cell covering (the scale path for spatial joins, J8).

Each assembled admin polygon is covered by quadtree cells: interior
cells stay coarse (points landing there are accepted without exact
geometry), boundary cells refine to ``max_level`` (points there go
through exact point-in-polygon). This is the standard S2ShapeIndex-style
decomposition; the quadtree kernel is osm_spark.kernels.cells
(pure numpy, no external libs).

Runs as mapInPandas over the locations checkpoint: one covering per
polygon, Arrow-batched. Output is the cell↔polygon table — the small,
explode-once side of the PIP join. Each boundary row also carries its
cell's edge slice (``edges``: the polygon edges exact PIP needs for a
point in that cell, ``pip_index.edges_column``), so the catalyst join
brings every boundary candidate the geometry it is refined against.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.kernels.cells import cover_polygon
from osm_spark.kernels.poly import xy_rings
from osm_spark.spatial.pip_index import edges_column

CELLS_SCHEMA = "rel_id long, poly_idx int, cell long, interior boolean, edges array<long>"


def build_polygon_cells(
    locations: DataFrame, min_level: int = 4, max_level: int = 12
) -> DataFrame:
    """(rel_id, poly_idx, cell, interior, edges) covering of every
    polygon of every relation's multipolygon."""

    # Spread polygons across tasks: the source table has few rows, and
    # covering cost varies per polygon — round-robin repartition keeps
    # every core busy instead of one task covering everything.
    sc = locations.sparkSession.sparkContext
    polys = locations.select(
        "rel_id", F.posexplode("shape").alias("poly_idx", "poly")
    ).repartition(sc.defaultParallelism)

    def cover(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rel, out_idx, out_cell, out_int, geom = [], [], [], [], {}
            for row in pdf.itertuples():
                cells, interior = cover_polygon(
                    row.poly, min_level=min_level, max_level=max_level
                )
                key = (int(row.rel_id), int(row.poly_idx))
                geom[key] = xy_rings(row.poly)
                out_rel.extend([key[0]] * len(cells))
                out_idx.extend([key[1]] * len(cells))
                out_cell.extend(cells)
                out_int.extend(interior)
            cells = np.asarray(out_cell, dtype=np.int64)
            rel = np.asarray(out_rel, dtype=np.int64)
            idx = np.asarray(out_idx, dtype=np.int64)
            interior = np.asarray(out_int, dtype=bool)
            yield pd.DataFrame(
                {
                    "rel_id": rel,
                    "poly_idx": idx.astype(np.int32),
                    "cell": cells,
                    "interior": interior,
                    "edges": edges_column(cells, rel, idx, interior, geom),
                }
            )

    return polys.mapInPandas(cover, CELLS_SCHEMA)


def polygon_geometry(locations: DataFrame) -> DataFrame:
    """(rel_id, poly_idx, poly) exact float geometry for PIP refinement."""
    return locations.select(
        "rel_id", F.posexplode("shape").alias("poly_idx", "poly")
    )
