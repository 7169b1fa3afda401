"""Hierarchical spatial cell index (S2-style Morton quadtree), pure numpy.

The reference has no spatial index (it only does single-point Contains,
centroid.go:147-160); this module is the engine's scale path for the
extension operators (SURVEY.md §2.3 J8/J9): polygon covering → equi-join
on cell ids → exact PIP refinement.

Design (public-knowledge S2/quadkey scheme, no external libs):
- A cell at ``level`` L (0..MAX_LEVEL) is an axis-aligned lon/lat box
  obtained by bisecting [-180,180) × [-90,90) L times per axis.
- ``cell_id`` is an int64: (morton(x, y) << 6) | L, where x, y are the
  L-bit column/row and morton interleaves bits x0 y0 x1 y1 … — so a
  parent's id is a prefix of its children's (ancestor = shift + retag),
  giving cheap multi-level joins and Z-order-clustered storage.
- Covering: recursive quadtree refinement of a polygon into cells with
  levels in [min_level, max_level]; interior cells stay coarse, boundary
  cells refine — the point side joins by exploding each point to its
  ancestor cell at every level in the (small, fixed) range.

All functions are numpy-vectorized where they run per-row at scale
(point→cell, ancestors); per-polygon functions (covering) run inside
grouped Arrow UDF batches.
"""

from __future__ import annotations

import numpy as np

from osm_spark.kernels.poly import grid_segments, polygon_contains, to_grid, xy_rings

MAX_LEVEL = 28  # 2*28 bits morton + 6 bits level < 63 bits

_FULL_LON = 360.0
_FULL_LAT = 180.0


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 28 bits of v so bit i moves to bit 2i (int64)."""
    v = (np.asarray(v).astype(np.int64) & 0x0FFFFFFF).astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def xy_to_cell(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Morton-encode column/row at a level into cell ids (vectorized)."""
    m = _spread_bits(np.asarray(x)) | (_spread_bits(np.asarray(y)) << np.uint64(1))
    return ((m << np.uint64(6)) | np.uint64(level)).astype(np.int64)


def point_to_cell(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """Vectorized point → cell id at ``level``. Inputs in degrees (float64)."""
    n = 1 << level
    x = np.clip(((np.asarray(lon, dtype=np.float64) + 180.0) / _FULL_LON * n).astype(np.int64), 0, n - 1)
    y = np.clip(((np.asarray(lat, dtype=np.float64) + 90.0) / _FULL_LAT * n).astype(np.int64), 0, n - 1)
    return xy_to_cell(x, y, level)


def cell_level(cell: np.ndarray) -> np.ndarray:
    return np.asarray(cell) & 0x3F


def cell_xy(cell: int) -> tuple[int, int, int]:
    """Decode a single cell id → (x, y, level)."""
    cell = int(cell)
    level = cell & 0x3F
    m = cell >> 6
    x = _compact_bits(m)
    y = _compact_bits(m >> 1)
    return x, y, level


def cells_xy(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Column and row arrays of int64 cell ids (vectorized ``cell_xy``)."""
    m = np.asarray(cells, dtype=np.int64) >> 6
    y = _compact_bits(m >> 1)
    return _compact_bits(m), y


def _compact_bits(v: int) -> int:
    v &= 0x5555555555555555
    v = (v | (v >> 1)) & 0x3333333333333333
    v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
    v = (v | (v >> 16)) & 0x00000000FFFFFFFF
    return v


def cell_parent(cell: np.ndarray, parent_level: int) -> np.ndarray:
    """Ancestor of each cell at ``parent_level`` (vectorized)."""
    cell = np.asarray(cell, dtype=np.int64)
    level = (cell & 0x3F).astype(np.int64)
    shift = (2 * (level - parent_level)).astype(np.uint64)
    m = (cell.astype(np.uint64) >> np.uint64(6)) >> shift
    return ((m << np.uint64(6)) | np.uint64(parent_level)).astype(np.int64)


def point_ancestors(lon: np.ndarray, lat: np.ndarray, min_level: int, max_level: int) -> np.ndarray:
    """(n, max-min+1) matrix of each point's cell at every level in range."""
    base = point_to_cell(lon, lat, max_level)
    cols = [cell_parent(base, lv) for lv in range(min_level, max_level)]
    cols.append(base)
    return np.stack(cols, axis=1)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(lon0, lat0, lon1, lat1) of a cell (degrees)."""
    x, y, level = cell_xy(cell)
    n = 1 << level
    w = _FULL_LON / n
    h = _FULL_LAT / n
    return (-180.0 + x * w, -90.0 + y * h, -180.0 + (x + 1) * w, -90.0 + (y + 1) * h)


def cell_children(cell: int) -> list[int]:
    x, y, level = cell_xy(cell)
    out = []
    for dy in (0, 1):
        for dx in (0, 1):
            out.append(int(xy_to_cell(np.array([2 * x + dx]), np.array([2 * y + dy]), level + 1)[0]))
    return out


def cell_neighbors(cell: int, ring: int = 1) -> list[int]:
    """Cells of the Chebyshev ring at distance ``ring`` around a cell
    (same level, clipped at the lat edges, wrapped in lon)."""
    x, y, level = cell_xy(cell)
    n = 1 << level
    out = []
    for dy in range(-ring, ring + 1):
        for dx in range(-ring, ring + 1):
            if max(abs(dx), abs(dy)) != ring:
                continue
            ny = y + dy
            if ny < 0 or ny >= n:
                continue
            nx = (x + dx) % n
            out.append(int(xy_to_cell(np.array([nx]), np.array([ny]), level)[0]))
    return out


def cell_disk(cell: int, radius: int) -> list[int]:
    """All cells with Chebyshev distance ≤ radius (incl. the cell)."""
    out = [int(cell)]
    for r in range(1, radius + 1):
        out.extend(cell_neighbors(cell, r))
    return out


# --- polygon covering ---------------------------------------------------------


def _ring_intersects_box(xs, ys, lon0, lat0, lon1, lat1) -> bool:
    """Any ring edge intersects the box (numpy segment-vs-box test)."""
    x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
    # Quick reject: edge bbox vs box.
    cand = (
        (np.minimum(x1, x2) <= lon1)
        & (np.maximum(x1, x2) >= lon0)
        & (np.minimum(y1, y2) <= lat1)
        & (np.maximum(y1, y2) >= lat0)
    )
    if not bool(cand.any()):
        return False
    idx = np.nonzero(cand)[0]
    bx = np.array([lon0, lon1, lon1, lon0])
    by = np.array([lat0, lat0, lat1, lat1])
    ex = np.array([lon1, lon1, lon0, lon0])
    ey = np.array([lat0, lat1, lat1, lat0])
    for i in idx.tolist():
        p1 = (x1[i], y1[i])
        p2 = (x2[i], y2[i])
        # Edge fully inside box?
        if lon0 <= p1[0] <= lon1 and lat0 <= p1[1] <= lat1:
            return True
        if lon0 <= p2[0] <= lon1 and lat0 <= p2[1] <= lat1:
            return True
        for k in range(4):
            if _seg_intersect_f(p1, p2, (bx[k], by[k]), (ex[k], ey[k])):
                return True
    return False


def _seg_intersect_f(p1, p2, p3, p4) -> bool:
    def orient(a, b, c):
        v = float((b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]))
        return (v > 0) - (v < 0)

    o1, o2 = orient(p1, p2, p3), orient(p1, p2, p4)
    o3, o4 = orient(p3, p4, p1), orient(p3, p4, p2)
    if o1 != o2 and o3 != o4:
        return True
    return False


def cover_polygon(
    coords: list[list[list[float]]],
    min_level: int = 4,
    max_level: int = 12,
) -> tuple[list[int], list[bool]]:
    """Quadtree covering of ONE polygon (outer ring + holes).

    Returns (cells, is_interior): interior cells are fully inside the
    polygon (PIP refinement can be skipped for points landing in them);
    boundary cells (at max_level) need exact refinement.
    """
    rings = xy_rings(coords)
    grid = grid_segments(rings)
    oxs, oys = rings[0]
    minx, maxx = float(oxs.min()), float(oxs.max())
    miny, maxy = float(oys.min()), float(oys.max())

    cells: list[int] = []
    interior: list[bool] = []

    def classify(lon0, lat0, lon1, lat1) -> int:
        """2=disjoint, 1=fully interior, 0=boundary/partial."""
        if lon1 < minx or lon0 > maxx or lat1 < miny or lat0 > maxy:
            return 2
        for xs, ys in rings:
            if _ring_intersects_box(xs, ys, lon0, lat0, lon1, lat1):
                return 0
        # No edge crosses the box: either fully in/out of the polygon,
        # so its centre rounded to the grid (still inside the box)
        # decides.
        cx, cy = to_grid([(lon0 + lon1) / 2]), to_grid([(lat0 + lat1) / 2])
        return 1 if polygon_contains(grid, cx, cy)[0] else 2

    def recurse(x: int, y: int, level: int) -> None:
        n = 1 << level
        w = _FULL_LON / n
        h = _FULL_LAT / n
        lon0, lat0 = -180.0 + x * w, -90.0 + y * h
        cls = classify(lon0, lat0, lon0 + w, lat0 + h)
        if cls == 2:
            return
        if cls == 1 and level >= min_level:
            cells.append(int(xy_to_cell(np.array([x]), np.array([y]), level)[0]))
            interior.append(True)
            return
        if level >= max_level:
            if cls == 0 or cls == 1:
                cells.append(int(xy_to_cell(np.array([x]), np.array([y]), level)[0]))
                interior.append(cls == 1)
            return
        for dy in (0, 1):
            for dx in (0, 1):
                recurse(2 * x + dx, 2 * y + dy, level + 1)

    recurse(0, 0, 0)
    return cells, interior
