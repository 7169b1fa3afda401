"""Centroid derivation over float multipolygon coordinates.

Semantics parity with /root/reference/centroid.go:
- ``compute_barycenter`` (centroid.go:89-98) — mean of ring vertices;
  callers pass ``outer[1:]`` (skipping the closing-duplicate first point,
  centroid.go:190,203) — replicated exactly.
- ``compute_simple_polygon_centroid`` (centroid.go:100-145) — CGA FAQ 3.6
  interior point: convex vertex + shortest in-triangle diagonal midpoint;
  barycentric-coordinate triangle test (not robust, kept for parity).
- ``compute_centroid`` (centroid.go:162-217) — largest polygon by area,
  barycenter attempt, PIP validation, interior-point fallback, second
  PIP validation, else None (the square-with-hole → None case,
  centroid_test.go:74-83 — deliberately NOT "fixed").

GEOS Contains on the polygon-with-holes is the one exact kernel
(``kernels.poly.polygon_contains``) on the fixed-point grid: the
candidate point is rounded to degrees x 1e7, the vertices already lie
on it (interior only — boundary points do not count as contained,
matching GEOS Contains).
"""

from __future__ import annotations

from osm_spark.kernels.poly import grid_segments, polygon_contains, to_grid, xy_rings

FloatRing = list[list[float]]
FloatPolygon = list[FloatRing]  # ring 0 = outer, rest = holes
FloatMultiPolygon = list[FloatPolygon]


def _contains(poly: FloatPolygon, c: tuple[float, float]) -> bool:
    """GEOS-Contains analog: the candidate point, rounded to the grid,
    strictly inside the outer ring and outside every hole."""
    closed = [list(ring) + [ring[0]] for ring in poly]  # a repeated vertex is inert
    rings = grid_segments(xy_rings(closed))
    return bool(polygon_contains(rings, to_grid([c[0]]), to_grid([c[1]]))[0])


def ring_area(ring: FloatRing) -> float:
    """Absolute shoelace area (GEOS Area analog for a simple ring)."""
    a = 0.0
    n = len(ring)
    j = n - 1
    for i in range(n):
        a += ring[j][0] * ring[i][1] - ring[i][0] * ring[j][1]
        j = i
    return abs(a) / 2.0


def polygon_area(poly: FloatPolygon) -> float:
    if not poly:
        return 0.0
    return ring_area(poly[0]) - sum(ring_area(h) for h in poly[1:])


def _neighbour_vertices(ring_len: int, i: int) -> tuple[int, int]:
    ai = i - 1 if i > 0 else ring_len - 1
    bi = i + 1 if i < ring_len - 1 else 0
    return ai, bi


def find_convex_vertex(ring: FloatRing) -> int:
    """(centroid.go:65-78) — assumes outer-ring orientation; parity port."""
    l = len(ring)
    for i, v in enumerate(ring):
        ai, bi = _neighbour_vertices(l, i)
        a = ring[ai]
        b = ring[bi]
        crossp = (a[0] - v[0]) * (b[1] - v[1]) - (a[1] - v[1]) * (b[0] - v[0])
        if crossp >= 0:
            return i
    return -1


def _is_in_triangle(a, v, b, q) -> bool:
    """Barycentric test (centroid.go:80-87) — 'not robust', kept for parity.

    Degenerate (collinear) triangles: Go divides by 0.0 giving Inf/NaN
    whose range comparisons are false — replicate, don't raise."""
    d = (v[1] - b[1]) * (a[0] - b[0]) + (b[0] - v[0]) * (a[1] - b[1])
    if d == 0.0:
        return False
    x = ((v[1] - b[1]) * (q[0] - b[0]) + (b[0] - v[0]) * (q[1] - b[1])) / d
    y = ((b[1] - a[1]) * (q[0] - b[0]) + (a[0] - b[0]) * (q[1] - b[1])) / d
    z = 1 - x - y
    return 0 <= x <= 1 and 0 <= y <= 1 and 0 <= z <= 1


def compute_barycenter(ring: FloatRing) -> tuple[float, float]:
    cx = 0.0
    cy = 0.0
    for p in ring:
        cx += p[0]
        cy += p[1]
    return cx / len(ring), cy / len(ring)


class NoConvexVertexError(ValueError):
    pass


def compute_simple_polygon_centroid(ring: FloatRing) -> tuple[float, float]:
    """Interior point via convex vertex + shortest diagonal (centroid.go:100-145)."""
    vi = find_convex_vertex(ring)
    if vi < 0:
        raise NoConvexVertexError("cannot find convex vertex")
    ai, bi = _neighbour_vertices(len(ring), vi)
    a, v, b = ring[ai], ring[vi], ring[bi]

    q_index = -1
    q_dist = -1.0
    for i, q in enumerate(ring):
        if i in (ai, vi, bi):
            continue
        if not _is_in_triangle(a, v, b, q):
            continue
        dx = v[0] - q[0]
        dy = v[1] - q[1]
        d = dx * dx + dy * dy
        if q_dist < 0 or d < q_dist:
            q_dist = d
            q_index = i
    if q_index < 0:
        # Convex polygon: barycenter.
        return compute_barycenter(ring)
    q = ring[q_index]
    return (v[0] + q[0]) / 2, (v[1] + q[1]) / 2


def compute_centroid(coords: FloatMultiPolygon) -> tuple[float, float] | None:
    """Largest-polygon centroid with PIP validation (centroid.go:162-217).

    Returns (lon, lat) or None (barycenter and fallback both outside)."""
    max_area = 0.0
    max_poly = -1
    for i, poly in enumerate(coords):
        area = polygon_area(poly)
        if area > max_area:
            max_area = area
            max_poly = i
    if max_poly < 0:
        return None
    poly = coords[max_poly]
    if not poly:
        raise ValueError("invalid empty polygon")
    outer = poly[0]

    # Cheap attempt with barycenter over outer[1:] (skip closing dup).
    c = compute_barycenter(outer[1:])
    if _contains(poly, c):
        return c

    c = compute_simple_polygon_centroid(outer[1:])
    # Works for non-convex polygons but not always with holes.
    if not _contains(poly, c):
        return None
    return c
