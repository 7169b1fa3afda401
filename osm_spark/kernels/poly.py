"""Polygon construction from rings: inclusion matrix → DAG → trees → holes.

Semantics parity with /root/reference/poly.go:
- ``compute_inclusion`` (poly.go:11-38): pairwise containment matrix with
  the equal-shape cancellation rule (mutually-containing rings cancel).
- ``make_inclusion_graph`` / ``make_inclusion_tree`` (poly.go:48-130):
  DAG of containment edges, pruned to a tree by keeping the parent on the
  longest chain from each root; cycles are an error.
- ``trees_to_polygons`` (poly.go:194-214): root=outer, children=holes,
  grandchildren recurse as new roots (islands-in-lakes).

GEOS is replaced by exact integer geometry: ``Contains`` becomes a
vertex-containment test (every vertex of the inner ring inside-or-on the
outer polygon, with at least one strictly inside unless the shapes are
equal), which matches GEOS on the admin-boundary domain where rings nest
or are disjoint but never partially overlap (the reference itself assumes
this — poly.go:237 "TODO: check polygons do not intersect").

This module also holds the engine's ONE point-in-polygon kernel, used by
every caller (ring nesting here, the one PIP boundary refine that the
index, catalyst and streaming paths share, centroid validation,
covering, polygon overlap):
``orient`` (orientation sign, float64 filter with Shewchuk's error bound
plus a Python-int recheck), ``edge_hits`` (the per (point, edge) crossing
and on-edge rule), ``locate`` (inside / on / outside per point for one
ring, vectorized over points) and ``polygon_contains`` (strict:
inside the outer ring, outside every hole, on no ring). It works on the
integer grid, degrees x 1e7.

``Buffer(0)`` repair (poly.go:160-177) has no pure-python equivalent; the
engine instead *validates* rings at assembly time (rings.is_valid_ring)
and passes valid rings through unchanged, which is behavior-identical for
valid inputs (buffer(0) is the identity on valid polygons up to ring
orientation/start-point normalization, which winding.py re-normalizes).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from osm_spark.kernels.rings import Linestring, Point, orient_exact


class Ring:
    """A closed ring with cached numpy arrays + shoelace area."""

    __slots__ = ("points", "role", "xs", "ys", "area2", "bbox", "_pset", "_segs")

    def __init__(self, points: list[Point], role: str = "") -> None:
        if len(points) < 4 or points[0] != points[-1]:
            raise ValueError("not a closed ring")
        self.points = points
        self.role = role
        pts = np.asarray(points, dtype=np.int64)
        self.xs = pts[:, 0].astype(np.float64)
        self.ys = pts[:, 1].astype(np.float64)
        # Twice the signed shoelace area, in fixed-point units (float64 —
        # only used for comparisons/argmax, not output coordinates).
        x, y = self.xs, self.ys
        self.area2 = float(np.sum((x[:-1] - x[1:]) * (y[:-1] + y[1:])))
        self.bbox = (
            int(pts[:, 0].min()),
            int(pts[:, 1].min()),
            int(pts[:, 0].max()),
            int(pts[:, 1].max()),
        )
        self._pset: frozenset | None = None
        self._segs: Segs | None = None

    @property
    def segs(self) -> "Segs":
        if self._segs is None:
            self._segs = ring_segments(self.xs, self.ys)
        return self._segs

    @property
    def point_set(self) -> frozenset:
        if self._pset is None:
            self._pset = frozenset(self.points)
        return self._pset

    def abs_area2(self) -> float:
        return abs(self.area2)


# Fixed-point grid of the exact kernel: degrees x 1e7, the node
# coordinates' own units. Pages (degrees x 1e6) land on it exactly as
# lon_u * 10; every grid value is an integer held exactly in float64.
GRID = 1e7

# Max elements of any dense (points x segments) intermediate inside
# ``locate`` -- ~32 MB of float64 per temporary. Bounds executor memory
# regardless of polygon vertex count or Arrow batch size.
TILE_ELEMS = 4 * 1024 * 1024

# Shewchuk's orient2d static filter (ccwerrboundA): a float64 orientation
# whose magnitude exceeds this times (|left product| + |right product|)
# has the exact sign (https://www.cs.cmu.edu/~quake/robust.html).
_EPS = 2.0**-53
_CCW_ERRBOUND_A = (3.0 + 16.0 * _EPS) * _EPS


def to_grid(deg) -> np.ndarray:
    """Degrees -> grid units (float64 holding exact integers)."""
    return np.rint(np.asarray(deg, dtype=np.float64) * GRID)


def orient(ax, ay, bx, by, px, py, errbound=None) -> np.ndarray:
    """(b - a) x (p - a) over broadcast float64 arrays of grid integers:
    > 0 when p is left of a->b, 0 on the line. The sign is exact.

    The float64 value is trusted beyond Shewchuk's bound: per entry, or
    the caller's scalar ``errbound`` (ccwerrboundA times a bound on
    |left| + |right| that holds for every entry).
    A scalar bound below 1 settles every entry at once: no integer
    crosses zero by less than 1, and equal exact products round to
    equal floats. Inside the bound the float sign is still exact when a
    product is 0 or the two differ in sign (so axis-aligned edges never
    leave numpy); the rest are recomputed with Python ints.
    """
    left = (bx - ax) * (py - ay)
    right = (by - ay) * (px - ax)
    det = left - right
    if errbound is None:
        errbound = _CCW_ERRBOUND_A * (np.abs(left) + np.abs(right))
    elif errbound < 1.0:
        return det
    amb = np.abs(det) <= errbound
    if amb.any():
        idx = np.nonzero(amb)
        need = left[idx] * right[idx] > 0
        if need.any():
            sel = tuple(i[need] for i in idx)
            args = [
                np.broadcast_to(v, det.shape)[sel].astype(np.int64).tolist()
                for v in (ax, ay, bx, by, px, py)
            ]
            det[sel] = [orient_exact(*a) for a in zip(*args)]
    return det


class Segs(NamedTuple):
    """Edge table of one closed ring in grid units. ``edges`` rows:
    x1, y1, x2, y2, then the edge bboxes minx, maxx, miny, maxy (one
    array, so slicing it is one gather). Plus the ring bbox and the
    longest edge extent per axis."""

    edges: np.ndarray
    bbox: tuple[float, float, float, float]
    dmax: tuple[float, float]


def ring_segments(xs: np.ndarray, ys: np.ndarray) -> Segs:
    """Edge table of a closed ring given as grid-unit vertex arrays."""
    x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
    return Segs(
        np.stack([
            x1, y1, x2, y2,
            np.minimum(x1, x2), np.maximum(x1, x2),
            np.minimum(y1, y2), np.maximum(y1, y2),
        ]),
        (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())),
        (float(np.abs(x2 - x1).max(initial=0.0)), float(np.abs(y2 - y1).max(initial=0.0))),
    )


def xy_rings(poly) -> list[tuple[np.ndarray, np.ndarray]]:
    """Rings as point lists [[x, y], ...] -> [(xs, ys)] float64 arrays."""
    return [
        (
            np.asarray([p[0] for p in ring], dtype=np.float64),
            np.asarray([p[1] for p in ring], dtype=np.float64),
        )
        for ring in poly
    ]


def grid_segments(rings) -> list[Segs]:
    """Edge tables of a polygon given as degree rings [(xs, ys), ...]."""
    return [ring_segments(to_grid(xs), to_grid(ys)) for xs, ys in rings]


def edge_hits(e, px, py, errbound=None) -> tuple[np.ndarray, np.ndarray]:
    """The crossing-number rule for (point, edge) pairs: ``e`` holds
    the eight ``Segs.edges`` rows, broadcast against the grid points
    ``px``, ``py`` (a dense points x edges tile, or flat aligned
    pairs). Returns two bool arrays of the broadcast shape: the +x ray
    from p crosses the edge (half-open in y, so a vertex is counted
    once), and p lies on the edge.

    An edge yields neither unless ``miny <= py <= maxy`` and
    ``maxx >= px``, so a caller may hand in any superset of the edges
    that can matter. ``errbound`` forwards to ``orient``.
    """
    x1, y1, x2, y2, minx, maxx, miny, maxy = e
    det = orient(x1, y1, x2, y2, px, py, errbound)
    # A straddling edge runs upward iff its end is above p; the +x ray
    # crosses it iff p is left of it going up, right of it going down.
    up = y2 > py
    crosses = ((y1 > py) != up) & ((det > 0) == up)
    on = det == 0
    idx = on.nonzero()
    if len(idx[0]):
        hx, hy, lx, hix, ly, hiy = (
            np.broadcast_to(v, det.shape)[idx] for v in (px, py, minx, maxx, miny, maxy)
        )
        on[idx] = (lx <= hx) & (hx <= hix) & (ly <= hy) & (hy <= hiy)
    return crosses, on


def locate(segs: Segs, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Exact crossing-number PIP of grid points against one ring:
    int8 per point, 1 = inside, 0 = on the ring, -1 = outside.

    Edges are first SLICED to the point group's extent (``edge_hits``:
    the others contribute nothing to any of its points), then the
    dense (points x edges) work is TILED under ``TILE_ELEMS``. Both PIP
    paths refine their boundary candidates through ``edge_hits`` on
    flat (point, edge) pairs instead, with per-cell edge slices built
    ahead of time (``spatial.pip_index.refine``).
    """
    n = len(px)
    if n == 0:
        return np.empty(0, dtype=np.int8)
    if n == 1:  # single-point callers: covering centre test, centroids
        x_lo = x_hi = px[0]
        y_lo = y_hi = py[0]
    else:
        x_lo, x_hi, y_lo, y_hi = px.min(), px.max(), py.min(), py.max()
    e = segs.edges
    sel = ((e[6] <= y_hi) & (e[7] >= y_lo) & (e[5] >= x_lo)).nonzero()[0]
    if len(sel) == 0:
        return np.full(n, -1, dtype=np.int8)
    e = e[:, sel]
    # One bound for the group: |p - a| never exceeds the span of the
    # group's and the ring's boxes together.
    bx0, by0, bx1, by1 = segs.bbox
    errbound = _CCW_ERRBOUND_A * (
        segs.dmax[0] * (max(y_hi, by1) - min(y_lo, by0))
        + segs.dmax[1] * (max(x_hi, bx1) - min(x_lo, bx0))
    )
    n_s = len(sel)
    s_tile = min(n_s, TILE_ELEMS)
    p_tile = max(1, TILE_ELEMS // s_tile)
    out = np.empty(n, dtype=np.int8)
    for i in range(0, n, p_tile):
        qx = px[i : i + p_tile, None]
        qy = py[i : i + p_tile, None]
        crossings, on = 0, False
        for j in range(0, n_s, s_tile):
            c, o = edge_hits(e[:, None, j : j + s_tile], qx, qy, errbound)
            crossings = crossings + c.sum(axis=1)
            on = on | o.any(axis=1)
        out[i : i + p_tile] = np.where(on, np.int8(0), np.where(crossings & 1, np.int8(1), np.int8(-1)))
    return out


def polygon_contains(rings: list[Segs], px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Strict containment (GEOS Contains for a point): inside the outer
    ring (``rings[0]``), outside every hole, on no ring."""
    inside = locate(rings[0], px, py) > 0
    for hole in rings[1:]:
        cand = inside.nonzero()[0]
        if len(cand) == 0:
            break
        inside[cand] = locate(hole, px[cand], py[cand]) < 0
    return inside


def point_in_ring(ring: Ring, px: int, py: int) -> int:
    """1 = inside, 0 = on the ring, -1 = outside (``locate`` on one point)."""
    return int(locate(ring.segs, np.array([float(px)]), np.array([float(py)]))[0])


def ring_contains(outer: Ring, inner: Ring) -> bool:
    """GEOS-Contains analog on nested-or-disjoint rings.

    True iff every inner vertex is inside-or-on outer AND at least one is
    strictly inside. Equal shapes (same point set) contain each other,
    matching GEOS Contains(g, g) == true, and are cancelled by the caller
    (poly.go:28-36).
    """
    obx0, oby0, obx1, oby1 = outer.bbox
    ibx0, iby0, ibx1, iby1 = inner.bbox
    if ibx0 < obx0 or iby0 < oby0 or ibx1 > obx1 or iby1 > oby1:
        return False
    if inner.point_set == outer.point_set:
        return True
    loc = locate(outer.segs, inner.xs[:-1], inner.ys[:-1])
    return bool((loc > 0).any()) and not bool((loc < 0).any())


def compute_inclusion(rings: list[Ring]) -> list[list[bool]]:
    """Inclusion matrix h[i][j] = rings[i] contains rings[j] (poly.go:11-38)."""
    n = len(rings)
    h = [[False] * n for _ in range(n)]
    for i, outer in enumerate(rings):
        for j, inner in enumerate(rings):
            if i != j and ring_contains(outer, inner):
                h[i][j] = True
    # Exact shapes do not contain themselves (mutual cancellation).
    for i in range(n):
        for j in range(n):
            if h[i][j] and h[j][i]:
                h[i][j] = False
                h[j][i] = False
    return h


class InclusionNode:
    __slots__ = ("id", "ring", "children")

    def __init__(self, id: int, ring: Ring) -> None:
        self.id = id
        self.ring = ring
        self.children: list["InclusionNode"] = []


def make_inclusion_graph(
    contains: list[list[bool]], rings: list[Ring]
) -> dict[int, InclusionNode]:
    """(id -> node) map of the inclusion DAG (poly.go:48-75)."""
    nodes: dict[int, InclusionNode] = {}
    for i, row in enumerate(contains):
        n = nodes.get(i)
        if n is None:
            n = InclusionNode(i, rings[i])
            nodes[i] = n
        for j, ok in enumerate(row):
            if not ok:
                continue
            c = nodes.get(j)
            if c is None:
                c = InclusionNode(j, rings[j])
                nodes[j] = c
            n.children.append(c)
    return nodes


class CycleError(ValueError):
    pass


def make_inclusion_tree(root: InclusionNode) -> None:
    """DAG → tree keeping longest chains; cycle = error (poly.go:78-130)."""
    parents: dict[int, tuple[int, int]] = {}  # child id -> (parent id, weight)
    seen: dict[int, bool] = {}

    def traverse(n: InclusionNode, weight: int) -> None:
        if n.id in seen:
            raise CycleError("cycle detected")
        seen[n.id] = True
        for c in n.children:
            p = parents.get(c.id)
            if p is None or p[1] < weight:
                parents[c.id] = (n.id, weight)
            traverse(c, weight + 1)
        del seen[n.id]

    traverse(root, 0)

    def filter_(n: InclusionNode) -> None:
        kept = []
        for c in n.children:
            if parents.get(c.id, (None,))[0] == n.id:
                kept.append(c)
            filter_(c)
        n.children = kept

    filter_(root)


def make_inclusion_trees(rings: list[Ring]) -> list[InclusionNode]:
    """Roots = rings that are nobody's child (poly.go:132-158)."""
    h = compute_inclusion(rings)
    graph = make_inclusion_graph(h, rings)
    children: set[int] = set()
    for n in graph.values():
        for c in n.children:
            children.add(c.id)
    roots: list[InclusionNode] = []
    for idx in range(len(h)):
        if idx in children:
            continue
        n = graph[idx]
        make_inclusion_tree(n)
        roots.append(n)
    return roots


Polygon = tuple[Ring, list[Ring]]  # (outer, holes)


def trees_to_polygons(roots: list[InclusionNode]) -> list[Polygon]:
    """Alternating-depth walk: outer, holes, islands recurse (poly.go:194-214).

    Unlike the reference we keep (outer, holes) ring structure instead of
    a GEOS Difference — hole subtraction is representational in GeoJSON
    (outer ring + inner rings), so no boolean op is needed; the rings are
    the reference's own Difference inputs.
    """
    polygons: list[Polygon] = []
    stack = list(roots)
    while stack:
        root = stack.pop()
        holes: list[Ring] = []
        for c in root.children:
            holes.append(c.ring)
            for cc in c.children:
                stack.append(cc)
        polygons.append((root.ring, holes))
    return polygons


def make_polygons(rings: list[Linestring]) -> list[Polygon]:
    """Rings → nested polygons (poly.go:223-239)."""
    rs = [Ring(r.points, r.role) for r in rings]
    trees = make_inclusion_trees(rs)
    return trees_to_polygons(trees)


def polygon_area2(poly: Polygon) -> float:
    """Twice the absolute area of outer minus holes (for argmax selection)."""
    outer, holes = poly
    return outer.abs_area2() - sum(h.abs_area2() for h in holes)


def point_in_polygon(poly: Polygon, px: int, py: int) -> bool:
    """Strict GEOS-Contains analog for a point: inside outer, outside all
    holes (boundary counts as not-contained, like GEOS Contains)."""
    outer, holes = poly
    rings = [outer.segs] + [h.segs for h in holes]
    return bool(polygon_contains(rings, np.array([float(px)]), np.array([float(py)]))[0])
