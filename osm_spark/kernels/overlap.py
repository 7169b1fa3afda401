"""Exact multipolygon-pair classification — the verdict kernel of the
polygon-overlap spatial join (spatial/overlap.py).

Classifies a candidate pair (A, B) of multipolygons as one of

    "equal"         identical outline point sets (ring multisets match)
    "overlap"       interiors intersect, neither contains the other
    "a_contains_b"  B's interior ⊆ A's interior (closure)
    "b_contains_a"  symmetric
    None            disjoint interiors (includes boundary-only touch —
                    shared admin borders are NOT overlaps)

All predicates are EXACT: coordinates are the fixed-point integers the
assembly stage produced (degrees·10⁷ — recovered exactly from the
stored doubles by rounding), and every orientation sign and point
location comes from the one exact kernel in ``kernels.poly``
(``orient`` / ``locate``: float64 filter, Python-int recheck), so no
epsilon can flip a shared-border dept pair into an overlap.

Decision procedure (each step exact; coordinates are doubled once at
compile time so edge midpoints stay integral):

1. ring point-set multisets equal → "equal".
2. any PROPER segment crossing between outlines → "overlap"
   (collinear overlaps and endpoint touches are not proper — shared
   borders fall through).
3. mixed vertex votes: any single ring of one side with vertices both
   strictly inside and strictly outside the other's interior →
   "overlap" (T-vertex entries that cross without a proper crossing).
4. per-PART interior verdict: each part's interior is wholly inside or
   wholly outside the other's interior (no crossings + no mixed votes
   ⇒ one side). Decided by the part's first strict vertex vote, else
   by an exact edge-midpoint probe: a midpoint off the other's
   boundary resolves by PIP; a midpoint ON a collinear boundary edge
   resolves by the interior-side rule (interiors lie left of CCW
   travel — each ring's own shoelace sign orients it), which is what
   settles boundary-identical containment (a multipolygon containing
   an exact copy of one of its parts).
5. hole-poke demotion: "all B parts inside A" is refuted when a hole
   ring of A has a vertex strictly inside B (the hole's interior is
   not A's interior — the filled-outer-vs-annulus case).
6. classification: both all-in → "equal" (interior equality);
   one-sided all-in → containment; any-in without all-in →
   "overlap" (a multipart straddling the other); else None.

Limitation (documented, not hit by valid admin data): boundary
weaving with no strict vertex, no proper crossing AND no resolvable
midpoint (degenerate vertex-free interleaving) classifies as None;
resolving it requires full intersection construction, out of scope.
"""

from __future__ import annotations

import numpy as np

from osm_spark.kernels.poly import Ring, locate, orient

IntMultiPoly = list[list[list[list[int]]]]  # polys -> rings -> pts -> xy


class _MP:
    """Compiled multipolygon: Ring objects + flat segment arrays.
    Coordinates are DOUBLED so edge midpoints are exact integers."""

    __slots__ = ("polys", "x1", "y1", "x2", "y2", "bbox")

    def __init__(self, mp: IntMultiPoly) -> None:
        self.polys = [
            [
                Ring([(2 * int(p[0]), 2 * int(p[1])) for p in ring])
                for ring in poly
            ]
            for poly in mp
        ]
        xs1, ys1, xs2, ys2 = [], [], [], []
        for poly in self.polys:
            for r in poly:
                xs1.append(r.xs[:-1]); ys1.append(r.ys[:-1])
                xs2.append(r.xs[1:]); ys2.append(r.ys[1:])
        self.x1 = np.concatenate(xs1); self.y1 = np.concatenate(ys1)
        self.x2 = np.concatenate(xs2); self.y2 = np.concatenate(ys2)
        self.bbox = (
            min(r.bbox[0] for p in self.polys for r in p),
            min(r.bbox[1] for p in self.polys for r in p),
            max(r.bbox[2] for p in self.polys for r in p),
            max(r.bbox[3] for p in self.polys for r in p),
        )

    def rings(self):
        for poly in self.polys:
            yield from poly

    def ring_multiset(self) -> frozenset:
        # multiset-as-counter of per-ring point sets
        from collections import Counter

        return frozenset(Counter(r.point_set for r in self.rings()).items())


def point_in_multipoly(mp: _MP, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Per point: 1 = strictly inside the interior, 0 = on any ring,
    -1 = outside. Holes subtract: strictly inside a hole is outside; on
    a hole ring is boundary."""
    strict = np.zeros(len(px), dtype=bool)
    on = np.zeros(len(px), dtype=bool)
    for poly in mp.polys:
        loc = locate(poly[0].segs, px, py)
        on |= loc == 0
        ins = loc > 0
        for hole in poly[1:]:
            h = locate(hole.segs, px, py)
            on |= ins & (h == 0)
            ins &= h < 0
        strict |= ins
    return np.where(strict, 1, np.where(on, 0, -1))


def _proper_crossing(a: _MP, b: _MP) -> bool:
    """Any strict segment crossing between the outlines (exact
    orientation signs from ``kernels.poly.orient``)."""
    bx1, by1, bx2, by2 = b.x1, b.y1, b.x2, b.y2
    bminx, bmaxx = np.minimum(bx1, bx2), np.maximum(bx1, bx2)
    bminy, bmaxy = np.minimum(by1, by2), np.maximum(by1, by2)
    n_a = len(a.x1)
    for i in range(n_a):
        ax1, ay1, ax2, ay2 = a.x1[i], a.y1[i], a.x2[i], a.y2[i]
        # bbox prefilter
        cand = (
            (np.minimum(ax1, ax2) <= bmaxx)
            & (np.maximum(ax1, ax2) >= bminx)
            & (np.minimum(ay1, ay2) <= bmaxy)
            & (np.maximum(ay1, ay2) >= bminy)
        )
        if not bool(cand.any()):
            continue
        idx = np.nonzero(cand)[0]
        cx1, cy1, cx2, cy2 = bx1[idx], by1[idx], bx2[idx], by2[idx]
        # orientations of b-endpoints vs segment a, and vice versa
        d1 = orient(ax1, ay1, ax2, ay2, cx1, cy1)
        d2 = orient(ax1, ay1, ax2, ay2, cx2, cy2)
        d3 = orient(cx1, cy1, cx2, cy2, ax1, ay1)
        d4 = orient(cx1, cy1, cx2, cy2, ax2, ay2)
        if bool(((d1 * d2 < 0) & (d3 * d4 < 0)).any()):
            return True
    return False


def _interior_left(ring: Ring, is_outer: bool) -> bool:
    """Is the POLYGON interior on the left of this ring's travel
    direction?  Outer: left iff CCW (positive shoelace). Hole: the
    polygon interior is outside the hole's enclosed region — left iff
    the hole is CW."""
    ccw = ring.area2 > 0
    return ccw if is_outer else not ccw


def _collinear_edge_verdict(
    ax: int, ay: int, bx: int, by: int, left_p: bool, q: _MP, mx: int, my: int
) -> int:
    """Midpoint m of p-edge (a→b) lies ON q's boundary. If a collinear
    q-edge contains m, decide by the interior-side rule: the sample
    just left/right of the p-edge (per ``left_p``) is inside q iff its
    side relative to the q-edge matches q's interior side. Returns
    1 / -1, or 0 if only non-collinear q-edges pass through m
    (point-touch — ambiguous here, caller probes another edge)."""
    dpx, dpy = bx - ax, by - ay
    for poly in q.polys:
        for ri, ring in enumerate(poly):
            pts = ring.points
            o = orient(ring.xs[:-1], ring.ys[:-1], ring.xs[1:], ring.ys[1:], float(mx), float(my))
            # m on segment (c,d)?
            for i in np.flatnonzero(o == 0).tolist():
                cx, cy = pts[i]
                dx, dy = pts[i + 1]
                if not (
                    min(cx, dx) <= mx <= max(cx, dx)
                    and min(cy, dy) <= my <= max(cy, dy)
                ):
                    continue
                dqx, dqy = dx - cx, dy - cy
                if dpx * dqy - dpy * dqx != 0:
                    continue  # passes through m but not collinear
                same_dir = (dpx * dqx + dpy * dqy) > 0
                left_q = _interior_left(ring, ri == 0)
                sample_left_of_q = left_p if same_dir else not left_p
                return 1 if sample_left_of_q == left_q else -1
    return 0


def _part_verdict(poly: list[Ring], q: _MP) -> int:
    """Is this part's interior inside (1) or outside (-1) q's
    interior?  2 = vertices strictly on BOTH sides (true overlap),
    0 = undecidable (degenerate vertex-free weaving — documented).

    Valid only when no proper crossing exists between the outlines
    (the caller established that), so the part's interior lies
    entirely on one side."""
    inside = outside = 0
    for ring in poly:
        r = point_in_multipoly(q, ring.xs[:-1], ring.ys[:-1])
        inside += int((r > 0).sum())
        outside += int((r < 0).sum())
        if inside and outside:
            return 2
    if inside:
        return 1
    if outside:
        return -1
    # Every vertex sits ON q's boundary: probe edge midpoints (exact —
    # coordinates were doubled at compile time).
    for ri, ring in enumerate(poly):
        left_p = _interior_left(ring, ri == 0)
        pts = ring.points
        mid = point_in_multipoly(
            q, (ring.xs[:-1] + ring.xs[1:]) / 2, (ring.ys[:-1] + ring.ys[1:]) / 2
        )
        for i in range(len(pts) - 1):
            if mid[i] != 0:
                return int(mid[i])
            ax, ay = pts[i]
            bx, by = pts[i + 1]
            mx, my = (ax + bx) // 2, (ay + by) // 2
            v = _collinear_edge_verdict(ax, ay, bx, by, left_p, q, mx, my)
            if v != 0:
                return v
    return 0


def _hole_pokes(container: _MP, region: _MP) -> bool:
    """Does a hole ring of ``container`` reach strictly into
    ``region``'s interior?  (If so, region ⊄ container: part of the
    region's interior falls into the container's hole.)"""
    for poly in container.polys:
        for hole in poly[1:]:
            if (point_in_multipoly(region, hole.xs[:-1], hole.ys[:-1]) > 0).any():
                return True
    return False


def classify_pair(mp_a: IntMultiPoly, mp_b: IntMultiPoly) -> str | None:
    a, b = _MP(mp_a), _MP(mp_b)
    # disjoint bboxes: cheap exit (cell-candidate pairs can still miss)
    if (
        a.bbox[2] < b.bbox[0]
        or b.bbox[2] < a.bbox[0]
        or a.bbox[3] < b.bbox[1]
        or b.bbox[3] < a.bbox[1]
    ):
        return None
    if a.ring_multiset() == b.ring_multiset():
        return "equal"
    if _proper_crossing(a, b):
        return "overlap"
    b_verdicts = [_part_verdict(p, a) for p in b.polys]
    a_verdicts = [_part_verdict(p, b) for p in a.polys]
    if 2 in b_verdicts or 2 in a_verdicts:
        return "overlap"
    b_all_in = all(v == 1 for v in b_verdicts) and not _hole_pokes(a, b)
    a_all_in = all(v == 1 for v in a_verdicts) and not _hole_pokes(b, a)
    if b_all_in and a_all_in:
        return "equal"
    if b_all_in:
        return "a_contains_b"
    if a_all_in:
        return "b_contains_a"
    if 1 in b_verdicts or 1 in a_verdicts:
        return "overlap"
    return None
