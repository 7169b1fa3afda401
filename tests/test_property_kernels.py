"""Property-based (hypothesis) pins for the session-2 pure kernels —
Spark-free randomized invariants that a fixed fixture can miss.

Each test pins a mathematical property the ORACLE equality can't
check by itself (oracles pin engine-vs-engine on one dataset; these
pin the algorithm's own contract over the input space)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from osm_spark.operators.skyline import skyline_np
from osm_spark.spatial.frechet import frechet_dp_np
from osm_spark.spatial.isolines import MS_TABLE, isolines_py

pts = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=150, deadline=None)
@given(pts, pts)
def test_frechet_axioms(a, b):
    A = np.asarray(a, dtype=np.int64)
    B = np.asarray(b, dtype=np.int64)
    dab = frechet_dp_np(A, B)
    # symmetry
    assert dab == frechet_dp_np(B, A)
    # identity
    assert frechet_dp_np(A, A) == 0
    # lower bound: endpoints are forcibly coupled
    d_start = int(((A[0] - B[0]) ** 2).sum())
    d_end = int(((A[-1] - B[-1]) ** 2).sum())
    assert dab >= max(d_start, d_end) or len(a) == 1 or len(b) == 1
    # upper bound: any coupling max ≥ DF; the diagonal-ish walk gives
    # max over the greedy pairing of index-proportional alignment
    n, m = len(A), len(B)
    walk = max(
        int(((A[min(i, n - 1)] - B[min(i, m - 1)]) ** 2).sum())
        for i in range(max(n, m))
    )
    assert dab <= walk


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_skyline_properties(rows):
    X = np.asarray(rows, dtype=np.int64)
    keep = skyline_np(X)
    assert keep.any()  # the front is never empty
    front = X[keep]
    out = X[~keep]
    # every kept row is non-dominated by ANY row
    for f in front:
        dom = (X >= f).all(axis=1) & (X > f).any(axis=1)
        assert not dom.any()
    # every dropped row is dominated by some kept row
    for o in out:
        dom = (front >= o).all(axis=1) & (front > o).any(axis=1)
        assert dom.any()
    # max on each single dimension always survives somewhere
    for d in range(X.shape[1]):
        assert front[:, d].max() == X[:, d].max() or (
            X[:, d] == X[:, d].max()
        ).sum() > 0  # ties: at least one max-row must be kept
        assert (front[:, d] == X[:, d].max()).any()


@settings(max_examples=120, deadline=None)
@given(
    st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=10),
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_isolines_topology(occ):
    segs = isolines_py(occ)
    # closed 1-manifold: every vertex has even degree (contours of a
    # binary field never dead-end)
    deg: dict[tuple, int] = {}
    for *_, x1, y1, x2, y2 in segs:
        for p in ((x1, y1), (x2, y2)):
            deg[p] = deg.get(p, 0) + 1
    assert all(v % 2 == 0 for v in deg.values())
    # segment count == Σ per-case table sizes (no case invents or
    # drops segments)
    blocks: dict[tuple, int] = {}
    for gx, gy in occ:
        for dx, dy, w in ((0, 0, 1), (1, 0, 2), (1, 1, 4), (0, 1, 8)):
            k = (gx - dx, gy - dy)
            blocks[k] = blocks.get(k, 0) | w
    want = sum(len(MS_TABLE.get(c, [])) for c in blocks.values())
    assert len(segs) == want


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_pip_tessellation_shared_diagonal_edges(data):
    """A grid rectangle cut into children by non-crossing diagonal
    polylines: a point strictly inside the parent and on no edge lands
    in exactly one child; a point on a shared edge lands in none."""
    from math import gcd

    from osm_spark.kernels.cells import cells_xy, point_to_cell, xy_to_cell
    from osm_spark.kernels.poly import GRID, polygon_contains, ring_segments
    from osm_spark.spatial.pip_index import PipIndex

    W = H = 64
    n_cuts = data.draw(st.integers(1, 3))
    inner = data.draw(st.lists(st.integers(1, W - 1), max_size=4, unique=True))
    bx = [0] + sorted(inner) + [W]
    # per breakpoint, sorted distinct heights: cut lines never cross
    cut_ys = [
        sorted(data.draw(st.lists(
            st.integers(1, H - 1), min_size=n_cuts, max_size=n_cuts, unique=True
        )))
        for _ in bx
    ]
    s = data.draw(st.integers(1, 25_000_000))  # grid units per template unit
    x0 = data.draw(st.integers(-1_800_000_000, 1_800_000_000 - s * W))
    y0 = data.draw(st.integers(-900_000_000, 900_000_000 - s * H))
    # Jitter (< half a template unit, order-preserving) makes the long
    # diagonal edges primitive, so lattice points crowd them closely.
    jit = st.integers(0, s // 2)
    gx = [x0] + [x0 + s * x + data.draw(jit) for x in bx[1:-1]] + [x0 + s * W]
    gy = [[y0 + s * y + data.draw(jit) for y in ys] for ys in cut_ys]

    def line(c):  # cut line c as grid points, left to right
        if c < 0:
            return [(x0, y0), (x0 + s * W, y0)]
        if c == n_cuts:
            return [(x0, y0 + s * H), (x0 + s * W, y0 + s * H)]
        return [(x, ys[c]) for x, ys in zip(gx, gy)]

    children, geom = [], {}
    for c in range(n_cuts + 1):
        pts = line(c - 1) + line(c)[::-1]
        pts.append(pts[0])
        a = np.asarray(pts, dtype=np.float64)
        children.append([ring_segments(a[:, 0], a[:, 1])])
        geom[(c, 0)] = [(a[:, 0] / GRID, a[:, 1] / GRID)]
    shared = [
        (p, q)
        for c in range(n_cuts)
        for p, q in zip(line(c)[:-1], line(c)[1:])
    ]

    def egcd(a, b):  # (u, v) with a*u + b*v == gcd(a, b), a, b >= 0
        if b == 0:
            return 1, 0
        u, v = egcd(b, a % b)
        return v, u - (a // b) * v

    probes = []
    for (ax, ay), (qx, qy) in shared:
        g = gcd(qx - ax, qy - ay)
        a, b = (qx - ax) // g, (qy - ay) // g  # primitive step, a > 0
        i = data.draw(st.integers(0, g))
        ex, ey = ax + i * a, ay + i * b
        probes += [(ex, ey), (ex, ey + 1), (ex, ey - 1)]
        # the lattice point near step i whose exact cross product with
        # the edge is k: float64 alone cannot place it
        u, v = egcd(a, abs(b))
        k = data.draw(st.sampled_from([-2, -1, 1, 2]))
        X, Y = -k * v * (1 if b >= 0 else -1), k * u
        m = i - X // a
        probes.append((ax + X + m * a, ay + Y + m * b))
    probes += data.draw(st.lists(
        st.tuples(
            st.integers(x0 + 1, x0 + s * W - 1), st.integers(y0 + 1, y0 + s * H - 1)
        ),
        max_size=20,
    ))
    probes = [
        (x, y) for x, y in probes
        if x0 < x < x0 + s * W and y0 < y < y0 + s * H
    ]
    if not probes:
        return

    def on_shared(x, y):
        return any(
            (qx - ax) * (y - ay) == (qy - ay) * (x - ax)
            and min(ax, qx) <= x <= max(ax, qx)
            and min(ay, qy) <= y <= max(ay, qy)
            for (ax, ay), (qx, qy) in shared
        )

    px = np.asarray([p[0] for p in probes], dtype=np.float64)
    py = np.asarray([p[1] for p in probes], dtype=np.float64)
    inside = np.stack([polygon_contains(rings, px, py) for rings in children])
    hits = inside.sum(axis=0)
    for (x, y), h in zip(probes, hits.tolist()):
        assert h == (0 if on_shared(x, y) else 1), (x, y)

    # The same probes through the PIP index's batch path, every cell of
    # the parent's box refined, at a level drawn per example (at most
    # ~32 cells across the box).
    level = min(data.draw(st.integers(2, 12)), int(np.log2(32 * 3.6e9 / (s * W))))
    lo = point_to_cell(np.array([x0 / GRID]), np.array([y0 / GRID]), level)
    hi = point_to_cell(np.array([(x0 + s * W) / GRID]), np.array([(y0 + s * H) / GRID]), level)
    (ax, bx), (ay, by) = cells_xy(np.concatenate([lo, hi]))
    cx, cy = np.meshgrid(np.arange(ax, bx + 1), np.arange(ay, by + 1))
    box = xy_to_cell(cx.ravel(), cy.ravel(), level)
    k = len(box)
    idx = PipIndex.from_cells(
        np.tile(box, len(geom)), np.repeat(np.arange(len(geom)), k),
        np.zeros(k * len(geom), dtype=np.int64), np.zeros(k * len(geom), dtype=bool), geom,
    )
    pt, rel, _poly = idx.join(px / GRID, py / GRID)
    joined = np.zeros_like(inside)
    joined[rel, pt] = True
    np.testing.assert_array_equal(joined, inside)
