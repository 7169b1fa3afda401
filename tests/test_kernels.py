"""Kernel unit tests — exact vectors ported from /root/reference/*_test.go.

Pure-Python (no Spark) so they run in milliseconds; see FIXTURES.md §2.
"""

from __future__ import annotations

import pytest

from osm_spark.kernels.centroid import compute_centroid
from osm_spark.kernels.poly import (
    Ring,
    make_inclusion_trees,
    make_polygons,
    point_in_polygon,
)
from osm_spark.kernels.rings import Linestring, RingError, make_rings
from osm_spark.kernels.unionfind import UnionFind
from osm_spark.kernels.winding import is_clockwise, polygons_to_coords


# --- unionfind_test.go:5-46 --------------------------------------------------


def test_union_find():
    uf = UnionFind(5)
    assert [uf.find(i) for i in range(5)] == [0, 1, 2, 3, 4]
    uf.merge(1, 3)
    assert [uf.find(i) for i in range(5)] == [0, 1, 2, 1, 4]
    uf.merge(0, 2)
    assert [uf.find(i) for i in range(5)] == [0, 1, 0, 1, 4]
    uf.merge(2, 1)
    assert [uf.find(i) for i in range(5)] == [0, 0, 0, 0, 4]
    uf.merge(2, 4)
    assert [uf.find(i) for i in range(5)] == [0, 0, 0, 0, 0]


# --- geojson_test.go:12-55 (ring closing) ------------------------------------

POINTS = [
    (63157253, 495828250),
    (63393455, 495385894),
    (62918950, 495482440),
    (63122770, 495816200),
    (63249607, 495308781),
    (63553830, 495556220),
    (63391705, 495382442),
    (63425441, 495417741),
    (63396664, 495392000),
]


def make_segments(*indices: int) -> list[Linestring]:
    return [
        Linestring(i - 1, [POINTS[indices[i - 1]], POINTS[indices[i]]])
        for i in range(1, len(indices))
    ]


@pytest.mark.parametrize(
    "path",
    [
        (0, 1, 2, 0),
        (0, 1, 2, 4, 0),
        (0, 3, 2, 4, 6, 1, 8, 7, 5, 0),
    ],
)
def test_close_rings(path):
    rings = make_rings(make_segments(*path))
    assert len(rings) == 1
    assert rings[0].points[0] == rings[0].points[-1]


def test_close_rings_reversed_segments():
    # Reversing segments must still close (G1, ring.go:34-40).
    segs = make_segments(0, 1, 2, 4, 0)
    for s in segs[::2]:
        s.reverse()
    rings = make_rings(segs)
    assert len(rings) == 1


def test_open_chain_fails():
    segs = make_segments(0, 1, 2)  # open chain
    with pytest.raises(RingError, match="cannot close ring"):
        make_rings(segs)


# --- poly_test.go:90-159 (inclusion trees) ------------------------------------


def make_test_ring(points: list[tuple[int, int]]) -> Linestring:
    scaled = [(x * 10000, y * 10000) for (x, y) in points]
    if scaled[0] != scaled[-1]:
        scaled.append(scaled[0])
    return Linestring(0, scaled)


def print_trees(rings: list[Linestring]) -> str:
    rs = [Ring(r.points, r.role) for r in rings]
    out: list[str] = []

    def print_node(n, prefix=""):
        kids = "".join(f"{c.id} " for c in n.children)
        out.append(f"{prefix}{n.id}: [{kids}]")
        for c in n.children:
            print_node(c, prefix + "  ")

    for n in make_inclusion_trees(rs):
        print_node(n)
    return "\n".join(line.strip() for line in out)


def check_trees(rings, expected):
    exp = "\n".join(l.strip() for l in expected.strip().splitlines() if l.strip())
    assert print_trees(rings) == exp


def test_single_polygon():
    check_trees(
        [make_test_ring([(0, 0), (0, 1), (1, 1), (1, 0)])],
        "0: []",
    )


def test_full_inclusion():
    check_trees(
        [
            make_test_ring([(0, 0), (0, 3), (3, 3), (3, 0)]),
            make_test_ring([(1, 1), (1, 2), (2, 2), (2, 1)]),
        ],
        """
        0: [1 ]
        1: []
        """,
    )


def test_disjoint():
    check_trees(
        [
            make_test_ring([(0, 0), (0, 3), (3, 3), (3, 0)]),
            make_test_ring([(4, 4), (4, 5), (5, 5), (5, 4)]),
        ],
        """
        0: []
        1: []
        """,
    )


def test_island():
    check_trees(
        [
            make_test_ring([(0, 0), (0, 5), (5, 5), (5, 0)]),
            make_test_ring([(1, 1), (1, 4), (4, 4), (4, 1)]),
            make_test_ring([(2, 2), (2, 3), (3, 3), (3, 2)]),
        ],
        """
        0: [1 ]
        1: [2 ]
        2: []
        """,
    )


def test_hole_plus_island():
    check_trees(
        [
            make_test_ring([(0, 0), (0, 5), (7, 5), (7, 0)]),
            make_test_ring([(1, 1), (1, 4), (4, 4), (4, 1)]),
            make_test_ring([(2, 2), (2, 3), (3, 3), (3, 2)]),
            make_test_ring([(5, 2), (5, 3), (6, 3), (6, 2)]),
        ],
        """
        0: [1 3 ]
        1: [2 ]
        2: []
        3: []
        """,
    )


def test_equal_shapes_with_parent():
    check_trees(
        [
            make_test_ring([(1, 1), (1, 2), (2, 2), (2, 1)]),
            make_test_ring([(1, 1), (1, 2), (2, 2), (2, 1)]),
            make_test_ring([(0, 0), (0, 3), (3, 3), (3, 0)]),
        ],
        """
        2: [0 1 ]
        0: []
        1: []
        """,
    )


def test_equal_shapes_without_parent():
    check_trees(
        [
            make_test_ring([(1, 1), (1, 2), (2, 2), (2, 1)]),
            make_test_ring([(1, 1), (1, 2), (2, 2), (2, 1)]),
        ],
        """
        0: []
        1: []
        """,
    )


# --- centroid_test.go:22-84 ---------------------------------------------------


def test_centroid_square():
    coords = [[[[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]]]
    assert compute_centroid(coords) == (0.5, 0.5)


def test_centroid_horseshoe():
    coords = [
        [
            [
                [0, 0],
                [3, 0],
                [3, 3],
                [3, 2],
                [1, 2],
                [1, 1],
                [3, 1],
                [3, 0],
                [0, 0],
            ]
        ]
    ]
    assert compute_centroid(coords) == (2.125, 1.125)


def test_centroid_square_with_hole():
    coords = [
        [
            [[0, 0], [0, 3], [3, 3], [3, 0], [0, 0]],
            [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]],
        ]
    ]
    assert compute_centroid(coords) is None


# --- winding + hole nesting end-to-end ----------------------------------------


def test_polygons_and_winding():
    # Outer square with a hole containing an island (3-deep).
    rings = [
        make_test_ring([(0, 0), (0, 5), (5, 5), (5, 0)]),
        make_test_ring([(1, 1), (1, 4), (4, 4), (4, 1)]),
        make_test_ring([(2, 2), (2, 3), (3, 3), (3, 2)]),
    ]
    polys = make_polygons(rings)
    # Two polygons: outer-with-hole, island.
    assert len(polys) == 2
    shapes = polygons_to_coords(polys)
    for shape in shapes:
        assert not is_clockwise(shape[0])  # outer CCW
        for hole in shape[1:]:
            assert is_clockwise(hole)  # holes CW
    n_holes = sorted(len(s) - 1 for s in shapes)
    assert n_holes == [0, 1]


def test_point_in_polygon_with_hole():
    rings = [
        make_test_ring([(0, 0), (0, 5), (5, 5), (5, 0)]),
        make_test_ring([(1, 1), (1, 4), (4, 4), (4, 1)]),
    ]
    polys = make_polygons(rings)
    (poly,) = [p for p in polys if p[1]]
    s = 10000
    assert point_in_polygon(poly, int(0.5 * s), int(0.5 * s))  # in rim
    assert not point_in_polygon(poly, 2 * s, 2 * s)  # in hole
    assert not point_in_polygon(poly, 10 * s, 10 * s)  # outside
    assert not point_in_polygon(poly, 0, 0)  # on boundary


def test_point_in_ring_long_diagonal_edge_exact():
    """Lattice points whose exact cross product with a long diagonal
    edge is +-1..+-500 sit on the side that sign says: a float64
    cross product (~2^61 here) cannot tell them apart from the edge."""
    from osm_spark.kernels.poly import point_in_ring

    dx, dy = 1_790_000_003, 1_234_567_891
    ring = Ring([(0, 0), (dx, dy), (0, dy), (0, 0)])  # inside = left of the edge

    def egcd(a, b):
        if b == 0:
            return a, 1, 0
        g, x, y = egcd(b, a % b)
        return g, y, x - (a // b) * y

    g, u, v = egcd(dx, dy)
    assert g == 1
    bad = 0
    ks = list(range(1, 501, 5)) + list(range(-1, -501, -5))
    for k in ks:
        # the one lattice point with dx*y - dy*x == k and 0 <= x < dx
        m = -((-k * v) // dx)
        x, y = -k * v + m * dx, k * u + m * dy
        assert dx * y - dy * x == k and 0 < x < dx and 0 < y < dy
        bad += point_in_ring(ring, x, y) != (1 if k > 0 else -1)
    assert len(ks) == 200 and bad == 0


def test_split_pinched_ring():
    """G5 — buffer(0) analog for self-touching rings (poly.go:177)."""
    from osm_spark.kernels.rings import is_simple_ring, split_pinched_ring

    # Figure-8 pinched at (2,2): two square loops sharing one vertex.
    pinched = [
        (0, 0), (2, 0), (2, 2), (4, 2), (4, 4), (2, 4), (2, 2), (0, 2), (0, 0)
    ]
    assert not is_simple_ring(pinched)
    parts = split_pinched_ring(pinched)
    assert len(parts) == 2
    for p in parts:
        assert p[0] == p[-1] and len(p) >= 4 and is_simple_ring(p)
    sets = sorted(sorted(set(p)) for p in parts)
    assert [(2, 2), (2, 4), (4, 2), (4, 4)] in sets
    assert [(0, 0), (0, 2), (2, 0), (2, 2)] in sets

    # Bowtie (proper edge crossing, no repeated vertex): unchanged.
    bowtie = [(0, 0), (4, 4), (4, 0), (0, 4), (0, 0)]
    assert not is_simple_ring(bowtie)
    assert split_pinched_ring(bowtie) == [bowtie]

    # Spike loop (zero-area back-and-forth) dropped like buffer(0).
    spiked = [(0, 0), (4, 0), (2, 0), (4, 0), (4, 4), (0, 4), (0, 0)]
    # revisit of (4,0) forms the degenerate loop (4,0),(2,0),(4,0)
    parts = split_pinched_ring(spiked)
    assert [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)] in parts


def test_split_crossing_ring():
    """G5 completion (VERDICT r2 #5): snap-to-grid Buffer(0) analog for
    properly-crossing rings, pinned on the reference's own bowtie
    vector (geojson_test.go:43, quad of points 0,1,2,4)."""
    from osm_spark.kernels.rings import (
        _round_div,
        is_simple_ring,
        split_crossing_ring,
    )

    # Rounding rule: nearest integer, ties half away from zero.
    assert _round_div(5, 2) == 3 and _round_div(-5, 2) == -3
    assert _round_div(3, 2) == 2 and _round_div(-3, 2) == -2
    assert _round_div(7, 3) == 2 and _round_div(14, -7) == -2

    # Integer-crossing bowtie: exact split into two triangles at (2,2).
    bowtie = [(0, 0), (4, 4), (4, 0), (0, 4), (0, 0)]
    parts = split_crossing_ring(bowtie)
    assert len(parts) == 2
    assert all(is_simple_ring(p) for p in parts)
    assert all((2, 2) in p for p in parts)

    # The reference test's quad (geojson_test.go:13-22 points 0,1,2,4):
    # edges P1->P2 and P4->P0 properly cross at a NON-representable
    # rational point; the split must be deterministic and simple.
    quad = [
        (63157253, 495828250),
        (63393455, 495385894),
        (62918950, 495482440),
        (63249607, 495308781),
        (63157253, 495828250),
    ]
    assert not is_simple_ring(quad)
    parts = split_crossing_ring(quad)
    assert len(parts) == 2
    assert all(is_simple_ring(p) for p in parts)
    # Deterministic snap: both loops share the inserted grid vertex,
    # which is within half a cell of the exact rational crossing.
    shared = set(parts[0]) & set(parts[1])
    assert len(shared) == 1
    sx, sy = shared.pop()
    assert (sx, sy) not in quad
    # Exact rational crossing of P1->P2 x P4->P0 for the bound check.
    from fractions import Fraction

    a, b = quad[1], quad[2]
    c, d = quad[3], quad[4]
    rx, ry = b[0] - a[0], b[1] - a[1]
    sx_, sy_ = d[0] - c[0], d[1] - c[1]
    den = rx * sy_ - ry * sx_
    t = Fraction((c[0] - a[0]) * sy_ - (c[1] - a[1]) * sx_, den)
    ex, ey = a[0] + t * rx, a[1] + t * ry
    assert abs(Fraction(sx) - ex) <= Fraction(1, 2)
    assert abs(Fraction(sy) - ey) <= Fraction(1, 2)
    # Idempotent: already-simple output splits no further.
    for p in parts:
        assert split_crossing_ring(p) == [p]


def test_build_geometry_buffer0_paths():
    from osm_spark.operators.assembly import build_geometry

    # Pinched outer -> exactly repaired into 2 polygons + warning.
    pinched = make_test_ring(
        [(0, 0), (2, 0), (2, 2), (4, 2), (4, 4), (2, 4), (2, 2), (0, 2)]
    )
    polys, warns = build_geometry([pinched])
    assert len(polys) == 2
    assert len(warns) == 1 and "buffer(0) analog" in warns[0]

    # Bowtie -> split at the (exact-integer) crossing into 2 triangles
    # (VERDICT r2 #5; reference repairs via GEOS Buffer(0), poly.go:177
    # — we keep both lobes, ST_MakeValid semantics, documented).
    bowtie = make_test_ring([(0, 0), (4, 4), (4, 0), (0, 4)])
    polys, warns = build_geometry([bowtie])
    assert len(polys) == 2
    assert len(warns) == 1 and "self-crossing" in warns[0]

    # Pure spike removal (single-loop repair) is accepted (ADVICE r2 #2).
    spiked = make_test_ring([(0, 0), (2, 0), (3, 0), (2, 0), (2, 2), (0, 2)])
    polys, warns = build_geometry([spiked])
    assert len(polys) == 1
    assert len(warns) == 1 and "repaired" in warns[0]
    assert (30000, 0) not in set(polys[0][0].points)

    # Valid ring -> no warnings.
    ok = make_test_ring([(0, 0), (0, 5), (5, 5), (5, 0)])
    polys, warns = build_geometry([ok])
    assert len(polys) == 1 and warns == []


def test_build_geometry_crossing_mode_drop_minority_lobe():
    """ADVICE r3 #4 — strict GEOS Buffer(0) parity mode: an asymmetric
    bowtie keeps only the majority-wound lobe; the default mode keeps
    both (ST_MakeValid). The divergence class is pinned here."""
    from osm_spark.operators.assembly import _ring_signed_area2, build_geometry

    # Asymmetric bowtie: big lobe (area 8) + small lobe (area 2),
    # opposite windings, crossing exactly at (4,4)·scale.
    pts = [(0, 0), (8, 8), (8, 0), (0, 6)]
    bowtie = make_test_ring(pts)

    both, w_both = build_geometry([bowtie], crossing_mode="split")
    assert len(both) == 2

    one, w_one = build_geometry([bowtie], crossing_mode="drop-minority-lobe")
    assert len(one) == 1
    assert any("minority lobe" in w for w in w_one)
    # The survivor is the larger lobe, wound like the original's net sign.
    areas = sorted(abs(_ring_signed_area2(p[0].points)) for p in both)
    kept_area = abs(_ring_signed_area2(one[0][0].points))
    assert kept_area == areas[-1] > areas[0]

    # A symmetric bowtie (net area 0) keeps both lobes in either mode.
    sym = make_test_ring([(0, 0), (4, 4), (4, 0), (0, 4)])
    sym_drop, _ = build_geometry([sym], crossing_mode="drop-minority-lobe")
    assert len(sym_drop) == 2


def test_linestrings_to_json():
    """G14 — multiline debug encoder (ring.go:271-294)."""
    import json

    from osm_spark.kernels.rings import linestrings_to_json

    lines = [
        Linestring(1, [(-1770000000, -840000000), (-1690000000, -840000000)]),
        Linestring(2, [(12345678, -9876543), (0, 0)]),
    ]
    s = linestrings_to_json(lines)
    d = json.loads(s)
    assert d["type"] == "MultiLineString"
    assert d["coordinates"][0] == [[-177, -84], [-169, -84]]
    assert d["coordinates"][1] == [[1.2345678, -0.9876543], [0, 0]]
    # integral coords print Go-style without trailing .0
    assert '[-177,-84]' in s
