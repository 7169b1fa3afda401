"""Scale-robustness of the exact PIP kernels (VERDICT r2 #1):
memory-bounded tiling + bbox segment slicing must be bit-identical to
the unbounded dense kernel, and a high-vertex (coastline-class) polygon
must refine under a fixed memory budget instead of materializing
(points × all-segments) matrices. The index's batch path
(``PipIndex.join``: flat (point, edge) pairs over per-cell edge slices)
and the catalyst path's row-local refine (each candidate row on the
slice the covering pass stored for its cell) must give the per-polygon
kernel's rows exactly.
"""

import tracemalloc

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_spark.kernels import poly
from osm_spark.kernels.cells import cells_xy, cover_polygon, point_to_cell, xy_to_cell
from osm_spark.spatial import pip_index as P
from osm_spark.spatial.pip_join import refine_candidates


def _star_ring(n, r0, r1, cx=0.0, cy=0.0):
    th = np.linspace(0, 2 * np.pi, n, endpoint=False)
    r = np.where(np.arange(n) % 2 == 0, r1, r0)
    xs = np.append(cx + r * np.cos(th), cx + r[0] * np.cos(th[0]))
    ys = np.append(cy + r * np.sin(th), cy + r[0] * np.sin(th[0]))
    return xs, ys


def _brute_contains(rings, lons, lats):
    """The round-1 unbounded dense kernel, kept verbatim as the oracle."""
    inside = np.zeros(len(lons), dtype=bool)
    on_edge = np.zeros(len(lons), dtype=bool)
    px, py = lons[:, None], lats[:, None]
    for ring_idx, (xs, ys) in enumerate(rings):
        x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
        dx, dy = x2 - x1, y2 - y1
        cross = dx[None, :] * (py - y1[None, :]) - dy[None, :] * (px - x1[None, :])
        on = (
            (cross == 0.0)
            & (np.minimum(x1, x2)[None, :] <= px)
            & (px <= np.maximum(x1, x2)[None, :])
            & (np.minimum(y1, y2)[None, :] <= py)
            & (py <= np.maximum(y1, y2)[None, :])
        )
        on_edge |= on.any(axis=1)
        straddle = (y1[None, :] > py) != (y2[None, :] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[None, :] + (py - y1[None, :]) * dx[None, :] / dy[None, :]
        crossings = (straddle & (px < xint)).sum(axis=1)
        ring_inside = (crossings & 1).astype(bool)
        inside = ring_inside if ring_idx == 0 else inside & ~ring_inside
    return inside & ~on_edge


def _brute_dist(rings, lons, lats):
    best = np.full(len(lons), np.inf)
    px, py = lons[:, None], lats[:, None]
    for xs, ys in rings:
        x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
        dx, dy = x2 - x1, y2 - y1
        seg2 = dx * dx + dy * dy
        seg2 = np.where(seg2 == 0.0, 1e-300, seg2)
        t = ((px - x1[None, :]) * dx[None, :] + (py - y1[None, :]) * dy[None, :]) / seg2[None, :]
        t = np.clip(t, 0.0, 1.0)
        cx = x1[None, :] + t * dx[None, :]
        cy = y1[None, :] + t * dy[None, :]
        d2 = (px - cx) ** 2 + (py - cy) ** 2
        best = np.minimum(best, np.sqrt(d2.min(axis=1)))
    return best


def _box_cells(x0, y0, x1, y1, level):
    """Every cell at ``level`` that overlaps the degree box."""
    lo = point_to_cell(np.array([x0]), np.array([y0]), level)
    hi = point_to_cell(np.array([x1]), np.array([y1]), level)
    (ax,), (ay,) = cells_xy(lo)
    (bx,), (by,) = cells_xy(hi)
    gx, gy = np.meshgrid(np.arange(ax, bx + 1), np.arange(ay, by + 1))
    return xy_to_cell(gx.ravel(), gy.ravel(), level)


def _rows(geom, cover):
    """Aligned covering rows (cell, rel, poly, interior) of ``geom``,
    each polygon's from ``cover(rings) -> (cells, interior)``."""
    parts = []
    for (rel, pi), rings in geom.items():
        cells, interior = cover(rings)
        cells = np.asarray(cells, dtype=np.int64)
        n = len(cells)
        parts.append((cells, np.full(n, rel), np.full(n, pi), np.asarray(interior, dtype=bool)))
    return [np.concatenate([p[i] for p in parts]) for i in range(4)]


def _index(geom, cover):
    """PipIndex over ``geom`` with each polygon's covering rows from
    ``cover``."""
    return P.PipIndex.from_cells(*_rows(geom, cover), geom)


def _all_boundary(level):
    """Covering that refines everything: every cell of the polygon's
    bbox at ``level``, none interior."""
    def cover(rings):
        xs, ys = rings[0]
        cells = _box_cells(xs.min(), ys.min(), xs.max(), ys.max(), level)
        return cells, np.zeros(len(cells), dtype=bool)
    return cover


def _quadtree(max_level):
    """The production covering (``cover_polygon``)."""
    def cover(rings):
        coords = [[[x, y] for x, y in zip(xs, ys)] for xs, ys in rings]
        return cover_polygon(coords, 4, max_level)
    return cover


def _join_rows(idx, lons, lats):
    return set(zip(*(a.tolist() for a in idx.join(lons, lats))))


def _contains(rings, lons, lats):
    """The per-polygon exact kernel on degree points."""
    return poly.polygon_contains(poly.grid_segments(rings), poly.to_grid(lons), poly.to_grid(lats))


def _contains_rows(geom, lons, lats):
    return {
        (i, rel, pi)
        for (rel, pi), rings in geom.items()
        for i in _contains(rings, lons, lats).nonzero()[0].tolist()
    }


def _catalyst_rows(geom, cover, lons, lats):
    """The catalyst path without Spark: the covering pass's rows and
    ``edges`` column, the cell join's matches (the index's candidate
    gather over the same rows), interior matches accepted and boundary
    matches through ``refine_candidates`` in one batch."""
    cells, rel, pi, interior = rows = _rows(geom, cover)
    slice_of = dict(zip(zip(cells.tolist(), rel.tolist(), pi.tolist()), P.edges_column(*rows, geom)))
    pt, c_rel, c_pi, c_int, c_cell = P.PipIndex.from_cells(*rows, geom).candidates(lons, lats)
    b = ~c_int
    batch = pd.DataFrame({
        "point_id": pt[b],
        "lon": lons[pt[b]],
        "lat": lats[pt[b]],
        "rel_id": c_rel[b],
        "poly_idx": c_pi[b].astype(np.int32),
        "edges": [slice_of[k] for k in zip(c_cell[b].tolist(), c_rel[b].tolist(), c_pi[b].tolist())],
    })
    out = refine_candidates(batch)
    return set(zip(pt[c_int].tolist(), c_rel[c_int].tolist(), c_pi[c_int].tolist())) | set(
        zip(out["point_id"].tolist(), out["rel_id"].tolist(), out["poly_idx"].tolist())
    )


@pytest.fixture()
def star_index():
    rings = [_star_ring(401, 8.0, 10.0), _star_ring(101, 2.0, 3.0)]
    return P.PipIndex([], {}, {(1, 0): rings}), rings


def test_contains_and_distance_bit_identical(star_index):
    idx, rings = star_index
    rng = np.random.default_rng(7)
    lons = rng.uniform(-12, 12, 4000)
    lats = rng.uniform(-12, 12, 4000)
    np.testing.assert_array_equal(
        _contains(rings, lons, lats), _brute_contains(rings, lons, lats)
    )
    np.testing.assert_array_equal(
        idx.edge_distance(1, 0, lons, lats), _brute_dist(rings, lons, lats)
    )


def test_tiny_tile_budget_identical(star_index, monkeypatch):
    """Shrinking the element budget changes the tiling, never the rows."""
    idx, rings = star_index
    rng = np.random.default_rng(11)
    lons = rng.uniform(-12, 12, 1500)
    lats = rng.uniform(-12, 12, 1500)
    base_c = _contains(rings, lons, lats)
    base_d = idx.edge_distance(1, 0, lons, lats)
    monkeypatch.setattr(P, "TILE_ELEMS", 997)  # prime: ragged tiles
    monkeypatch.setattr(poly, "TILE_ELEMS", 997)  # the exact kernel's own
    idx2 = P.PipIndex([], {}, idx.geom)
    np.testing.assert_array_equal(_contains(rings, lons, lats), base_c)
    np.testing.assert_array_equal(idx2.edge_distance(1, 0, lons, lats), base_d)
    # The batch path chunks its flat pairs under the same budget and
    # carries the per-ring parity across chunks.
    monkeypatch.undo()
    flat = _index(idx.geom, _all_boundary(5))
    base_j = _join_rows(flat, lons, lats)
    assert base_j == {(i, 1, 0) for i in base_c.nonzero()[0].tolist()}
    monkeypatch.setattr(P, "TILE_ELEMS", 997)
    flat2 = _index(idx.geom, _all_boundary(5))
    assert _join_rows(flat2, lons, lats) == base_j


def test_high_vertex_polygon_memory_bound():
    """Coastline-class polygon (6×10^4 segments) × thousands of points:
    peak allocation stays ~TILE_ELEMS-scale, nowhere near the
    points×segments dense matrix (~1 GB per temporary here).
    """
    big = [_star_ring(60001, 9.0, 10.0)]
    idx = P.PipIndex([], {}, {(2, 0): big})
    rng = np.random.default_rng(3)
    lons = rng.uniform(-11, 11, 2000)
    lats = rng.uniform(-11, 11, 2000)
    tracemalloc.start()
    got = _contains(big, lons, lats)
    d = idx.edge_distance(2, 0, lons[:200], lats[:200])
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # The dense kernel's first temporary alone would be
    # 60000*2000*8 ≈ 960 MB; the tiled kernel stays ~TILE_ELEMS-sized.
    assert peak < 300e6, f"peak {peak/1e6:.0f} MB"
    # Spot-check correctness against the dense oracle on a slice.
    sel = np.arange(0, 2000, 10)
    np.testing.assert_array_equal(got[sel], _brute_contains(big, lons[sel], lats[sel]))
    np.testing.assert_array_equal(d, _brute_dist(big, lons[:200], lats[:200]))
    # Points in a thin band: the slice by the group's extent keeps
    # only the edges that can matter to them.
    band = np.abs(lats) < 0.02
    np.testing.assert_array_equal(got[band], _brute_contains(big, lons[band], lats[band]))


def test_high_vertex_polygon_batch_path_memory_bound():
    """The same coastline-class polygon behind coarse (level-4, 22.5°)
    boundary cells: each cell's edge slice holds ~half the ring, and
    the flat pass still stays ~TILE_ELEMS-sized."""
    big = [_star_ring(60001, 9.0, 10.0)]
    idx = _index({(2, 0): big}, _all_boundary(4))
    rng = np.random.default_rng(5)
    lons = rng.uniform(-11, 11, 600)
    lats = rng.uniform(-11, 11, 600)
    idx.slices()  # build the derived table outside the measurement
    assert idx._slices.unit_len.max() > 20000
    tracemalloc.start()
    pt, _rel, _poly = idx.join(lons, lats)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 300e6, f"peak {peak/1e6:.0f} MB"
    want = _brute_contains(big, lons, lats)
    np.testing.assert_array_equal(np.isin(np.arange(600), pt), want)


def test_join_empty_and_partial_batches(star_index):
    """Empty batch; a batch with no boundary candidates; candidates
    whose polygon has no geometry (dropped, the rest kept)."""
    _idx, rings = star_index
    geom = {(1, 0): rings, (3, 0): [_star_ring(31, 3.0, 4.0, cx=30.0)]}
    idx = _index(geom, _quadtree(8))
    empty = np.empty(0)
    assert all(len(a) == 0 for a in idx.join(empty, empty))
    assert all(len(a) == 0 for a in P.PipIndex([], {}, geom).join(np.ones(3), np.ones(3)))
    # interior cells only (near the ring's centre, inside the hole's
    # complement band) and points outside every covering
    lons = np.array([5.5, -5.5, 0.0, 100.0])
    lats = np.array([0.0, 0.0, 5.5, 50.0])
    pt, rel, pi, interior, _cell = idx.candidates(lons, lats)
    assert interior.all() and set(pt.tolist()) == {0, 1, 2}
    assert _join_rows(idx, lons, lats) == {(0, 1, 0), (1, 1, 0), (2, 1, 0)}
    # drop polygon 3's geometry: its boundary candidates yield no rows,
    # its interior-cell hits (no geometry needed) stay
    rng = np.random.default_rng(2)
    lons = np.concatenate([rng.uniform(-12, 12, 500), rng.uniform(25, 35, 500)])
    lats = rng.uniform(-12, 12, 1000) * np.r_[np.ones(500), np.full(500, 0.4)]
    full = _join_rows(idx, lons, lats)
    pt, rel, _pi, interior, _cell = idx.candidates(lons, lats)
    assert ((rel == 3) & interior).any() and ((rel == 3) & ~interior).any()
    idx.geom = {(1, 0): rings}
    idx._slices = None
    assert _join_rows(idx, lons, lats) == {r for r in full if r[1] == 1} | {
        (i, 3, 0) for i in pt[(rel == 3) & interior].tolist()
    }


def test_join_matches_contains_on_vertices_and_edges(star_index):
    """The production covering (interior cells accepted, boundary
    cells refined) against the per-polygon kernel, on random points
    and on every vertex and edge midpoint and their ±1 micro-degree
    neighbours."""
    _idx, rings = star_index
    geom = {
        (1, 0): [tuple(np.round(a, 6) for a in r) for r in rings],
        (2, 0): [tuple(np.round(a, 6) for a in _star_ring(31, 3.0, 5.0, 12.0, 3.0))],
    }
    idx = _index(geom, _quadtree(9))
    rng = np.random.default_rng(4)
    lons = np.round(rng.uniform(-12, 18, 20000), 6)
    lats = np.round(rng.uniform(-12, 12, 20000), 6)
    assert _join_rows(idx, lons, lats) == _contains_rows(geom, lons, lats)
    pts = np.concatenate([
        np.stack(r, axis=1) for rs in geom.values() for xs, ys in rs
        for r in ((xs, ys), ((xs[:-1] + xs[1:]) / 2, (ys[:-1] + ys[1:]) / 2))
    ])
    for dx in (-1e-6, 0.0, 1e-6):
        for dy in (-1e-6, 0.0, 1e-6):
            lo, la = np.round(pts[:, 0] + dx, 6), np.round(pts[:, 1] + dy, 6)
            assert _join_rows(idx, lo, la) == _contains_rows(geom, lo, la), (dx, dy)


def test_join_points_clipped_into_edge_cells():
    """Points beyond the world's edge land in its first/last cell
    column or row (``point_to_cell`` clips them); their slices keep
    the edges beyond it too."""
    geom = {(1, 0): [_ring_arrays([[-185.0, -95.0], [-175.0, -92.0], [-178.0, -85.0],
                                   [-186.0, -88.0], [-185.0, -95.0]])]}
    idx = _index(geom, _all_boundary(6))
    gx, gy = np.meshgrid(np.linspace(-187, -174, 61), np.linspace(-96, -84, 53))
    lons, lats = gx.ravel(), gy.ravel()
    got = _join_rows(idx, lons, lats)
    assert got == _contains_rows(geom, lons, lats)
    assert any(lons[i] < -180 and lats[i] < -90 for i, _, _ in got)


def _radial_ring(cx, cy, radii, phase):
    """Star-shaped ring on the micro-degree lattice (degrees)."""
    n = len(radii)
    th = 2 * np.pi * (np.arange(n) + phase) / n
    xs = np.rint(cx + np.asarray(radii) * np.cos(th)) / 1e6
    ys = np.rint(cy + np.asarray(radii) * np.sin(th)) / 1e6
    return np.append(xs, xs[0]), np.append(ys, ys[0])


@st.composite
def _polygons(draw):
    """1-3 star-shaped polygons (micro-degree vertices) with 0-2
    holes each, possibly overlapping one another; some straddle the
    world's west or east edge (lon ±180)."""
    geom = {}
    for rel in range(1, draw(st.integers(1, 3)) + 1):
        r = draw(st.integers(100_000, 3_000_000))
        side = draw(st.sampled_from([0, 0, -1, 1]))
        if side:
            cx = side * draw(st.integers(178_000_000, 181_000_000))
        else:
            cx = draw(st.integers(-170_000_000, 170_000_000))
        cy = draw(st.integers(-80_000_000, 80_000_000))
        n = draw(st.integers(3, 12))
        radii = draw(st.lists(st.integers(r // 2, r), min_size=n, max_size=n))
        rings = [_radial_ring(cx, cy, radii, draw(st.floats(0, 1)))]
        n_holes = draw(st.integers(0, 2))
        for k in range(n_holes):
            off = 0 if n_holes == 1 else (r // 4 if k == 0 else -(r // 4))
            m = draw(st.integers(3, 8))
            hr = draw(st.lists(st.integers(r // 32, r // 8), min_size=m, max_size=m))
            rings.append(_radial_ring(cx + off, cy, hr, draw(st.floats(0, 1))))
        geom[(rel, 0)] = rings
    return geom


@settings(max_examples=60, deadline=None)
@given(_polygons(), st.integers(5, 10), st.integers(0, 2**32 - 1))
def test_join_matches_polygon_contains_property(geom, level, seed):
    """Random polygons with holes: the index's batch path (every
    covering cell refined through the flat pairs) and the catalyst
    path (each candidate row refined on the slice the covering pass
    stored for its cell) give exactly the per-polygon kernel's rows on
    lattice points, vertices, edge midpoints, points in cell column 0
    and beyond ±180 (clipped into the edge cells), and their ±1
    micro-degree neighbours."""
    cover = _all_boundary(level)
    idx = _index(geom, cover)
    rings = [r for rs in geom.values() for r in rs]
    x0 = min(xs.min() for xs, _ in rings)
    x1 = max(xs.max() for xs, _ in rings)
    y0 = min(ys.min() for _, ys in rings)
    y1 = max(ys.max() for _, ys in rings)
    gx, gy = np.meshgrid(np.linspace(x0, x1, 23), np.linspace(y0, y1, 19))
    pts = [np.stack([gx.ravel(), gy.ravel()], axis=1)]
    w = 360.0 / (1 << level)
    for x in (-182.0, -180.5, -180.0, -180.0 + w / 2, -180.0 + w):
        for lon in (x, -x):
            pts.append(np.stack([np.full(19, lon), gy[:, 0]], axis=1))
    for xs, ys in rings:
        pts.append(np.stack([xs, ys], axis=1))
        pts.append(np.stack([(xs[:-1] + xs[1:]) / 2, (ys[:-1] + ys[1:]) / 2], axis=1))
    pts = np.concatenate(pts)
    pts = pts[np.random.default_rng(seed).permutation(len(pts))]
    for dx in (-1e-6, 0.0, 1e-6):
        for dy in (-1e-6, 0.0, 1e-6):
            lo, la = np.round(pts[:, 0] + dx, 6), np.round(pts[:, 1] + dy, 6)
            want = _contains_rows(geom, lo, la)
            assert _join_rows(idx, lo, la) == want
            assert _catalyst_rows(geom, cover, lo, la) == want


def test_missing_geometry_is_dropped_not_fatal(star_index):
    """Candidates with no geometry yield no rows, not a task failure,
    on both refine paths: an index boundary row whose polygon has no
    geometry entry, and a catalyst candidate row with a null slice
    (ADVICE r2). Edge distances to missing geometry are +inf."""
    idx, _ = star_index
    lons = np.array([0.0, 1.0])
    lats = np.array([0.0, 1.0])
    cells = np.unique(point_to_cell(lons, lats, 6))
    n = len(cells)
    orphan = P.PipIndex.from_cells(
        cells, np.full(n, 99), np.full(n, 7), np.zeros(n, dtype=bool), idx.geom
    )
    assert len(orphan.candidates(lons, lats)[0]) == 2
    assert all(len(a) == 0 for a in orphan.join(lons, lats))
    batch = pd.DataFrame({
        "point_id": [1, 2], "lon": lons, "lat": lats, "rel_id": [99, 99],
        "poly_idx": np.full(2, 7, dtype=np.int32), "edges": [None, None],
    })
    assert len(refine_candidates(batch)) == 0
    assert np.isinf(idx.edge_distance(99, 7, lons, lats)).all()


def test_index_pickle_drops_segment_cache(star_index):
    import pickle

    idx, _ = star_index
    # The per-cell edge slices are derived: the pickle is the same size
    # before and after they are built.
    flat = _index(idx.geom, _all_boundary(5))
    size = len(pickle.dumps(flat))
    flat.slices()
    assert flat._slices is not None
    assert len(pickle.dumps(flat)) == size
    clone = pickle.loads(pickle.dumps(flat))
    assert clone._slices is None
    lons = np.array([0.0, 5.0, 11.0])
    lats = np.array([0.0, 5.0, 11.0])
    assert _join_rows(clone, lons, lats) == _join_rows(flat, lons, lats) == {(1, 1, 0)}


# Two polygons sharing the diagonal edge (1,2)->(4,3) (degrees).
_LOWER = [[1.0, 1.0], [4.0, 1.0], [4.0, 3.0], [1.0, 2.0], [1.0, 1.0]]
_UPPER = [[1.0, 2.0], [4.0, 3.0], [4.0, 4.0], [1.0, 4.0], [1.0, 2.0]]


def _edge_lattice(step):
    """Micro-degree lattice points strictly inside the shared edge:
    (lon_u, lat_u) = (1e6 + 3t, 2e6 + t)."""
    t = np.arange(step, 1_000_000, step, dtype=np.int64)
    return 1_000_000 + 3 * t, 2_000_000 + t


def _ring_arrays(ring):
    a = np.asarray(ring, dtype=np.float64)
    return a[:, 0], a[:, 1]


def test_shared_diagonal_edge_lattice_in_neither_polygon():
    """Boundary excluded means a page exactly on a shared border
    belongs to neither side; one micro-degree off it, to exactly one."""
    lower, upper = [_ring_arrays(_LOWER)], [_ring_arrays(_UPPER)]
    lon_u, lat_u = _edge_lattice(1)
    lons = lon_u / 1e6
    for rings in (lower, upper):
        assert not _contains(rings, lons, lat_u / 1e6).any()
    above, below = (lat_u + 1) / 1e6, (lat_u - 1) / 1e6
    assert _contains(upper, lons, above).all()
    assert not _contains(lower, lons, above).any()
    assert _contains(lower, lons, below).all()
    assert not _contains(upper, lons, below).any()


def test_shared_diagonal_edge_every_spark_path(spark, tmp_path):
    """The same rule through every page-side path: the index and
    catalyst (row-local refine on the cell join's edge slices)
    pipelines, and the streaming enrichment."""
    from pyspark.sql import functions as F

    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline
    from osm_spark.streaming.pages_stream import stream_pip_enrich

    lon_u, lat_u = _edge_lattice(997)
    rows, expect = [], set()
    for k, (x, y) in enumerate(zip(lon_u.tolist(), lat_u.tolist())):
        for dy, rel in ((0, None), (1, 2), (-1, 1)):
            url = f"https://e.org/{k}/{dy}"
            rows.append((url, f"geo: {y + dy},{x}"))
            if rel is not None:
                expect.add((url, rel))
    pages = spark.createDataFrame(rows, "url string, text string").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit(None).cast("string").alias("lang"),
    )
    locations = spark.createDataFrame(
        [(1, [[_LOWER]]), (2, [[_UPPER]])],
        "rel_id long, shape array<array<array<array<double>>>>",
    )
    kept = spark.createDataFrame([(1, 8), (2, 8)], "id long, admin_level int")

    def urls(pip, points):
        return {
            (r.url, r.rel_id)
            for r in pip.join(points, "point_id").select("url", "rel_id").collect()
        }

    for mode in ("index", "catalyst"):
        sp = run_spatial_pipeline(
            spark, pages, locations, kept, max_level=11, mode=mode
        )
        assert urls(sp["pip"], sp["points"]) == expect, mode

    src, sink = str(tmp_path / "src"), str(tmp_path / "sink")
    pages.repartition(3).write.parquet(src)
    q = stream_pip_enrich(
        spark, src, locations, sink, str(tmp_path / "ck"), max_level=11
    )
    q.awaitTermination(300)
    streamed = {(r.url, r.rel_id) for r in spark.read.parquet(sink).collect()}
    assert streamed == expect
