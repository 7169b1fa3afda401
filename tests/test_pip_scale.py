"""Scale-robustness of the exact PIP kernels (VERDICT r2 #1):
memory-bounded tiling + bbox segment slicing must be bit-identical to
the unbounded dense kernel, and a high-vertex (coastline-class) polygon
must refine under a fixed memory budget instead of materializing
(points × all-segments) matrices.
"""

import tracemalloc

import numpy as np
import pytest

from osm_spark.kernels import poly
from osm_spark.spatial import pip_index as P


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
        idx.contains(1, 0, lons, lats), _brute_contains(rings, lons, lats)
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
    base_c = idx.contains(1, 0, lons, lats)
    base_d = idx.edge_distance(1, 0, lons, lats)
    monkeypatch.setattr(P, "TILE_ELEMS", 997)  # prime: ragged tiles
    monkeypatch.setattr(poly, "TILE_ELEMS", 997)  # the exact kernel's own
    idx2 = P.PipIndex([], {}, idx.geom)
    np.testing.assert_array_equal(idx2.contains(1, 0, lons, lats), base_c)
    np.testing.assert_array_equal(idx2.edge_distance(1, 0, lons, lats), base_d)


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
    idx._ring_segs(2, 0)  # build the cache outside the measurement
    tracemalloc.start()
    got = idx.contains(2, 0, lons, lats)
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
    # The banded path (per covering cell grouping) is the hot-path
    # shape: a tight group must not touch most segments.
    band = np.abs(lats) < 0.02
    np.testing.assert_array_equal(got[band], _brute_contains(big, lons[band], lats[band]))


def test_missing_geometry_is_dropped_not_fatal(star_index):
    """Broadcast refinement mirrors the cogroup path's silent-drop
    semantics for candidates with no geometry entry (ADVICE r2)."""
    idx, _ = star_index
    lons = np.array([0.0, 1.0])
    lats = np.array([0.0, 1.0])
    assert not idx.contains(99, 7, lons, lats).any()
    assert np.isinf(idx.edge_distance(99, 7, lons, lats)).all()


def test_index_pickle_drops_segment_cache(star_index):
    import pickle

    idx, _ = star_index
    idx._ring_segs(1, 0)
    assert idx._segs
    clone = pickle.loads(pickle.dumps(idx))
    assert clone._segs == {}
    lons = np.array([0.0, 5.0, 11.0])
    lats = np.array([0.0, 5.0, 11.0])
    np.testing.assert_array_equal(
        clone.contains(1, 0, lons, lats), idx.contains(1, 0, lons, lats)
    )


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
    idx = P.PipIndex(
        [], {}, {(1, 0): [_ring_arrays(_LOWER)], (2, 0): [_ring_arrays(_UPPER)]}
    )
    lon_u, lat_u = _edge_lattice(1)
    lons = lon_u / 1e6
    for rel in (1, 2):
        assert not idx.contains(rel, 0, lons, lat_u / 1e6).any()
    above, below = (lat_u + 1) / 1e6, (lat_u - 1) / 1e6
    assert idx.contains(2, 0, lons, above).all()
    assert not idx.contains(1, 0, lons, above).any()
    assert idx.contains(1, 0, lons, below).all()
    assert not idx.contains(2, 0, lons, below).any()


def test_shared_diagonal_edge_every_spark_path(spark, tmp_path):
    """The same rule through every page-side path: index,
    index-sharded and catalyst pipelines, the cogroup refinement, and
    the streaming enrichment."""
    from pyspark.sql import functions as F

    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline
    from osm_spark.spatial.pip_join import pip_join
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

    for mode in ("index", "index-sharded", "catalyst"):
        sp = run_spatial_pipeline(
            spark, pages, locations, kept, max_level=11, mode=mode,
            index_shards=2 if mode == "index-sharded" else None,
        )
        assert urls(sp["pip"], sp["points"]) == expect, mode
    cogroup = pip_join(
        sp["points"].select("point_id", "lon", "lat"),
        sp["polygon_cells"],
        sp["polygon_geometry"],
        refine="cogroup",
    )
    assert urls(cogroup, sp["points"]) == expect

    src, sink = str(tmp_path / "src"), str(tmp_path / "sink")
    pages.repartition(3).write.parquet(src)
    q = stream_pip_enrich(
        spark, src, locations, sink, str(tmp_path / "ck"), max_level=11
    )
    q.awaitTermination(300)
    streamed = {(r.url, r.rel_id) for r in spark.read.parquet(sink).collect()}
    assert streamed == expect
