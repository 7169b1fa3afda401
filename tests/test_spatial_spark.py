"""Spatial extension: cells-SQL/numpy parity, PIP join vs independent
rectangle arithmetic, kNN, raster round-trip, tile determinism."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark.kernels.cells import cell_parent, point_to_cell


@pytest.fixture(scope="module")
def pages(spark):
    from osm_spark.data.pages import PagesSpec, pages_df

    return pages_df(spark, PagesSpec(n_pages=2000, n_countries=1)).persist()


@pytest.fixture(scope="module")
def spatial(spark, world, pages):
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

    sp = run_spatial_pipeline(
        spark, pages, world["locations"], world["kept"], max_level=11
    )
    sp["pip"] = sp["pip"].persist()
    sp["points"] = sp["points"].persist()
    return sp


def test_cells_sql_matches_numpy(spark):
    df = spark.range(500).select(
        (F.col("id") * 0.7 - 170.0).alias("lon"),
        (F.col("id") * 0.33 - 80.0).alias("lat"),
    )
    from osm_spark.spatial.cells_sql import cell_expr, cell_parent_expr

    rows = df.select(
        "lon", "lat",
        cell_expr(F.col("lon"), F.col("lat"), 11).alias("c11"),
        cell_expr(F.col("lon"), F.col("lat"), 4).alias("c4"),
    ).withColumn("p4", cell_parent_expr(F.col("c11"), 4)).collect()
    lons = np.array([r.lon for r in rows])
    lats = np.array([r.lat for r in rows])
    np.testing.assert_array_equal(
        np.array([r.c11 for r in rows]), point_to_cell(lons, lats, 11)
    )
    np.testing.assert_array_equal(
        np.array([r.c4 for r in rows]), point_to_cell(lons, lats, 4)
    )
    np.testing.assert_array_equal(
        np.array([r.p4 for r in rows]), cell_parent(point_to_cell(lons, lats, 11), 4)
    )


def _expected_pairs(points):
    """Independent rectangle-arithmetic oracle for the 1-country world."""
    import __spark_entry__ as E

    rects = E._world_rects()
    out = set()
    for pid, lon, lat in points:
        for rel_id, rings in rects:
            ok = True
            for kind, (x0, y0, x1, y1) in rings:
                x0, y0, x1, y1 = x0 / 1e7, y0 / 1e7, x1 / 1e7, y1 / 1e7
                if kind == "rect":
                    if not (x0 < lon < x1 and y0 < lat < y1):
                        ok = False
                else:
                    if x0 <= lon <= x1 and y0 <= lat <= y1:
                        ok = False
            if ok:
                out.add((pid, rel_id))
    return out


def test_pip_join_exact(spatial):
    pts = [(r.point_id, r.lon, r.lat) for r in spatial["points"].collect()]
    got = {(r.point_id, r.rel_id) for r in spatial["pip"].collect()}
    assert got == _expected_pairs(pts)


def _plan_nodes(df, root=None) -> list:
    """Every node of ``df``'s executed plan, or of its subtree ``root``
    (AQE final plan, through query stages and reused exchanges; cached
    relations are leaves)."""
    out, stack = [], [root or df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchange":
            stack.append(node.child())
            continue
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _output_names(node) -> list[str]:
    attrs = node.output()
    return [attrs.apply(i).name() for i in range(attrs.size())]


def test_pip_join_shuffle_path_identical(spark, world, spatial, pages):
    """The catalyst join (cell equi-join, boundary matches refined
    row-locally on the edge slices the join brings them) produces the
    fused broadcast-index row set exactly. Its executed plan has no
    cogroup and no Generate over the geometry, and with Spark's
    broadcast threshold off its only shuffles are the cell join's and
    the anchor set's distinct (over the covering, below the one
    broadcast)."""
    from collections import Counter

    from osm_spark.spatial.pip_join import pip_join

    base = {(r.point_id, r.rel_id) for r in spatial["pip"].collect()}
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got = pip_join(
            spatial["points"].select("point_id", "lon", "lat"),
            spatial["polygon_cells"],
        ).select("point_id", "rel_id")
        rows = [(r.point_id, r.rel_id) for r in got.collect()]
        nodes = _plan_nodes(got)
    finally:
        spark.conf.set(key, old)
    assert len(rows) == len(set(rows))
    assert set(rows) == base
    names = [n.nodeName() for n in nodes]
    assert "FlatMapCoGroupsInPandas" not in names
    assert "MapInPandas" in names
    for n in nodes:
        if n.nodeName() == "Generate":
            kids = n.children()
            assert "poly" not in _output_names(kids.apply(0)), n.toString()
    # Shuffles: the cell join's, plus the anchor set's distinct, which
    # runs over the covering below the anchor broadcast.
    def shuffles(ns):
        return Counter(
            n.outputPartitioning().toString() for n in ns if n.nodeName() == "Exchange"
        )

    anchor = Counter()
    for b in (n for n in nodes if n.nodeName() == "BroadcastExchange"):
        assert _output_names(b) == ["anchor"]
        anchor += shuffles(_plan_nodes(got, b))
    join = shuffles(nodes) - anchor
    assert all(p.startswith("hashpartitioning(anchor#") for p in anchor), anchor
    assert join and all(p.startswith("hashpartitioning(cell#") for p in join), join


def test_pip_refine_modes_identical(spark, world, spatial, pages):
    """Every PIP execution path produces the same row set: the fused
    broadcast index (the spatial-pipeline default) called directly and
    through mode="index", and the catalyst cell join with its row-local
    edge-slice refinement called directly and through mode="catalyst"."""
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline
    from osm_spark.spatial.pip_index import build_pip_index, pip_join_index
    from osm_spark.spatial.pip_join import pip_join

    base = {(r.point_id, r.rel_id) for r in spatial["pip"].collect()}
    pts = spatial["points"].select("point_id", "lon", "lat")
    bc = spark.sparkContext.broadcast(
        build_pip_index(spatial["polygon_cells"], spatial["polygon_geometry"])
    )
    paths = {
        "index": pip_join_index(pts, bc),
        "catalyst": pip_join(pts, spatial["polygon_cells"]),
    }
    for mode in ("index", "catalyst"):
        paths[f"pipeline-{mode}"] = run_spatial_pipeline(
            spark, pages, world["locations"], world["kept"], max_level=11,
            mode=mode,
        )["pip"]
    for name, df in paths.items():
        got = {(r.point_id, r.rel_id) for r in df.select("point_id", "rel_id").collect()}
        assert got == base, name


def test_pip_refine_parallelism_exceeds_polygon_count(spark, world, spatial):
    """The r1 scale flaw: refinement parallelism was capped at the
    polygon count. The fused index join must run as many tasks as the
    candidate side has partitions, regardless of polygon count."""
    from osm_spark.spatial.pip_index import build_pip_index, pip_join_index

    pts = spatial["points"].select("point_id", "lon", "lat").repartition(16)
    bc = spark.sparkContext.broadcast(
        build_pip_index(spatial["polygon_cells"], spatial["polygon_geometry"])
    )
    out = pip_join_index(pts, bc)
    n_polys = spatial["polygon_geometry"].count()
    assert out.rdd.getNumPartitions() == 16 > n_polys or n_polys >= 16


def test_auto_mode_selects_and_matches(spark, world, pages, spatial):
    """mode="auto" picks index under the budget and catalyst over it;
    both produce the identical row set (VERDICT r2 fix #4)."""
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

    base = {(r.point_id, r.rel_id) for r in spatial["pip"].collect()}
    # Tiny world: the default budget must choose the index path.
    sp_idx = run_spatial_pipeline(
        spark, pages, world["locations"], world["kept"], max_level=11,
        mode="auto",
    )
    assert {(r.point_id, r.rel_id) for r in sp_idx["pip"].collect()} == base
    # A 1-byte budget must force the catalyst fallback.
    sp_cat = run_spatial_pipeline(
        spark, pages, world["locations"], world["kept"], max_level=11,
        mode="auto", index_max_bytes=1,
    )
    assert {(r.point_id, r.rel_id) for r in sp_cat["pip"].collect()} == base


def _broadcast_outputs(df) -> list[list[str]]:
    """Output columns of every BroadcastExchange in ``df``'s executed
    plan."""
    return [_output_names(n) for n in _plan_nodes(df) if n.nodeName() == "BroadcastExchange"]


def test_over_budget_broadcasts_nothing_polygon_sized(
    spark, world, pages, spatial, monkeypatch, caplog
):
    """Above the broadcast budget, auto mode neither builds a PipIndex
    nor broadcasts the polygon cells: with Spark's own broadcast
    threshold off, the only broadcast left in the executed plan is the
    anchor set, and the rows equal the index path's."""
    import logging

    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline
    from osm_spark.spatial import pip_index

    def refuse(*args, **kwargs):
        raise AssertionError("build_pip_index called above the budget")

    base = {(r.point_id, r.rel_id) for r in spatial["pip"].collect()}
    monkeypatch.setattr(pip_index, "build_pip_index", refuse)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with caplog.at_level(logging.INFO, logger="osm_spark.spatial"):
            sp = run_spatial_pipeline(
                spark, pages, world["locations"], world["kept"],
                max_level=11, mode="auto", index_max_bytes=1,
            )
            got = {(r.point_id, r.rel_id) for r in sp["pip"].collect()}
        broadcasts = _broadcast_outputs(sp["pip"])
    finally:
        spark.conf.set(key, old)
    assert got == base
    assert broadcasts
    assert all(cols == ["anchor"] for cols in broadcasts), broadcasts
    assert any(
        "PIP catalyst" in r.getMessage() and r.levelno == logging.INFO
        for r in caplog.records
    )


def test_empty_polygon_side_every_mode(spark, world, pages):
    """Zero locations: both PIP modes return empty pip and tiles."""
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

    locations = world["locations"].limit(0)
    for mode in ("index", "catalyst"):
        sp = run_spatial_pipeline(
            spark, pages, locations, world["kept"], max_level=11, mode=mode
        )
        assert sp["pip"].count() == 0, mode
        assert sp["tiles"].count() == 0, mode


def test_catalyst_warns_without_skew_join(spark, world, pages, caplog):
    """AQE's skew split is catalyst's only hot-cell guard: running it
    with skew join off logs a WARNING."""
    import logging

    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

    key = "spark.sql.adaptive.skewJoin.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with caplog.at_level(logging.INFO, logger="osm_spark.spatial"):
            run_spatial_pipeline(
                spark, pages, world["locations"].limit(0), world["kept"],
                max_level=11, mode="catalyst",
            )
    finally:
        spark.conf.set(key, old)
    assert any(
        "PIP catalyst" in r.getMessage() and r.levelno == logging.WARNING
        for r in caplog.records
    )


def test_build_index_size_guard(spark, world, spatial, recwarn):
    """build_pip_index warns (never dies) above the broadcast budget."""
    import warnings

    from osm_spark.spatial.pip_index import build_pip_index

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        idx = build_pip_index(
            spatial["polygon_cells"], spatial["polygon_geometry"], max_bytes=1
        )
        assert any("broadcast budget" in str(x.message) for x in w)
    assert idx.geom


def test_knn_matches_bruteforce(spatial):
    from osm_spark.spatial.knn import knn_boundaries, _edge_distance
    import __spark_entry__ as E

    probes = spatial["points"].limit(40).persist()
    got = knn_boundaries(
        probes.select("point_id", "lon", "lat"),
        spatial["polygon_cells"],
        spatial["polygon_geometry"],
        k=3,
        level=4,
        radius=2,
    ).collect()
    segs = E._world_segments()
    by_rel: dict = {}
    for rel, x1, y1, x2, y2 in segs:
        by_rel.setdefault(rel, []).append(([[x1, y1], [x2, y2]],))
    exp = {}
    for r in probes.collect():
        dists = []
        for rel, ss in by_rel.items():
            d = min(
                _edge_distance([s[0]], np.array([r.lon]), np.array([r.lat]))[0]
                for s in ss
            )
            dists.append((d, rel))
        dists.sort()
        exp[r.point_id] = [rel for _, rel in dists[:3]]
    for row in got:
        assert exp[row.point_id][row.rank - 1] == row.rel_id


def test_knn_shared_index_identical(spark, spatial):
    """Passing the PIP join's already-broadcast index must not change
    results (VERDICT r2 fix #2: no second driver collect)."""
    from osm_spark.spatial.knn import knn_boundaries
    from osm_spark.spatial.pip_index import build_pip_index

    probes = spatial["points"].limit(25).select("point_id", "lon", "lat")
    args = (probes, spatial["polygon_cells"], spatial["polygon_geometry"])
    base = {
        (r.point_id, r.rel_id, r.rank)
        for r in knn_boundaries(*args, k=3, level=4, radius=2).collect()
    }
    bc = spark.sparkContext.broadcast(
        build_pip_index(spatial["polygon_cells"], spatial["polygon_geometry"])
    )
    shared = {
        (r.point_id, r.rel_id, r.rank)
        for r in knn_boundaries(
            *args, k=3, level=4, radius=2, index_bc=bc
        ).collect()
    }
    assert shared == base


def test_knn_radius_expansion_reaches_k(spark, spatial):
    """A probe whose initial disk has no boundary cells gets exactly k
    rows once max_radius allows expansion (VERDICT r2 fix #6), and a
    satisfied probe's rows are unchanged by enabling expansion."""
    from osm_spark.spatial.knn import knn_boundaries

    near = spatial["points"].limit(1).select("point_id", "lon", "lat")
    far = spark.createDataFrame(
        [(999_000_001, 150.0, -75.0)], "point_id long, lon double, lat double"
    )
    probes = near.unionByName(far)
    args = (probes, spatial["polygon_cells"], spatial["polygon_geometry"])
    single = knn_boundaries(*args, k=2, level=4, radius=1).collect()
    assert not [r for r in single if r.point_id == 999_000_001]
    expanded = knn_boundaries(*args, k=2, level=4, radius=1, max_radius=16)
    rows = expanded.collect()
    far_rows = [r for r in rows if r.point_id == 999_000_001]
    n_rels = (
        spatial["polygon_cells"].select("rel_id").distinct().count()
    )
    assert len(far_rows) == min(2, n_rels)
    assert sorted(r.rank for r in far_rows) == list(range(1, len(far_rows) + 1))
    # Already-satisfied probes keep identical rows under expansion.
    near_single = {(r.point_id, r.rel_id, r.rank) for r in single}
    near_expanded = {
        (r.point_id, r.rel_id, r.rank)
        for r in rows
        if r.point_id != 999_000_001
    }
    if len(near_single) == 2:
        assert near_single == near_expanded


def test_raster_total_and_vectorize(spark, spatial):
    from osm_spark.spatial.raster import rasterize_points, vectorize_grid

    grid = rasterize_points(spatial["points"], level=6).persist()
    assert grid.agg(F.sum("n")).collect()[0][0] == spatial["points"].count()
    spans = vectorize_grid(grid, level=6).collect()
    assert sum(r.n for r in spans) == spatial["points"].count()
    for r in spans:
        assert r.lon0 < r.lon1 and r.lat0 < r.lat1
        assert r.ring[0] == r.ring[-1]


def _focal_py(cells, n, radius=1, wrap=True):
    """Python twin of focal_stats on a {(gx,gy): v} dict."""
    out = {}
    for (gx, gy), v in cells.items():
        for dx in range(-radius, radius + 1):
            for dy in range(-radius, radius + 1):
                tx = (gx + dx) % n if wrap else gx + dx
                ty = gy + dy
                if not (0 <= ty < n) or (not wrap and not 0 <= tx < n):
                    continue
                s, c, m = out.get((tx, ty), (0, 0, None))
                out[(tx, ty)] = (
                    s + v, c + 1, v if m is None else max(m, v)
                )
    slots = (2 * radius + 1) ** 2
    return {
        k: (s, c, m, s / slots) for k, (s, c, m) in out.items()
    }


def test_focal_stats_matches_twin(spark):
    from osm_spark.spatial.raster import focal_stats

    import random

    rng = random.Random(7)
    level = 4
    n = 1 << level
    cells = {}
    while len(cells) < 25:
        cells[(rng.randrange(n), rng.randrange(n))] = rng.randrange(1, 9)
    # include wrap and pole edges explicitly
    cells[(0, 0)] = 5
    cells[(n - 1, n - 1)] = 7
    grid = spark.createDataFrame(
        [(gx, gy, v) for (gx, gy), v in cells.items()],
        "gx long, gy long, n long",
    )
    for wrap in (True, False):
        got = {
            (r.gx, r.gy): (r.focal_sum, r.n_cells, r.focal_max, r.focal_mean)
            for r in focal_stats(grid, level, wrap_lon=wrap).collect()
        }
        assert got == _focal_py(cells, n, wrap=wrap), wrap
    # radius 2, and a bigger window changes the answer
    got2 = {
        (r.gx, r.gy): (r.focal_sum, r.n_cells, r.focal_max, r.focal_mean)
        for r in focal_stats(grid, level, radius=2).collect()
    }
    exp2 = _focal_py(cells, n, radius=2)
    assert got2 == exp2 and len(got2) > len(_focal_py(cells, n))


def test_focal_stats_triangle_kernel(spark):
    import random

    from osm_spark.spatial.raster import focal_stats

    rng = random.Random(17)
    level = 4
    n = 1 << level
    cells = {}
    while len(cells) < 20:
        cells[(rng.randrange(n), rng.randrange(n))] = rng.randrange(1, 9)
    grid = spark.createDataFrame(
        [(gx, gy, v) for (gx, gy), v in cells.items()],
        "gx long, gy long, n long",
    )
    r = 2
    mass = (r + 1) + sum(8 * c * (r + 1 - c) for c in range(1, r + 1))

    def twin():
        out = {}
        for (gx, gy), v in cells.items():
            for dx in range(-r, r + 1):
                for dy in range(-r, r + 1):
                    tx, ty = (gx + dx) % n, gy + dy
                    if not 0 <= ty < n:
                        continue
                    w = r + 1 - max(abs(dx), abs(dy))
                    s, c, m = out.get((tx, ty), (0, 0, None))
                    out[(tx, ty)] = (
                        s + w * v, c + 1, v if m is None else max(m, v)
                    )
        return {k: (s, c, m, s / mass) for k, (s, c, m) in out.items()}

    got = {
        (x.gx, x.gy): (x.focal_sum, x.n_cells, x.focal_max, x.focal_mean)
        for x in focal_stats(grid, level, radius=r, kernel="triangle").collect()
    }
    assert got == twin() and got
    # center slot weighs r+1, the ring edge weighs 1 — different from
    # uniform on the same input
    uni = {
        (x.gx, x.gy): x.focal_sum
        for x in focal_stats(grid, level, radius=r).collect()
    }
    assert any(got[k][0] != uni[k] for k in uni)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="kernel"):
        focal_stats(grid, level, kernel="gauss")


def test_focal_stats_rejects_window_wider_than_grid(spark):
    import pytest as _pytest

    from osm_spark.spatial.raster import focal_stats

    grid = spark.createDataFrame([(0, 0, 3)], "gx long, gy long, n long")
    with _pytest.raises(ValueError, match="window"):
        focal_stats(grid, level=1, radius=1)


def test_focal_stats_sparse_ocean_absent(spark):
    from osm_spark.spatial.raster import focal_stats

    grid = spark.createDataFrame([(8, 8, 3)], "gx long, gy long, n long")
    rows = focal_stats(grid, 5).collect()
    # exactly the 3x3 window exists; everything else emits nothing
    assert len(rows) == 9
    assert all(r.focal_sum == 3 and r.n_cells == 1 for r in rows)
    assert all(abs(r.focal_mean - 3 / 9) < 1e-15 for r in rows)


def test_tile_assignment_parallelism_invariant(spark, world, pages):
    """North rule: identical join output at different parallelism."""
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

    def run(parts):
        sp = run_spatial_pipeline(
            spark,
            pages.repartition(parts),
            world["locations"],
            world["kept"],
            max_level=11,
        )
        return {
            (r.url, r.admin_level, r.rel_id, r.tile) for r in sp["tiles"].collect()
        }

    assert run(2) == run(16)


def test_text_passthrough_binary_identical(spark, world, pages):
    """Per-row invariant: text byte-identical per url end-to-end."""
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

    sp = run_spatial_pipeline(
        spark, pages, world["locations"], world["kept"], max_level=11
    )
    joined = (
        sp["pip"]
        .join(sp["points"], "point_id")
        .select("url")
        .distinct()
        .join(pages, "url")
        .select("url", F.md5("text").alias("h"))
    )
    orig = pages.select("url", F.md5("text").alias("h0"))
    diff = joined.join(orig, "url").where(F.col("h") != F.col("h0"))
    assert diff.count() == 0


def test_geoparse_drops_unparseable_mentions(spark):
    """A mention whose digits overflow a long drops its page, like a
    page without a mention, instead of failing the job under ANSI
    casts; the output keeps the page columns, then lat, lon."""
    from osm_spark.spatial.geoparse import geoparse_pages

    pages = spark.createDataFrame(
        [
            ("a", 1, "en", "x geo: 1500000,-2250000 y"),
            ("b", 2, "fr", "no mention"),
            ("c", 3, "de", "geo: 99999999999999999999,1"),
            ("d", 4, "it", "geo: 1,-99999999999999999999"),
        ],
        "url string, warc_ts long, lang string, text string",
    )
    geo = geoparse_pages(pages)
    assert geo.columns == ["url", "warc_ts", "lang", "text", "lat", "lon"]
    assert [tuple(r) for r in geo.collect()] == [
        ("a", 1, "en", "x geo: 1500000,-2250000 y", 1.5, -2.25)
    ]


def test_geojson_tiles_deterministic(spark, world, spatial):
    from osm_spark.spatial.tiles import geojson_tiles, tile_assignments

    admin = world["kept"].select(F.col("id").alias("rel_id"), "admin_level")
    t = tile_assignments(spatial["pip"], spatial["points"], admin, tile_level=6)
    g1 = {
        (r.tile, r.admin_level): r.feature_collection
        for r in geojson_tiles(t, spatial["points"]).collect()
    }
    g2 = {
        (r.tile, r.admin_level): r.feature_collection
        for r in geojson_tiles(
            t.repartition(13), spatial["points"].repartition(7)
        ).collect()
    }
    assert g1 == g2
    import json

    fc = json.loads(next(iter(g1.values())))
    assert fc["type"] == "FeatureCollection"
    assert fc["features"][0]["geometry"]["type"] == "Point"


def test_boundary_tiles_area_conserved(spark, world, spatial):
    """Clipped per-tile geometry partitions each relation's area."""
    from osm_spark.kernels.clip import multipolygon_area
    from osm_spark.spatial.tiles import boundary_tiles

    bt = boundary_tiles(world["locations"], spatial["polygon_cells"], tile_level=6)
    rows = bt.collect()
    assert all(r.n_polygons >= 1 for r in rows)
    got = {}
    for r in rows:
        shape = [
            [[[float(v) for v in pt] for pt in ring] for ring in poly]
            for poly in r.clipped
        ]
        got[r.rel_id] = got.get(r.rel_id, 0.0) + multipolygon_area(shape)
    exp = {}
    for r in world["locations"].collect():
        shape = [
            [[[float(v) for v in pt] for pt in ring] for ring in poly]
            for poly in r.shape
        ]
        exp[r.rel_id] = multipolygon_area(shape)
    assert set(got) == set(exp)
    for rel in exp:
        assert abs(got[rel] - exp[rel]) < 1e-6 * max(exp[rel], 1.0), rel


def test_mvt_golden_bytes():
    """Hand-derived protobuf wire bytes for a 1-feature tile (the
    encoder must produce exactly the spec bytes, not just roundtrip)."""
    from osm_spark.spatial.mvt import encode_point_tile

    got = encode_point_tile((0.0, 0.0, 1.0, 1.0), [(7, 42, 0.5, 0.75)])
    feature = bytes(
        [0x08, 0x07,                    # id = 7
         0x12, 0x02, 0x00, 0x00,        # tags = [key 0, value 0] packed
         0x18, 0x01,                    # type = POINT
         0x22, 0x05, 0x09,              # geometry: MoveTo count 1
         0x80, 0x20,                    # zigzag(2048) = 4096
         0x80, 0x10]                    # zigzag(1024) = 2048
    )
    layer = (
        bytes([0x78, 0x02])                       # version = 2
        + bytes([0x0A, 0x06]) + b"points"         # name
        + bytes([0x12, len(feature)]) + feature   # feature
        + bytes([0x1A, 0x06]) + b"rel_id"         # key
        + bytes([0x22, 0x02, 0x20, 0x2A])         # value int 42
        + bytes([0x28, 0x80, 0x20])               # extent 4096
    )
    expected = bytes([0x1A, len(layer)]) + layer
    assert got == expected


def test_mvt_tiles_deterministic(spark, world, spatial):
    from osm_spark.spatial.mvt import mvt_tiles
    from osm_spark.spatial.tiles import tile_assignments

    admin = world["kept"].select(F.col("id").alias("rel_id"), "admin_level")
    t = tile_assignments(spatial["pip"], spatial["points"], admin, tile_level=6)
    rows1 = {
        (r.tile, r.admin_level): (bytes(r.mvt), r.n_features)
        for r in mvt_tiles(t, spatial["points"]).collect()
    }
    rows2 = {
        (r.tile, r.admin_level): (bytes(r.mvt), r.n_features)
        for r in mvt_tiles(t.repartition(13), spatial["points"].repartition(7)).collect()
    }
    assert rows1 == rows2
    assert sum(n for _, n in rows1.values()) == t.count()
    assert all(len(b) > 0 for b, _ in rows1.values())


def test_mvt_polygon_golden_bytes():
    """Hand-derived wire bytes for one square polygon feature."""
    from osm_spark.spatial.mvt import encode_polygon_feature

    # Square (0,0)->(10,0)->(10,10)->(0,10), closed.
    got = encode_polygon_feature(
        5, [0, 0], [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]]
    )
    expected = bytes(
        [0x08, 0x05,              # id = 5
         0x12, 0x02, 0x00, 0x00,  # tags [0, 0]
         0x18, 0x03,              # type = POLYGON
         0x22, 0x0B,              # geometry, 11 varints
         0x09, 0x00, 0x00,        # MoveTo (0,0)
         0x1A,                    # LineTo count 3 = (2 | 3<<3)
         0x14, 0x00,              # (+10, 0)
         0x00, 0x14,              # (0, +10)
         0x13, 0x00,              # (-10, 0)
         0x07]                    # ClosePath
    )
    assert got == expected


def test_mvt_boundary_tiles(spark, world, spatial):
    from osm_spark.spatial.mvt import mvt_boundary_tiles
    from osm_spark.spatial.tiles import boundary_tiles

    bt = boundary_tiles(world["locations"], spatial["polygon_cells"], tile_level=6)
    rows = {r.tile: (bytes(r.mvt), r.n_features) for r in mvt_boundary_tiles(bt).collect()}
    assert rows
    # every tile's blob decodes as a length-delimited Tile message with
    # one layer and n_features features
    for tile, (blob, n) in rows.items():
        assert blob[0] == 0x1A and n >= 1
    # determinism across partitioning
    rows2 = {
        r.tile: (bytes(r.mvt), r.n_features)
        for r in mvt_boundary_tiles(bt.repartition(9)).collect()
    }
    assert rows == rows2


def test_knn_geodesic_metric(spark):
    """VERDICT r3 missing #5: planar ranking is distorted across
    latitudes. Probe at (0°E, 60°N); polygon A's nearest edge is 1.0°
    of LONGITUDE away (true ground distance ≈ 0.5 lat-degrees at 60°N),
    polygon B's is 0.7° of LATITUDE away. Planar ranks B first
    (0.7 < 1.0); metric="equirectangular" ranks A first (0.5 < 0.7).
    Both refine paths agree, and q25's default stays planar."""
    from osm_spark.spatial.covering import build_polygon_cells, polygon_geometry
    from osm_spark.spatial.knn import knn_boundaries

    def box(lon0, lon1, lat0, lat1):
        return [[[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1],
                 [lon0, lat0]]]

    locations = spark.createDataFrame(
        [
            (1, [box(1.0, 1.2, 55.0, 65.0)]),   # A: vertical edge at lon=1
            (2, [box(-5.0, 5.0, 60.7, 60.9)]),  # B: horizontal edge at lat=60.7
        ],
        "rel_id long, shape array<array<array<array<double>>>>",
    )
    pcells = build_polygon_cells(locations, 4, 8).persist()
    pgeom = polygon_geometry(locations)
    probes = spark.createDataFrame(
        [(10, 0.0, 60.0)], "point_id long, lon double, lat double"
    )
    orders = {}
    for metric in ("planar", "equirectangular"):
        for refine in ("broadcast", "cogroup"):
            got = knn_boundaries(
                probes, pcells, pgeom, k=2, level=4, radius=3,
                refine=refine, metric=metric,
            ).orderBy("rank").collect()
            orders[(metric, refine)] = [r.rel_id for r in got]
            if metric == "planar":
                assert abs(got[0].dist - 0.7) < 1e-9
                assert abs(got[1].dist - 1.0) < 1e-9
            else:
                import math

                assert abs(got[0].dist - math.cos(math.radians(60.0))) < 1e-9
                assert abs(got[1].dist - 0.7) < 1e-9
    assert orders[("planar", "broadcast")] == [2, 1]
    assert orders[("planar", "cogroup")] == [2, 1]
    assert orders[("equirectangular", "broadcast")] == [1, 2]
    assert orders[("equirectangular", "cogroup")] == [1, 2]
    pcells.unpersist()
