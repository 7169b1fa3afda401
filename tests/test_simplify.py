"""Douglas-Peucker simplification: kernel invariants + distributed op.

Reference anchor: SCALE.md names simplification as the planet-scale
mitigation for the broadcast PipIndex budget; this pins the kernel's
DP semantics (closed-ring anchoring, strict-greater threshold,
smallest-index tie-break) and the operator's schema/drop behavior.
"""

import numpy as np
import pytest

from osm_spark.kernels.simplify import (
    MIN_RING_POINTS,
    simplify_polygon,
    simplify_ring,
    simplify_ring_indices,
)


@pytest.fixture(scope="module")
def pages(spark):
    from osm_spark.data.pages import PagesSpec, pages_df

    return pages_df(spark, PagesSpec(n_pages=1000, n_countries=1)).persist()


def _close(pts):
    return pts + [pts[0]]


def test_collinear_and_subtol_removed():
    # Square with collinear mid-edge points and one 0.05-high bump.
    ring = _close(
        [
            [0.0, 0.0],
            [1.0, 0.0],
            [2.0, 0.0],
            [2.0, 1.0],
            [2.0, 2.0],
            [1.0, 2.0],
            [1.0, 2.05],
            [0.0, 2.0],
            [0.0, 1.0],
        ]
    )
    out = simplify_ring(ring, tol=0.1)
    assert out is not None
    # Corners survive; collinear mids and the sub-tol bump are gone.
    kept = {tuple(p) for p in out}
    assert {(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)} <= kept
    assert (1.0, 0.0) not in kept and (1.0, 2.05) not in kept
    assert out[0] == out[-1]  # still closed


def test_bump_over_tolerance_kept():
    ring = _close([[0.0, 0.0], [2.0, 0.0], [1.0, 0.5], [2.0, 2.0], [0.0, 2.0]])
    out = simplify_ring(ring, tol=0.1)
    assert [1.0, 0.5] in out


def test_deviation_invariant_random_ring():
    rng = np.random.default_rng(0)
    theta = np.sort(rng.uniform(0, 2 * np.pi, 300))
    r = 1.0 + 0.05 * rng.standard_normal(300)
    xs = np.append(r * np.cos(theta), r[0] * np.cos(theta[0]))
    ys = np.append(r * np.sin(theta), r[0] * np.sin(theta[0]))
    tol = 0.02
    kept = simplify_ring_indices(xs, ys, tol)
    # Subset + closure anchors.
    assert kept[0] == 0 and kept[-1] == xs.shape[0] - 1
    assert np.all(np.diff(kept) >= 1)
    # Every removed vertex is within tol of the LINE through the kept
    # vertices bracketing it (the DP anchor-line invariant).
    for a, b in zip(kept[:-1], kept[1:]):
        if b - a < 2:
            continue
        ax, ay, bx, by = xs[a], ys[a], xs[b], ys[b]
        px, py = xs[a + 1 : b], ys[a + 1 : b]
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        if len2 == 0.0:
            d2 = (px - ax) ** 2 + (py - ay) ** 2
        else:
            cross = dx * (ay - py) - (ax - px) * dy
            d2 = cross * cross / len2
        assert np.all(d2 <= tol * tol + 1e-12)


def test_tie_break_smallest_index():
    # Two interior points at the exact same distance from the
    # degenerate first baseline -> the smaller index must anchor first
    # and both end up kept (symmetric rectangle), deterministically.
    ring = _close([[0.0, 0.0], [1.0, 1.0], [2.0, 0.0], [1.0, -1.0]])
    a = simplify_ring(ring, tol=0.1)
    b = simplify_ring(ring, tol=0.1)
    assert a == b
    assert [1.0, 1.0] in a and [1.0, -1.0] in a


def test_collapse_semantics():
    tiny = _close([[0.0, 0.0], [1e-7, 0.0], [1e-7, 1e-7], [0.0, 1e-7]])
    big = _close([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
    assert simplify_ring(tiny, tol=0.1) is None
    # Collapsed hole dropped, outer kept.
    out = simplify_polygon([big, tiny], tol=0.1)
    assert out is not None and len(out) == 1
    # Collapsed outer drops the polygon even with a (nonsense) big hole.
    assert simplify_polygon([tiny, big], tol=0.1) is None
    assert MIN_RING_POINTS == 4


def test_simplify_shapes_operator(spark):
    from osm_spark.spatial.simplify import simplify_shapes

    big = _close([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])
    tiny = _close([[5.0, 5.0], [5.0 + 1e-7, 5.0], [5.0, 5.0 + 1e-7]])
    df = spark.createDataFrame(
        [
            (1, [[big]], 1),
            (2, [[tiny]], 1),          # collapses -> row dropped
            (3, [[big], [tiny]], 2),   # sliver polygon dropped, count 2->1
        ],
        "rel_id long, shape array<array<array<array<double>>>>, n_polygons int",
    )
    out = simplify_shapes(df, tol=0.1)
    assert out.schema == df.schema
    rows = {r["rel_id"]: r for r in out.collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_polygons"] == 1
    assert rows[3]["n_polygons"] == 1
    # Collinear mid-edge vertex removed.
    assert len(rows[1]["shape"][0][0]) == 5
    assert [1.0, 0.0] not in rows[1]["shape"][0][0]


def test_q55_matches_recursive_cte_oracle(spark):
    """Spark DP kernel vs the independent DuckDB recursive-CTE DP —
    bit-exact row sets (coords are pass-through doubles, so equality
    pins the kept set, drop semantics and renumbering)."""
    import duckdb

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q55_simplify"](spark, "")
    srows = {tuple(r) for r in df.collect()}
    orows = {
        tuple(r)
        for r in duckdb.sql(entrymod.oracle_sql()["q55_simplify"]).fetchall()
    }
    assert len(srows) > 0
    assert srows == orows
    # rel 3 collapses entirely at this tolerance.
    assert not any(r[0] == 3 for r in srows)


def test_pipeline_zero_tol_assignments_identical(spark, world, pages):
    """tol=1e-9 removes only exactly-collinear vertices — the polygon
    POINT SET is unchanged, so PIP assignment must be bit-identical."""
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

    base = run_spatial_pipeline(
        spark, pages, world["locations"], world["kept"], mode="index"
    )
    simp = run_spatial_pipeline(
        spark, pages, world["locations"], world["kept"], mode="index",
        simplify_tol=1e-9,
    )
    a = {(r["point_id"], r["rel_id"]) for r in base["pip"].collect()}
    b = {(r["point_id"], r["rel_id"]) for r in simp["pip"].collect()}
    assert a == b and len(a) > 0
    # Composition: simplification + the catalyst join together still
    # reproduce the plain index path bit-for-bit at tol→0.
    both = run_spatial_pipeline(
        spark, pages, world["locations"], world["kept"],
        mode="catalyst", simplify_tol=1e-9,
    )
    c = {(r["point_id"], r["rel_id"]) for r in both["pip"].collect()}
    assert c == a
