"""Incremental PIP enrichment (plans/incremental.py): assignments
maintained over manifest-table appends == full recompute, with
idempotent re-runs, crash/retry safety, a rewrite guard, and a per-call
Spark job count that does not grow with the table's history."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from osm_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=4)
    yield s


def _rect(x0, y0, x1, y1):
    return [
        [float(x0), float(y0)],
        [float(x1), float(y0)],
        [float(x1), float(y1)],
        [float(x0), float(y1)],
        [float(x0), float(y0)],
    ]


@pytest.fixture(scope="module")
def index_bc(spark):
    from osm_spark.spatial.covering import build_polygon_cells, polygon_geometry
    from osm_spark.spatial.pip_index import build_pip_index

    locs = spark.createDataFrame(
        [(1, [[_rect(0, 0, 10, 10)]]), (2, [[_rect(20, 0, 30, 10)]])],
        "rel_id long, shape array<array<array<array<double>>>>",
    )
    pcells = build_polygon_cells(locs, min_level=2, max_level=8)
    return spark.sparkContext.broadcast(
        build_pip_index(pcells, polygon_geometry(locs))
    )


def _pages(spark, start, n):
    """n pages with deterministic µdeg coords cycling through rel 1,
    rel 2, and the gap between them (no assignment)."""
    rows = []
    for i in range(start, start + n):
        lon_u = [5_000_000, 25_000_000, 15_000_000][i % 3] + i * 13
        rows.append(
            (
                f"https://x.test/p/{i}",
                f"doc {i} geo: {2_000_000 + i * 7},{lon_u} tail",
            )
        )
    return spark.createDataFrame(rows, "url string, text string")


def _full_expected(spark, index_bc, total):
    from osm_spark.spatial.geoparse import geoparse_pages
    from osm_spark.spatial.pip_index import pip_join_index

    pts = geoparse_pages(_pages(spark, 0, total)).withColumn(
        "point_id", F.xxhash64("url")
    )
    return sorted(
        (r["url"], r["rel_id"])
        for r in pip_join_index(
            pts.select("point_id", "lon", "lat", "url"),
            index_bc,
            keep=("url",),
        )
        .select("url", "rel_id")
        .collect()
    )


def _rows(out, version=None):
    """Sorted (url, rel_id) rows of an assignment table; it holds
    nothing else (no marker rows with url "")."""
    rows = sorted((r["url"], r["rel_id"]) for r in out.read(version).collect())
    assert all(url for url, _ in rows)
    return rows


def test_pip_increment_matches_full_recompute(spark, tmp_path, index_bc):
    from osm_spark.plans.incremental import pip_increment
    from osm_spark.sources.manifest_table import ManifestTable

    src = ManifestTable(spark, str(tmp_path / "pages"))
    src.write(_pages(spark, 0, 60), mode="overwrite")
    out_path = str(tmp_path / "assign")

    r1 = pip_increment(spark, src, out_path, index_bc)
    assert r1["applied_from"] is None and r1["applied_to"] == 1

    out = ManifestTable(spark, out_path)
    got = _rows(out)
    assert got == _full_expected(spark, index_bc, 60) and got
    assert r1["total_rows"] == len(got)

    # append an increment: only the new files are processed, result
    # equals the full recompute over everything
    src.write(_pages(spark, 60, 40), mode="append")
    r2 = pip_increment(spark, src, out_path, index_bc)
    assert (r2["applied_from"], r2["applied_to"]) == (1, 2)
    got2 = _rows(out)
    assert got2 == _full_expected(spark, index_bc, 100)
    assert len(got2) > len(got) and r2["total_rows"] == len(got2)

    # idempotent re-run: the summary says version 2 applied → no-op
    before = out.current_version()
    r3 = pip_increment(spark, src, out_path, index_bc)
    assert r3["applied_from"] == r3["applied_to"] == 2
    assert r3["total_rows"] == len(got2)
    assert out.current_version() == before

    # time travel: version 1 of the assignment table is the v1 slice
    assert _rows(out, 1) == got


def test_pip_increment_rejects_rewrites(spark, tmp_path, index_bc):
    from osm_spark.plans.incremental import pip_increment
    from osm_spark.sources.manifest_table import ManifestTable

    src = ManifestTable(spark, str(tmp_path / "pages_rw"))
    src.write(_pages(spark, 0, 20), mode="overwrite")
    out_path = str(tmp_path / "assign_rw")
    pip_increment(spark, src, out_path, index_bc)
    # source rewritten (overwrite) — not an append: must refuse
    src.write(_pages(spark, 5, 20), mode="overwrite")
    with pytest.raises(ValueError, match="rebuild"):
        pip_increment(spark, src, out_path, index_bc)


def test_pip_increment_after_compaction(spark, tmp_path, index_bc):
    """A compaction between increments removes files but no rows: the
    file diff is not append-only, so the delete probe runs, finds the
    rewritten rows cancelled, and the increment applies only the rows
    appended since."""
    from osm_spark.plans.incremental import pip_increment
    from osm_spark.sources.manifest_table import ManifestTable

    src = ManifestTable(spark, str(tmp_path / "pages_cmp"))
    src.write(_pages(spark, 0, 20), mode="overwrite")
    out_path = str(tmp_path / "assign_cmp")
    pip_increment(spark, src, out_path, index_bc)
    src.write(_pages(spark, 20, 20), mode="append")
    assert src.compact()["compacted"] >= 2
    src.write(_pages(spark, 40, 20), mode="append")
    _, removed = src.file_diff(1, 4)
    assert removed

    r = pip_increment(spark, src, out_path, index_bc)
    assert (r["applied_from"], r["applied_to"]) == (1, 4)
    got = _rows(ManifestTable(spark, out_path))
    assert got == _full_expected(spark, index_bc, 60)
    assert r["total_rows"] == len(got)


def test_pip_increment_refuses_table_without_applied_version(
    spark, tmp_path, index_bc
):
    """A table whose snapshot summary lacks the applied version (e.g.
    the older marker-row format: rows plus a url "" marker, no summary
    property) must not be re-applied from scratch."""
    from osm_spark.plans.incremental import pip_increment
    from osm_spark.sources.manifest_table import ManifestTable

    src = ManifestTable(spark, str(tmp_path / "pages_old"))
    src.write(_pages(spark, 0, 20), mode="overwrite")
    out_path = str(tmp_path / "assign_old")
    ManifestTable(spark, out_path).write(
        spark.createDataFrame(
            [("https://x.test/p/0", 1), ("", 1)], "url string, rel_id long"
        )
    )
    with pytest.raises(ValueError, match="rebuild"):
        pip_increment(spark, src, out_path, index_bc)
    assert ManifestTable(spark, out_path).current_version() == 1


def test_pip_increment_crash_before_version_swap(
    spark, tmp_path, index_bc, monkeypatch
):
    """A writer killed between its data write and the VERSION swap:
    the table stays at the old version, and after the operator's
    recover() the re-run neither loses nor duplicates rows."""
    from osm_spark.plans.incremental import applied_source_version, pip_increment
    from osm_spark.sources import manifest_table as mt

    src = mt.ManifestTable(spark, str(tmp_path / "pages_crash"))
    src.write(_pages(spark, 0, 30), mode="overwrite")
    out_path = str(tmp_path / "assign_crash")
    pip_increment(spark, src, out_path, index_bc)
    src.write(_pages(spark, 30, 30), mode="append")

    out = mt.ManifestTable(spark, out_path)
    real, fired = mt.os.replace, []

    def crash_once(src_path, dst_path):
        if dst_path == out._version_file() and not fired:
            fired.append(dst_path)
            raise OSError("killed before the VERSION swap")
        return real(src_path, dst_path)

    monkeypatch.setattr(mt.os, "replace", crash_once)
    with pytest.raises(OSError, match="killed"):
        pip_increment(spark, src, out_path, index_bc)
    assert fired and applied_source_version(out) == 1
    # the orphan claim blocks a blind retry instead of double-applying
    with pytest.raises(mt.CommitConflict):
        pip_increment(spark, src, out_path, index_bc)
    assert out.recover() == "rolled_forward"
    r = pip_increment(spark, src, out_path, index_bc)
    assert r["applied_from"] == r["applied_to"] == src.current_version() == 2
    got = _rows(out)
    assert got == _full_expected(spark, index_bc, 60)
    assert len({url for url, _ in got}) == len(got)
    assert applied_source_version(out) == src.current_version()


def test_pip_increment_over_empty_slice(spark, tmp_path, index_bc):
    """An appended empty page slice: the applied version advances and
    neither table gains a file."""
    from osm_spark.plans.incremental import applied_source_version, pip_increment
    from osm_spark.sources.manifest_table import ManifestTable

    src = ManifestTable(spark, str(tmp_path / "pages_empty"))
    src.write(_pages(spark, 0, 30), mode="overwrite")
    out_path = str(tmp_path / "assign_empty")
    pip_increment(spark, src, out_path, index_bc)
    out = ManifestTable(spark, out_path)
    files = out.lineage()

    src.write(_pages(spark, 30, 0), mode="append")
    assert src.lineage(2) == src.lineage(1)
    r = pip_increment(spark, src, out_path, index_bc)
    assert (r["applied_from"], r["applied_to"]) == (1, 2)
    assert out.current_version() == 2 and applied_source_version(out) == 2
    assert out.lineage() == files
    assert _rows(out) == _full_expected(spark, index_bc, 30)


def test_pip_increment_jobs_flat_in_history(spark, tmp_path, index_bc):
    """Each increment runs the same number of Spark jobs however many
    snapshots the tables hold: nothing scans the table's history. One
    job: the write of the assignments, which returns their lineage (no
    read-back); an append-only file diff runs no delete probe.

    A scan over more files than the parallel-discovery threshold lists
    them with a Spark job of its own; the threshold is lowered from 32
    so that a scan of the whole assignment table crosses it within a
    few increments, as it does early in a production table's life."""
    from osm_spark.plans.incremental import pip_increment
    from osm_spark.sources.manifest_table import ManifestTable

    sc = spark.sparkContext
    src = ManifestTable(spark, str(tmp_path / "pages_hist"))
    out_path = str(tmp_path / "assign_hist")
    conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "8")
    jobs = []
    try:
        for i in range(6):
            src.write(_pages(spark, 30 * i, 30), mode="append" if i else "overwrite")
            group = f"{tmp_path.name}-pip_increment-{i}"
            sc.setJobGroup(group, "pip_increment")
            try:
                pip_increment(spark, src, out_path, index_bc)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        spark.conf.set(conf, saved)
    assert jobs[1] == jobs[5] <= 1, jobs
    assert _rows(ManifestTable(spark, out_path)) == _full_expected(
        spark, index_bc, 180
    )
