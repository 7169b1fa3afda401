"""Incremental k-means maintenance (text/kmeans_incremental.py):
two-commit flow vs a python twin, idempotence, time travel, and the
append-only guard."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from osm_spark.sources.manifest_table import ManifestTable
from osm_spark.text.kmeans import _trunc_div, kmeans_fit
from osm_spark.text.kmeans_incremental import (
    kmeans_increment,
    read_model,
)
from tests.test_kmeans import _corpus, _twin_fit, _twin_quantize


def _twin_flow(rows, k, n_iters):
    """Retrospective python replay: fit on batch 1, census, assign
    batch 2 against the post-init centroids, fold, trunc-div."""
    b1 = [(i, _twin_quantize(v)) for i, v in rows if i % 2 == 0]
    b2 = [(i, _twin_quantize(v)) for i, v in rows if i % 2 == 1]
    fit = _twin_fit(b1, k, n_iters)
    dim = len(fit[0])

    def census(batch, cents, counts, sums):
        for _i, q in batch:
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(q, c)), j)
                for j, c in enumerate(cents)
            )[1]
            counts[best] += 1
            for d in range(dim):
                sums[best][d] += q[d]

    counts, sums = [0] * k, [[0] * dim for _ in range(k)]
    census(b1, fit, counts, sums)
    c1 = [
        [_trunc_div(s, counts[j]) for s in sums[j]] if counts[j] else fit[j]
        for j in range(k)
    ]
    census(b2, c1, counts, sums)
    c2 = [
        [_trunc_div(s, counts[j]) for s in sums[j]] if counts[j] else c1[j]
        for j in range(k)
    ]
    return c1, c2, counts, sums


@pytest.fixture()
def src(spark):
    rows = _corpus()
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    root = tempfile.mkdtemp(prefix="kminc_t_")
    t = ManifestTable(spark, f"{root}/emb")
    t.write(df.where(F.col("vec_id") % 2 == 0), mode="overwrite")
    return rows, df, t, f"{root}/model"


def test_two_commit_flow_matches_twin(spark, src):
    rows, df, t, mp = src
    k, it = 4, 2
    r1 = kmeans_increment(spark, t, mp, k=k, n_iters=it)
    t.write(df.where(F.col("vec_id") % 2 == 1), mode="append")
    r2 = kmeans_increment(spark, t, mp, k=k, n_iters=it)
    c1, c2, counts, sums = _twin_flow(rows, k, it)
    cents, got_counts, got_sums, applied = read_model(
        ManifestTable(spark, mp)
    )
    assert cents == c2 and got_counts == counts and got_sums == sums
    assert applied == 2 and r2["applied_to"] == 2
    assert r1["n_total"] == sum(1 for i, _ in rows if i % 2 == 0)
    assert r2["n_total"] == len(rows)


def test_idempotent_rerun_and_time_travel(spark, src):
    rows, df, t, mp = src
    k, it = 3, 2
    kmeans_increment(spark, t, mp, k=k, n_iters=it)
    m = ManifestTable(spark, mp)
    v1_state = sorted(map(tuple, m.read().collect()))
    t.write(df.where(F.col("vec_id") % 2 == 1), mode="append")
    kmeans_increment(spark, t, mp, k=k, n_iters=it)
    r = kmeans_increment(spark, t, mp, k=k, n_iters=it)  # no-op
    assert r["applied_from"] == r["applied_to"] == 2
    assert m.current_version() == 2  # the no-op committed nothing
    # time travel: version 1 of the model is the post-init state
    assert sorted(map(tuple, m.read(version=1).collect())) == v1_state


def test_rewrite_refused(spark, src):
    rows, df, t, mp = src
    kmeans_increment(spark, t, mp, k=3, n_iters=1)
    t.write(df.where(F.col("vec_id") % 3 == 0), mode="overwrite")
    with pytest.raises(ValueError, match="rebuild"):
        kmeans_increment(spark, t, mp, k=3, n_iters=1)


def _jobs_in(spark, group, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_append_only_increment_runs_no_delete_probe(spark, src, tmp_path):
    """An append-only file diff cannot hold deletes, so the increment
    reads the appended files without a probe job: 4 Spark jobs, for the
    model read, the batch sums and the model write (5 with the probe)."""
    rows, df, t, mp = src
    kmeans_increment(spark, t, mp, k=3, n_iters=1)
    t.write(df.where(F.col("vec_id") % 2 == 1), mode="append")
    assert t.file_diff(1, 2)[1] == []
    n = _jobs_in(
        spark, f"{tmp_path.name}-kmeans_increment",
        lambda: kmeans_increment(spark, t, mp, k=3, n_iters=1),
    )
    assert n <= 4, n
    assert read_model(ManifestTable(spark, mp))[3] == 2


def test_increment_after_compaction(spark, src):
    """A compaction between increments removes files but no rows: the
    delete probe runs, finds the rewritten rows cancelled, and the model
    equals the two-commit flow's."""
    rows, df, t, mp = src
    k, it = 4, 2
    kmeans_increment(spark, t, mp, k=k, n_iters=it)
    t.write(df.where(F.col("vec_id") % 2 == 1), mode="append")
    assert t.compact()["compacted"] >= 2
    assert t.file_diff(1, 3)[1]
    r = kmeans_increment(spark, t, mp, k=k, n_iters=it)
    assert (r["applied_from"], r["applied_to"]) == (1, 3)
    assert r["n_total"] == len(rows)
    _c1, c2, counts, sums = _twin_flow(rows, k, it)
    cents, got_counts, got_sums, applied = read_model(ManifestTable(spark, mp))
    assert cents == c2 and got_counts == counts and got_sums == sums
    assert applied == 3


def test_empty_cluster_keeps_centroid(spark):
    # batch 2 lands entirely in one cluster; the other keeps its
    # previous centroid through the fold
    rows1 = [(0, [0.0, 0.0]), (2, [0.1, 0.0]), (4, [1.0, 1.0]),
             (6, [0.9, 1.0])]
    rows2 = [(1, [0.05, 0.0])]
    spark_df = lambda rs: __import__("pyspark").sql.SparkSession.getActiveSession().createDataFrame(
        rs, "vec_id long, embedding array<double>"
    )
    root = tempfile.mkdtemp(prefix="kminc_e_")
    t = ManifestTable(spark, f"{root}/emb")
    t.write(spark_df(rows1), mode="overwrite")
    kmeans_increment(spark, t, f"{root}/model", k=2, n_iters=2)
    m = ManifestTable(spark, f"{root}/model")
    c1, n1, s1, _ = read_model(m)
    t.write(spark_df(rows2), mode="append")
    kmeans_increment(spark, t, f"{root}/model", k=2, n_iters=2)
    c2, n2, s2, _ = read_model(m)
    moved = [j for j in range(2) if n2[j] != n1[j]]
    kept = [j for j in range(2) if n2[j] == n1[j]]
    assert len(moved) == 1 and len(kept) == 1
    assert c2[kept[0]] == c1[kept[0]] and s2[kept[0]] == s1[kept[0]]
    assert n2[moved[0]] == n1[moved[0]] + 1

def test_marker_row_model_refused(spark, src):
    """A model table in the older format (the applied source version in
    a cid = -1 marker row, not in the snapshot summary) is refused with
    "rebuild" instead of being read as a model without one."""
    rows, df, t, mp = src
    kmeans_increment(spark, t, mp, k=3, n_iters=1)
    m = ManifestTable(spark, mp)
    assert m.snapshot()["summary"]["applied_source_version"] == 1
    assert sorted(r["cid"] for r in m.read().collect()) == [0, 1, 2]
    old = m.read().unionByName(
        spark.createDataFrame(
            [(-1, 1, [0, 0], [0, 0])],
            "cid int, n long, sums array<long>, centroid array<long>",
        ).select(*m.read().columns)
    )
    m.write(old.localCheckpoint(eager=True), mode="overwrite")
    t.write(df.where(F.col("vec_id") % 2 == 1), mode="append")
    with pytest.raises(ValueError, match="rebuild"):
        read_model(m)
    with pytest.raises(ValueError, match="rebuild"):
        kmeans_increment(spark, t, mp, k=3, n_iters=1)
