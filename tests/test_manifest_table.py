"""Snapshot/manifest table format (sources/manifest_table.py): the
guarantees the north rule's checkpoint-resume + lineage story rests on —
atomic commits, append isolation, time travel, per-file lineage, and
the full boundaries pipeline checkpointing/resuming through the format
(test_pipeline_spark pins the per-stage hashes of a resume).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from osm_spark.sources.manifest_table import CommitConflict, ManifestTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_roundtrip_and_orphans_invisible(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read()
    t.write(_df(spark, 0, 100))
    assert t.current_version() == 1
    got = t.read()
    assert got.count() == 100
    assert [f.name for f in got.schema.fields] == ["id", "v"]
    # A file dropped into the data dir outside a commit (orphan from a
    # dead writer) is invisible: readers use the manifest's explicit
    # file list, never a glob.
    orphan_dir = tmp_path / "t" / "data" / "cdeadbeef"
    _df(spark, 1000, 2000).write.parquet(str(orphan_dir))
    assert t.read().count() == 100


def test_append_isolation_and_time_travel(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 50))
    # Reader resolves snapshot 1's file list NOW; the append below must
    # not affect it (J6 resume reads `locations` while appending to it).
    reader_v1 = t.read()
    t.write(_df(spark, 50, 80), mode="append")
    assert t.current_version() == 2
    assert t.read().count() == 80
    assert reader_v1.count() == 50
    assert t.read(version=1).count() == 50
    h = t.history()
    assert [s["operation"] for s in h] == ["overwrite", "append"]
    assert [s["total_rows"] for s in h] == [50, 80]
    # Appended snapshot references the parent's identical file entries.
    v1_files = {e["path"] for e in t.lineage(1)}
    v2_files = {e["path"] for e in t.lineage(2)}
    assert v1_files < v2_files


def test_atomicity_failed_commit_leaves_table_readable(
    spark, tmp_path, monkeypatch
):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 10))

    real_replace = os.replace

    def dying_replace(src, dst):
        raise OSError("simulated writer death at the commit point")

    monkeypatch.setattr(os, "replace", dying_replace)
    with pytest.raises(OSError, match="simulated"):
        t.write(_df(spark, 0, 999))
    monkeypatch.setattr(os, "replace", real_replace)
    # Table unchanged; orphaned data files invisible.
    assert t.current_version() == 1
    assert t.read().count() == 10


def test_commit_conflict_detected(spark, tmp_path, monkeypatch):
    import osm_spark.sources.manifest_table as mt

    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 10))

    real = mt.ManifestTable._write_files

    def racing_write(self, df, stats_cols):
        # Another writer advances the table inside our load->commit
        # window (simulated by bumping VERSION directly).
        out = real(self, df, stats_cols)
        with open(t._version_file(), "w") as fh:
            fh.write("7")
        return out

    monkeypatch.setattr(mt.ManifestTable, "_write_files", racing_write)
    with pytest.raises(CommitConflict):
        t.write(_df(spark, 0, 5))
    assert t.current_version() == 7  # the "other writer" won


def test_commit_conflict_same_version_never_clobbers_winner(spark, tmp_path, monkeypatch):
    """ADVICE r3 (medium): two writers racing from the SAME base version
    compute the same target version; the loser must get CommitConflict
    and must NOT overwrite the winner's already-committed manifest —
    O_EXCL snapshot creation is the atomic claim."""
    import osm_spark.sources.manifest_table as mt

    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 10))  # v1, base for both racers

    real = mt.ManifestTable._write_files
    winner = ManifestTable(spark, str(tmp_path / "t"))

    state = {"fired": False}

    def racing_write(self, df, stats_cols):
        out = real(self, df, stats_cols)
        if not state["fired"]:
            state["fired"] = True  # the winner commits v2 inside our window
            monkeypatch.setattr(mt.ManifestTable, "_write_files", real)
            winner.write(_df(spark, 100, 150), mode="append")
        return out

    monkeypatch.setattr(mt.ManifestTable, "_write_files", racing_write)
    with pytest.raises(CommitConflict):
        t.write(_df(spark, 0, 5), mode="append")
    # The winner's commit is intact: v2 readable, rows preserved.
    assert t.current_version() == 2
    assert t.read().count() == 60
    assert t.snapshot(2)["summary"]["total_rows"] == 60


def test_history_after_vacuum_skips_expired(spark, tmp_path):
    """ADVICE r3 (low): history() on a vacuumed table must not raise on
    expired snapshot manifests."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 10))
    t.write(_df(spark, 0, 20), mode="append")
    t.write(_df(spark, 0, 5))
    t.vacuum(keep_last=1)
    hist = t.history()
    assert [h["version"] for h in hist] == [3]
    assert hist[0]["total_rows"] == 5


def test_lineage_sums_and_manifest_hash(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    df = _df(spark, 0, 1000).repartition(4)
    t.write(df)
    snap = t.snapshot()
    assert snap["summary"]["total_rows"] == 1000
    assert sum(e["rows"] for e in snap["files"]) == 1000
    assert snap["summary"]["total_files"] == len(snap["files"]) >= 4
    # Per-file hashes are real content fingerprints: identical content
    # re-committed reproduces the same per-file multiset-of-hashes sum.
    t2 = ManifestTable(spark, str(tmp_path / "t2"))
    t2.write(_df(spark, 0, 1000).repartition(4))
    def total(tab):
        return sum(e["content_hash"] ^ e["rows"] for e in tab.lineage())
    assert total(t) == total(t2)


def test_empty_commit_keeps_schema(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 5).where(F.lit(False)))
    got = t.read()
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "v"]


def test_vacuum_drops_expired_and_orphans(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 10))
    v1_files = [e["path"] for e in t.lineage(1)]
    t.write(_df(spark, 0, 20))  # overwrite: v1 files now expired
    deleted = t.vacuum(keep_last=1)
    assert set(v1_files) <= set(deleted)
    assert t.read().count() == 20
    with pytest.raises(FileNotFoundError):
        t.read(version=1)


def test_pipeline_checkpoints_and_resumes_via_manifest(spark, tmp_path):
    """The boundaries pipeline on a freshly generated one-country world,
    checkpointed and then resumed: every stage and the metrics are
    ManifestTable commits."""
    from osm_spark.data.worldgen import WorldSpec, world_dataframes
    from osm_spark.plans.pipeline import content_hash, run_boundaries_pipeline

    nodes, ways, rels, cfg = world_dataframes(spark, WorldSpec(n_countries=1))
    root = str(tmp_path / "ck")
    out1 = run_boundaries_pipeline(
        spark, nodes, ways, rels, cfg, checkpoint_dir=root,
    )
    b1, h1 = out1["boundaries"].count(), content_hash(out1["boundaries"])
    out2 = run_boundaries_pipeline(
        spark, nodes, ways, rels, cfg, checkpoint_dir=root, resume=True,
    )
    assert out2["boundaries"].count() == b1
    assert content_hash(out2["boundaries"]) == h1
    loc = ManifestTable(spark, os.path.join(root, "locations"))
    ops = [s["operation"] for s in loc.history()]
    assert ops[0] == "overwrite" and "append" in ops
    # Resume found everything checkpointed: the append added 0 rows.
    hist = loc.history()
    assert hist[-1]["total_rows"] == hist[0]["total_rows"]
    # Metrics flow through the manifest format too, with per-partition
    # lineage rows (partition >= 0) under each whole-table row (-1).
    metrics = ManifestTable(spark, os.path.join(root, "metrics")).read()
    stages = {r["stage"] for r in metrics.collect()}
    assert {"ways_geom", "locations", "centroids", "boundaries"} <= stages
    assert metrics.where(F.col("partition") >= 0).count() > 0


def test_split_tables_stable_across_appends(spark, tmp_path):
    """write_split_tables (VERDICT r3 next #7): commit → append a new
    shard → every split's EXISTING membership is unchanged (hash
    bucketing is key-pure), the new shard lands split-consistently,
    splits stay disjoint+exhaustive at every version, and per-split
    row counts ride each table's snapshot summary."""
    from osm_spark.text.sampling import hash_split, write_split_tables

    root = str(tmp_path / "splits")
    splits = {"train": 0.8, "val": 0.2}

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"), F.col("id").cast("string").alias("k")
        )

    tables = write_split_tables(docs(0, 400), "k", splits, root, salt="s:")
    v1 = {
        name: {r.doc_id for r in t.read().collect()}
        for name, t in tables.items()
    }
    assert v1["train"] | v1["val"] == set(range(400))
    assert not (v1["train"] & v1["val"])
    # Append a disjoint shard.
    tables2 = write_split_tables(
        docs(400, 600), "k", splits, root, salt="s:", mode="append"
    )
    v2 = {
        name: {r.doc_id for r in t.read().collect()}
        for name, t in tables2.items()
    }
    # Old membership embedded unchanged; union covers the new shard.
    for name in splits:
        assert v1[name] <= v2[name]
    assert v2["train"] | v2["val"] == set(range(600))
    assert not (v2["train"] & v2["val"])
    # The appended rows match an independent hash_split assignment.
    want = {
        r.doc_id: r.split
        for r in hash_split(docs(400, 600), "k", splits, salt="s:").collect()
    }
    for name in splits:
        assert {d for d in v2[name] - v1[name]} == {
            d for d, s in want.items() if s == name
        }
    # Time travel: version 1 of each split is still exactly v1.
    for name, t in tables2.items():
        assert {r.doc_id for r in t.read(version=1).collect()} == v1[name]
        hist = t.history()
        assert [h["version"] for h in hist] == [1, 2]
        assert hist[0]["total_rows"] == len(v1[name])
        assert hist[1]["total_rows"] == len(v2[name])


def test_stats_pruning_plans_fewer_files_and_reads_exactly(spark, tmp_path):
    """Per-file min/max stats (write(stats_cols=)) + read_where: the
    Iceberg scan-planning contract — file skipping decided from the
    manifest alone."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    # Range-clustered writer: 8 files with disjoint id ranges.
    df = _df(spark, 0, 800).repartitionByRange(8, "id")
    t.write(df, stats_cols=["id"])
    kept, total = t.plan_files({"id": (100, 199)})
    assert total == 8
    assert 1 <= len(kept) <= 3  # range boundaries may straddle 2 files
    got = t.read_where({"id": (100, 199)})
    assert sorted(r.id for r in got.collect()) == list(range(100, 200))
    # Half-open bounds.
    assert t.read_where({"id": (700, None)}).count() == 100
    assert t.read_where({"id": (None, 49)}).count() == 50
    # Out-of-range plans zero files and returns an empty, well-typed df.
    kept, _ = t.plan_files({"id": (10_000, 20_000)})
    assert kept == []
    empty = t.read_where({"id": (10_000, 20_000)})
    assert empty.count() == 0
    # (nullability differs between an empty local relation and a
    # parquet scan — names/types are the contract)
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in t.read().schema
    ]


def test_stats_pruning_append_and_statless_files_kept(spark, tmp_path):
    """Appends accumulate stats per commit; files committed WITHOUT
    stats are conservatively kept by every plan."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 100).coalesce(1), stats_cols=["id"])
    t.write(_df(spark, 100, 200).coalesce(1), mode="append", stats_cols=["id"])
    t.write(_df(spark, 200, 300).coalesce(1), mode="append")  # no stats
    kept, total = t.plan_files({"id": (0, 50)})
    assert total == 3
    # File 1 matches, file 2 excluded by stats, file 3 kept (no stats).
    paths = {e["path"] for e in kept}
    assert len(kept) == 2
    stats_by_path = {
        e["path"]: e.get("stats") for e in t.lineage()
    }
    assert sum(1 for s in stats_by_path.values() if s is None) == 1
    got = t.read_where({"id": (0, 50)})
    assert sorted(r.id for r in got.collect()) == list(range(0, 51))
    assert len(paths) == 2


def test_recover_rolls_forward_complete_orphan_claim(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "rf"))
    t.write(_df(spark, 0, 10))
    # simulate a writer that crashed AFTER durably writing v2.json but
    # BEFORE the VERSION swap: perform a real append, then rewind
    # VERSION to 1 (the manifest itself is complete and consistent)
    t.write(_df(spark, 10, 20), mode="append")
    with open(os.path.join(str(tmp_path / "rf"), "VERSION"), "w") as fh:
        fh.write("1")
    assert t.current_version() == 1
    # the table is wedged: the next commit computes v2 and conflicts
    with pytest.raises(CommitConflict):
        t.write(_df(spark, 20, 30), mode="append")
    assert t.recover() == "rolled_forward"
    assert t.current_version() == 2
    assert t.read().count() == 20  # the interrupted append is visible
    t.write(_df(spark, 20, 30), mode="append")  # table writable again
    assert t.read().count() == 30
    assert t.recover() == "clean"


def test_recover_rolls_back_truncated_orphan_claim(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "rb"))
    t.write(_df(spark, 0, 10))
    # simulate a crash mid-json.dump: an empty claimed v2 manifest
    open(t._snapshot_path(2), "w").close()
    with pytest.raises(CommitConflict):
        t.write(_df(spark, 10, 20), mode="append")
    assert t.recover() == "rolled_back"
    assert t.current_version() == 1
    t.write(_df(spark, 10, 20), mode="append")
    assert t.current_version() == 2
    assert t.read().count() == 20


# -- merge (copy-on-write upsert) + changes (CDC) -------------------------


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k: int, v: string")


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]).repartition(3))
    res = t.merge(_kv(spark, [(2, "B"), (9, "i")]), on=["k"])
    assert res["version"] == 2
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (9, "i")}
    # time travel: the pre-merge snapshot is intact
    old = {(r["k"], r["v"]) for r in t.read(version=1).collect()}
    assert old == {(1, "a"), (2, "b"), (3, "c")}


def test_merge_rewrites_only_affected_files(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    # 4 files, one key each — a 1-key merge must carry 3 untouched
    t.write(_kv(spark, [(i, f"v{i}") for i in range(4)]).repartitionByRange(4, "k"))
    before = {e["path"] for e in t.lineage()}
    assert [e["rows"] for e in t.lineage()] == [1, 1, 1, 1]
    res = t.merge(_kv(spark, [(2, "NEW")]), on=["k"])
    after = {e["path"] for e in t.lineage()}
    assert res["files_carried"] >= 2
    assert res["files_rewritten"] + res["files_carried"] == len(before)
    # carried files are literally the same paths (no rewrite)
    assert len(before & after) == res["files_carried"]


def test_merge_delete_mode(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge(spark.createDataFrame([(2,)], "k: int"), on=["k"],
            when_matched="delete")
    got = {r["k"] for r in t.read().collect()}
    assert got == {1, 3}


def test_merge_schema_mismatch_rejected(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_kv(spark, [(1, "a")]))
    with pytest.raises(ValueError):
        t.merge(spark.createDataFrame([(1,)], "k: int"), on=["k"])


def test_changes_net_rows_suppress_carried(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    # ONE file holding three keys: updating k=2 rewrites the whole
    # file, but rows 1 and 3 ride along — net CDC must not report them
    t.write(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    t.merge(_kv(spark, [(2, "B"), (9, "i")]), on=["k"])
    ch = {
        (r["_change_type"], r["k"], r["v"])
        for r in t.changes(1, 2).collect()
    }
    assert ch == {
        ("delete", 2, "b"),
        ("insert", 2, "B"),
        ("insert", 9, "i"),
    }


def test_changes_append_only_is_pure_inserts(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_kv(spark, [(1, "a")]))
    t.write(_kv(spark, [(2, "b"), (2, "b"), (3, "c")]), mode="append")
    ch = t.changes(1, 2)
    got = sorted((r["_change_type"], r["k"], r["v"]) for r in ch.collect())
    assert got == [("insert", 2, "b"), ("insert", 2, "b"), ("insert", 3, "c")]
    # the same rows, duplicates included, as the net pass's anti-join
    # against an empty delete side
    schema = t.read().schema
    added = sorted({e["path"] for e in t.lineage(2)} - {e["path"] for e in t.lineage(1)})
    net = spark.read.schema(schema).parquet(*added).join(
        spark.createDataFrame([], schema), ["k", "v"], "left_anti"
    )
    assert got == sorted(("insert", r["k"], r["v"]) for r in net.collect())
    # ... read with no join and no shuffle
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan
    # a delete probe on the literal change type reads nothing
    assert ch.where(F.col("_change_type") == "delete").count() == 0


def test_inserts_reads_each_snapshot_once(spark, tmp_path, monkeypatch):
    """inserts diffs the two snapshots once: an append-only increment
    and a compacted one each read the from- and to-snapshot exactly
    once, and return the appended rows."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_kv(spark, [(1, "a"), (2, "b")]).repartition(2))
    t.write(_kv(spark, [(3, "c")]), mode="append")
    assert t.compact()["version"] == 3
    t.write(_kv(spark, [(4, "d")]), mode="append")
    reads = []
    snapshot = ManifestTable.snapshot

    def counted(self, version=None):
        reads.append(version)
        return snapshot(self, version)

    monkeypatch.setattr(ManifestTable, "snapshot", counted)
    for lo, hi, want in ((1, 2, [(3, "c")]), (2, 4, [(4, "d")])):
        reads.clear()
        got = [(r["k"], r["v"]) for r in t.inserts(lo, hi, "x").collect()]
        assert sorted(got) == want
        assert reads == [lo, hi]


def test_changes_compact_then_append_cancels(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_kv(spark, [(i, f"v{i}") for i in range(8)]).repartition(4))
    assert t.compact(small_file_rows=1000, target_file_rows=1000)["compacted"] >= 2
    t.write(_kv(spark, [(9, "i")]), mode="append")
    # the compaction's rewritten rows cancel against the files it removed
    assert t.changes(1, 2).count() == 0
    ch = {(r["_change_type"], r["k"], r["v"]) for r in t.changes(1, 3).collect()}
    assert ch == {("insert", 9, "i")}


def test_summary_props_commit_and_carry_forward(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))

    def prop():
        return t.snapshot()["summary"].get("applied")

    t.write(_kv(spark, [(1, "a"), (2, "b")]).repartition(2), props={"applied": 1})
    assert prop() == 1 and t.snapshot()["summary"]["total_rows"] == 2
    t.write(_kv(spark, [(3, "c")]), mode="append")
    assert prop() == 1
    t.write(_kv(spark, [(4, "d")]), mode="append", props={"applied": 2})
    assert prop() == 2
    assert t.compact(small_file_rows=1000, target_file_rows=1000)["compacted"] >= 2
    assert prop() == 2
    t.merge(_kv(spark, [(1, "A")]), on=["k"])
    assert prop() == 2 and t.snapshot()["operation"] == "merge"
    # the table totals always win over a property of the same name
    t.write(_kv(spark, [(5, "e")]), mode="append", props={"total_rows": 0})
    assert t.snapshot()["summary"]["total_rows"] == t.read().count() == 5
    # a value json cannot encode fails before the snapshot is claimed:
    # the table is not wedged
    v = t.current_version()
    with pytest.raises(TypeError):
        t.write(_kv(spark, [(5, "e")]), mode="append", props={"applied": object()})
    assert t.current_version() == v and t.recover() == "clean"
    t.write(_kv(spark, [(6, "f")]))
    assert prop() is None and t.current_version() == v + 1


def test_compact_binpacks_and_preserves_content(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    df = _kv(spark, [(i, f"v{i}") for i in range(20)])
    t.write(df.repartition(8))
    before = {(r["k"], r["v"]) for r in t.read().collect()}
    h1 = t.table_hash()
    res = t.compact(small_file_rows=1000, target_file_rows=1000)
    assert res["compacted"] == 8 and res["written"] == 1
    assert t.current_version() == 2
    # the partition-invariant table hash survives the re-binning
    assert t.table_hash() == h1
    assert {(r["k"], r["v"]) for r in t.read().collect()} == before
    # time travel: pre-compaction snapshot still lists the 8 files
    assert len(t.lineage(1)) == 8 and len(t.lineage(2)) == 1


def test_compact_carries_large_files_untouched(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_kv(spark, [(i, "big") for i in range(50)]).coalesce(1))
    t.write(_kv(spark, [(100, "s1")]), mode="append")
    t.write(_kv(spark, [(101, "s2")]), mode="append")
    big_paths = {e["path"] for e in t.lineage() if e["rows"] >= 10}
    res = t.compact(small_file_rows=10, target_file_rows=1000)
    assert res["compacted"] >= 2
    after = {e["path"] for e in t.lineage()}
    assert big_paths <= after  # large files carried by path, no rewrite
    assert t.read().count() == 52


def test_compact_noop_below_two_small_files(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(_kv(spark, [(1, "a")]).coalesce(1))
    res = t.compact()
    assert res == {"version": 1, "compacted": 0, "written": 0}
    assert t.current_version() == 1
