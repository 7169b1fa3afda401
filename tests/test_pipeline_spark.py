"""End-to-end pipeline semantics over the 1-country mini-world
(FIXTURES.md §3). One shared pipeline run (conftest ``world``); each
test pins a semantic branch of the reference."""

import os

import pytest
from pyspark.sql import functions as F

from osm_spark.data.worldgen import (
    COMMUNE_BASE,
    COUNTRY_BASE,
    DEPT_BASE,
    METRO_BASE,
    REJECT_BASE,
    UNION_BASE,
)

C = COUNTRY_BASE
D = DEPT_BASE
K = COMMUNE_BASE
M = METRO_BASE
U = UNION_BASE


def ids(df, col="rel_id"):
    return sorted(r[col] for r in df.select(col).collect())


def test_kept_set(world):
    kept = ids(world["kept"], "id")
    assert kept == [C, D, D + 1, D + 2, D + 3, K, K + 1, K + 2, K + 3, M, U]


def test_filter_errors(world):
    errs = {(r.root_id, r.stage): r.error for r in world["errors"].collect()}
    # rel.String() parity (parser.go:417-419 + geojson.go:755-757).
    assert errs[(REJECT_BASE + 4, "filter")] == (
        f"unknown boundary value for Wibble({REJECT_BASE + 4})[level=4]: 'wibble'"
    )
    # rejects are silent skips, not errors. rej+5 (name:fr only) and
    # rej+6 (two name:* AND unknown boundary) are both nameless for the
    # keep filter — and the nameless check short-circuits BEFORE the
    # boundary check (geojson.go:749 vs :752), so rej+6 must NOT error.
    for rid in (REJECT_BASE, REJECT_BASE + 1, REJECT_BASE + 2, REJECT_BASE + 3,
                REJECT_BASE + 5, REJECT_BASE + 6):
        assert not any(k[0] == rid for k in errs)


def test_name_diag_fallback(spark, world):
    """Relation.Name() parity (parser.go:395-411): plain name wins
    immediately; one name:* supplies the fallback; a second name:*
    returns "" even if a plain name follows later in tag order."""
    from osm_spark.config import EngineConfig
    from osm_spark.operators.filters import with_tag_columns

    rows = [
        (1, [], [("name", "Plain"), ("name:fr", "FR")]),
        (2, [], [("name:fr", "Parc du Midi")]),
        (3, [], [("name:fr", "A"), ("name:de", "B")]),
        # two name:* BEFORE a plain name -> early "" return
        (4, [], [("name:fr", "A"), ("name:de", "B"), ("name", "Late")]),
        (5, [], [("name:fr", "A"), ("name", "Mid"), ("name:de", "B")]),
        (6, [], [("admin_level", "4")]),
    ]
    df = spark.createDataFrame(
        [(i, r, [{"key": k, "value": v} for k, v in t]) for i, r, t in rows],
        "id long, refs array<struct<ref:long,kind:int,role:string>>, "
        "tags array<struct<key:string,value:string>>",
    )
    got = {
        r.id: r.name_diag
        for r in with_tag_columns(df, EngineConfig()).select("id", "name_diag").collect()
    }
    assert got == {1: "Plain", 2: "Parc du Midi", 3: "", 4: "", 5: "Mid", 6: ""}
    # And the keep filter stays RelationTags.Name()-based: name:*-only
    # relations are dropped (kept set unchanged by rej+5/rej+6).


def test_locations_assembled(world):
    locs = {r.rel_id: r.n_polygons for r in world["locations"].collect()}
    assert set(locs) == set(ids(world["kept"], "id"))
    # country = outer-with-hole + island
    assert locs[C] == 2
    # metro = two half polygons (via recursive sub-relations + ring patch)
    assert locs[M] == 2
    # union = 4 separately-assembled dept polygon sets
    assert locs[U] == 4
    assert locs[D] == 1 and locs[D + 2] == 1


def test_country_shape_nesting_and_winding(world):
    row = world["locations"].where(F.col("rel_id") == C).collect()[0]
    shape = row.shape
    assert len(shape) == 2
    outer_poly = max(shape, key=lambda p: len(p))
    assert len(outer_poly) == 2  # outer ring + lake hole
    island_poly = min(shape, key=lambda p: len(p))
    assert len(island_poly) == 1

    from osm_spark.kernels.winding import is_clockwise

    shell = [list(p) for p in outer_poly[0]]
    hole = [list(p) for p in outer_poly[1]]
    assert not is_clockwise(shell)  # outer CCW (geojson.go:207-209)
    assert is_clockwise(hole)  # holes CW (geojson.go:216-218)
    assert shell[0] == shell[-1]
    # country outer spans exactly the 8x8 deg rect
    xs = [p[0] for p in shell]
    ys = [p[1] for p in shell]
    assert (min(xs), max(xs)) == (-177.0, -169.0)
    assert (min(ys), max(ys)) == (-84.0, -76.0)


def test_centroids(world):
    cents = {r.rel_id: r for r in world["centroids"].collect()}
    # dept 3: admin_centre node coordinates, node id recorded (J5)
    assert cents[D + 3].node_id is not None
    assert cents[D + 3].lon == -171.0 and cents[D + 3].lat == -78.0
    # dept 0: plain barycenter = rect center
    assert cents[D].lon == -175.0 and cents[D].lat == -82.0
    # horseshoe + annular: no centroid (fallback fails on CCW outers,
    # faithful to the reference pipeline)
    assert D + 1 not in cents and D + 2 not in cents
    errs = {r.root_id: r.error for r in world["errors"].where(
        F.col("stage") == "centroid").collect()}
    assert errs[D + 1] == "cannot get admin_center"
    assert "convex" in errs[D + 2]


def test_boundary_docs(world):
    docs = {r.id: r for r in world["boundaries"].collect()}
    assert str(C) in docs
    country = docs[str(C)]
    assert country.name == "Country 0"  # "(terres)" stripped (P2)
    assert country.admin_level == 2
    assert country.country_iso2 == "AA"
    # city commune passes the place exception with level 9
    city = docs[str(K)]
    assert city.admin_level == 9
    # raw tags preserved in output (makeJsonRelation appends rel.Tags)
    assert any(t.key == "name" and "(terres)" in t.value for t in country.tags)
    # no boundary doc for centroid-less depts
    assert str(D + 1) not in docs and str(D + 2) not in docs


def test_jsonl_output(world):
    from osm_spark.operators.geojson import to_jsonl
    import json

    lines = [r.line for r in to_jsonl(world["boundaries"]).collect()]
    assert len(lines) == 9
    doc = json.loads(lines[0])
    assert doc["_type"] == "boundary"
    assert doc["_id"] == str(C)
    src = doc["_source"]
    assert src["shape"]["type"] == "multipolygon"
    assert "center" in src and "tags" in src
    # omit-empty semantics: no ISO fields on communes
    communes = [json.loads(l) for l in lines if json.loads(l)["_id"] == str(K)]
    assert "country_iso2" not in communes[0]["_source"]


def test_iso_check(world):
    from osm_spark.operators.geojson import check_iso_codes

    dups, missing = check_iso_codes(world["kept"])
    assert dups.count() == 0
    # duplicate two countries' ISO -> detected
    doctored = world["kept"].withColumn(
        "iso2", F.when(F.col("admin_level") == 2, F.lit("ZZ")).otherwise(F.col("iso2"))
    )
    d2, _ = check_iso_codes(doctored)
    assert d2.count() == 0  # only one level-2 relation in 1-country world


STAGES = ("ways_geom", "locations", "centroids", "boundaries")


def _table(spark, ck, name):
    from osm_spark.sources.manifest_table import ManifestTable

    return ManifestTable(spark, os.path.join(ck, name))


def test_resume_checkpoint(world, spark, tmp_path):
    """A checkpointed run, then a ``resume=True`` re-run over the same
    checkpoints (J6): same boundaries, one hash per stage across both
    runs, equal to the content hash of the committed stage, and the
    locations checkpoint is an overwrite then an append of 0 rows."""
    from osm_spark.plans.pipeline import content_hash, run_boundaries_pipeline

    ck = str(tmp_path / "ck")
    args = (spark, world["nodes"], world["ways"], world["relations"], world["cfg"])
    out1 = run_boundaries_pipeline(*args, checkpoint_dir=ck)
    n1 = sorted(r.id for r in out1["boundaries"].collect())
    h1 = content_hash(out1["boundaries"])
    out2 = run_boundaries_pipeline(*args, checkpoint_dir=ck, resume=True)
    n2 = sorted(r.id for r in out2["boundaries"].collect())
    assert n1 == n2
    assert content_hash(out2["boundaries"]) == h1
    hist = _table(spark, ck, "locations").history()
    assert [h["operation"] for h in hist] == ["overwrite", "append"]
    # Resume found everything checkpointed: the append added 0 rows.
    assert hist[-1]["total_rows"] == hist[0]["total_rows"]
    metrics = _table(spark, ck, "metrics").read()
    # whole-table rows (partition = -1): identical hash across runs,
    # and it is the content hash of the committed stage
    per_stage = (
        metrics.where(F.col("partition") == -1)
        .groupBy("stage")
        .agg(F.collect_set("content_hash").alias("h"), F.count("*").alias("n"))
        .collect()
    )
    assert sorted(r.stage for r in per_stage) == sorted(STAGES)
    for r in per_stage:
        assert r.n == (1 if r.stage == "ways_geom" else 2)  # resume reads it
        assert r.h == [content_hash(_table(spark, ck, r.stage).read())], r.stage
    # per-partition (per-file) lineage present and consistent with
    # the whole-table row of the same commit
    sums = (
        metrics.where(F.col("partition") >= 0)
        .groupBy("stage", "ts")
        .agg(F.sum("rows").alias("prows"))
        .join(
            metrics.where(F.col("partition") == -1).select(
                "stage", "ts", F.col("rows").alias("trows")
            ),
            ["stage", "ts"],
        )
        .collect()
    )
    assert sums and all(r.prows == r.trows for r in sums)


def test_resume_leaves_only_current_snapshot_files(world, spark, tmp_path):
    """An overwrite commit vacuums what it superseded: after a run and a
    resume into one checkpoint dir, each stage's ``data/`` (and the
    metrics table's) holds exactly the files of its current snapshot."""
    from osm_spark.plans.pipeline import run_boundaries_pipeline

    ck = str(tmp_path / "ck")
    args = (spark, world["nodes"], world["ways"], world["relations"], world["cfg"])
    for resume in (False, True):
        run_boundaries_pipeline(*args, checkpoint_dir=ck, resume=resume)
    for stage in STAGES + ("metrics",):
        on_disk = {
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(ck, stage, "data"))
            for f in fs
        }
        listed = {e["path"] for e in _table(spark, ck, stage).lineage()}
        assert listed and on_disk == listed, stage


def test_resume_after_crash_in_locations_append(world, spark, tmp_path, monkeypatch):
    """A resume run killed before the VERSION swap of its locations
    append leaves the checkpoint at its prior snapshot. The orphan
    snapshot claim stops a blind retry; after ``recover()`` a resume
    run gives the boundaries and stage hashes of the clean ``world``
    run, with one location per relation."""
    import osm_spark.sources.manifest_table as mt
    from osm_spark.plans.pipeline import content_hash, run_boundaries_pipeline

    ck = str(tmp_path / "ck")
    rels = world["relations"]
    args = (spark, world["nodes"], world["ways"])
    # a first run that checkpointed only part of the locations
    run_boundaries_pipeline(
        *args, rels.where(~F.col("id").isin(K + 2, K + 3)), world["cfg"],
        checkpoint_dir=ck,
    )
    loc = _table(spark, ck, "locations")
    partial = loc.snapshot()["summary"]["total_rows"]
    assert loc.current_version() == 1 and partial < world["locations"].count()

    real, fired = mt.os.replace, []

    def crash_once(src_path, dst_path):
        if dst_path == loc._version_file() and not fired:
            fired.append(dst_path)
            raise OSError("killed before the VERSION swap")
        return real(src_path, dst_path)

    monkeypatch.setattr(mt.os, "replace", crash_once)
    with pytest.raises(OSError, match="killed"):
        run_boundaries_pipeline(*args, rels, world["cfg"], checkpoint_dir=ck, resume=True)
    assert fired and loc.current_version() == 1
    assert loc.read().count() == partial
    with pytest.raises(mt.CommitConflict):
        run_boundaries_pipeline(*args, rels, world["cfg"], checkpoint_dir=ck, resume=True)
    assert loc.current_version() == 1
    assert loc.recover() == "rolled_forward"

    out = run_boundaries_pipeline(*args, rels, world["cfg"], checkpoint_dir=ck, resume=True)
    assert content_hash(out["boundaries"]) == content_hash(world["boundaries"])
    # each stage's newest whole-table metrics row
    whole = (
        _table(spark, ck, "metrics").read()
        .where(F.col("partition") == -1).orderBy("ts").collect()
    )
    assert {r.stage: r.content_hash for r in whole} == {
        s: content_hash(world[s]) for s in STAGES
    }
    got = loc.read()
    assert got.count() == got.select("rel_id").distinct().count()
    assert ids(got) == ids(world["locations"])


def test_checkpoint_of_empty_stages(world, spark, tmp_path):
    """No relation kept (every ``name`` tag stripped): a checkpointed
    run and its resume give 0 boundaries, and every stage's whole-table
    metrics row is the content hash of the committed stage — 0 rows for
    each relation stage (the ways do not depend on relation tags)."""
    from osm_spark.plans.pipeline import content_hash, run_boundaries_pipeline

    ck = str(tmp_path / "ck")
    rels = world["relations"].withColumn(
        "tags", F.filter("tags", lambda t: t["key"] != "name")
    )
    args = (spark, world["nodes"], world["ways"], rels, world["cfg"])
    for resume in (False, True):
        out = run_boundaries_pipeline(*args, checkpoint_dir=ck, resume=resume)
        assert out["kept"].count() == 0
        assert out["boundaries"].count() == 0
    assert [h["operation"] for h in _table(spark, ck, "locations").history()] == [
        "overwrite", "append"
    ]
    whole = (
        _table(spark, ck, "metrics").read().where(F.col("partition") == -1).collect()
    )
    # the resume run reads ways_geom and commits the other three again
    assert sorted(r.stage for r in whole) == sorted(STAGES + STAGES[1:])
    for r in whole:
        stage = _table(spark, ck, r.stage).read()
        assert r.content_hash == content_hash(stage), r.stage
        assert r.rows == stage.count()
        assert (r.rows == 0) == (r.stage != "ways_geom"), (r.stage, r.rows)


def test_member_role_error(world, spark):
    from osm_spark.operators import resolve_members, build_ways_geom

    # Unknown relation-member role errors on two paths: the flagged
    # recursive root (driver-side closure, metro) and an ordinary root
    # (distributed validation, dept 0 gains a bogus rel ref).
    bad = world["relations"].withColumn(
        "refs",
        F.expr(
            "transform(refs, r -> if(r.ref_type = 2 and r.role = 'outer', "
            "named_struct('ref_id', r.ref_id, 'ref_type', r.ref_type, "
            "'role', 'bogus'), r))"
        ),
    ).withColumn(
        "refs",
        F.expr(
            f"if(id = {D}, concat(refs, array(named_struct("
            "'ref_id', 999L, 'ref_type', 2, 'role', 'bogus'))), refs)"
        ),
    )
    wg = build_ways_geom(world["nodes"], world["ways"])
    kept = world["kept"].drop("refs").join(bad.select("id", "refs"), "id")
    _, errors = resolve_members(bad, kept, wg, world["cfg"])
    errs = {(r.root_id): r.error for r in errors.collect()}
    assert errs.get(M) == "cannot handle relation relation: bogus"
    assert errs.get(D) == "cannot handle relation relation: bogus"


def test_diagnostic_commands(spark, world, tmp_path):
    """§2.8 diagnostics: printnodes/printxmlnodes/recursiverel/resetdb
    (main.go:525-647, 711-725)."""
    from osm_spark.data.worldgen import WorldSpec, world_dataframes
    from osm_spark.plans.commands import (
        printnodes,
        printxmlnodes,
        recursiverel,
        resetdb,
    )

    nodes, ways, rels, cfg = world_dataframes(spark, WorldSpec(n_countries=1))

    pn = printnodes(nodes).collect()
    assert len(pn) == nodes.count()
    # Go fmt %f rendering: six fixed decimals.
    assert all(len(r.lat.split(".")[1]) == 6 for r in pn[:10])

    xml = spark.createDataFrame(
        [('  <node id="135821" lat="45.191733" lon="5.7346073" />',),
         ("<way>not a node</way>",)],
        "line string",
    )
    xn = printxmlnodes(xml).collect()
    assert len(xn) == 1 and xn[0].id == 135821 and xn[0].lat == "45.191733"

    rr = {r.rel_str: r.n_ways for r in recursiverel(rels, cfg).collect()}
    # Only the metro relation is built from other relations (2 rel
    # members, 0 way members); union members have role=subarea -> excluded.
    assert rr == {f"Metropolitan 0({METRO_BASE})[level=3]": 0}

    ckdir = str(tmp_path / "ck")
    from osm_spark.plans.pipeline import run_boundaries_pipeline

    run_boundaries_pipeline(spark, nodes, ways, rels, cfg, checkpoint_dir=ckdir)
    assert resetdb(ckdir, "centroids") is True
    assert resetdb(ckdir, "centroids") is False  # already gone
    assert resetdb(ckdir, "boundaries") is True
