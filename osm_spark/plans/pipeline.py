"""End-to-end boundary pipeline with checkpoint-resume + metrics.

The reference's four Bolt buckets (ways/relations/locations/centroids,
waysdb.go:10-15) become four columnar checkpoint tables; each stage is a
batch job reading the previous checkpoint. ``resume`` reproduces the
HasLocation anti-join (J6, main.go:153-159): relations whose location is
already checkpointed are skipped.

Every stage commits as a ``ManifestTable`` (sources/manifest_table.py):
an overwrite, or for the J6 resume of ``locations`` an append that
never rewrites the files the resume anti-join is reading. An overwrite
then vacuums the snapshots and files it superseded. A commit is
atomic (one VERSION swap), so a run that dies mid-stage leaves the
previous snapshot readable. Every stage appends rows to the metrics
table, itself a ``ManifestTable``: one whole-table row (stage, rows,
content_hash) and one row per data file. They come from the commit's
file entries, which the writing job counted and hashed, so no stage is
read back to measure it; the hash is an order-insensitive sum of row
hashes, equal to ``content_hash`` of the committed table.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.config import EngineConfig
from osm_spark.operators import (
    assemble_locations,
    build_centroids,
    build_boundaries,
    build_ways_geom,
    resolve_members,
    split_kept_relations,
)
from osm_spark.sources.manifest_table import ManifestTable


def content_hash(df: DataFrame) -> int:
    """Order-insensitive content hash: xor of per-row xxhash64 over all
    columns (cast to string for stable nested-type hashing)."""
    cols = [F.col(c).cast("string") for c in df.columns]
    row = df.select(F.xxhash64(*cols).alias("h"))
    agg = row.agg(
        F.coalesce(
            F.sum(F.col("h") % F.lit(2**31)), F.lit(0)
        ).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(agg["s"]) ^ int(agg["n"])


@dataclass
class Checkpointer:
    spark: SparkSession
    root: str | None
    metrics: list = field(default_factory=list, init=False)

    def _table(self, name: str) -> ManifestTable:
        return ManifestTable(self.spark, os.path.join(self.root, name))

    def exists(self, name: str) -> bool:
        return self.root is not None and self._table(name).exists()

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> DataFrame:
        """Commit a stage; returns the committed (columnar) table.

        ``mode="append"`` is the incremental-checkpoint path (resume):
        only new rows are written, never rewriting files a concurrent
        plan may still read (Iceberg-style append semantics). An
        overwrite vacuums the snapshots and files it superseded, so a
        stage's ``data/`` holds only its current snapshot's files.

        Without a checkpoint root the stage is persisted lazily —
        multi-consumer stages (locations feeds centroids AND boundary
        docs) compute once, single-consumer stages pay nothing until
        an action needs them."""
        if self.root is None:
            return df.persist()
        t = self._table(name)
        t.write(df, mode=mode)
        if mode == "overwrite":
            # Nothing reads a superseded stage snapshot; an append keeps
            # them, as the J6 resume reads locations while appending.
            t.vacuum(keep_last=1)
        entries = t.lineage()
        now = time.time()
        self.metrics.append({
            "stage": name, "partition": -1,
            "rows": sum(e["rows"] for e in entries),
            "content_hash": t.table_hash(), "ts": now,
        })
        self.metrics.extend(
            {"stage": name, "partition": i, "rows": e["rows"],
             "content_hash": e["content_hash"] ^ e["rows"], "ts": now}
            for i, e in enumerate(entries)
        )
        return t.read()

    def read(self, name: str) -> DataFrame:
        return self._table(name).read()

    def flush_metrics(self) -> None:
        if self.root is None or not self.metrics:
            return
        mdf = self.spark.createDataFrame(
            [
                (m["stage"], m["partition"], m["rows"], m["content_hash"], m["ts"])
                for m in self.metrics
            ],
            "stage string, partition int, rows long, content_hash long, ts double",
        )
        # a few rows per stage: one file per flush, not one per task
        self._table("metrics").write(mdf.coalesce(1), mode="append")


def run_boundaries_pipeline(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    cfg: EngineConfig,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> dict[str, DataFrame]:
    """Full reference pipeline: indexways → indexrelations(filter) →
    indexlocations → indexcenters → geojson-projection.

    With ``checkpoint_dir`` each stage commits as a ``ManifestTable``
    under it (atomic commits, append isolation, time travel — see
    sources/manifest_table.py) and the run appends its lineage rows to
    the ``metrics`` table there; without it stages are persisted in
    memory. ``resume=True`` reads the committed ``ways_geom`` and
    ``locations`` and assembles only relations with no location yet.

    Returns dict with: ways_geom, kept, locations, centroids, boundaries,
    errors (union of all per-relation error side-outputs).
    """
    ck = Checkpointer(spark, checkpoint_dir)

    if resume and ck.exists("ways_geom"):
        ways_geom = ck.read("ways_geom")
    else:
        ways_geom = ck.write("ways_geom", build_ways_geom(nodes, ways))

    kept, filter_errors = split_kept_relations(relations, cfg)
    kept = kept.persist()

    assembly_targets = kept
    prior_locations = None
    if resume and ck.exists("locations"):
        # J6 resume anti-join (HasLocation, main.go:153-159).
        prior_locations = ck.read("locations")
        assembly_targets = kept.join(
            prior_locations.select(F.col("rel_id").alias("id")), "id", "left_anti"
        )

    members, resolve_errors = resolve_members(
        relations, assembly_targets, ways_geom, cfg
    )
    locations, assembly_errors = assemble_locations(members)
    if prior_locations is not None:
        # Incremental append of only the newly assembled relations —
        # never overwrite the checkpoint being read (J6 resume).
        locations = ck.write("locations", locations, mode="append")
    else:
        locations = ck.write("locations", locations)

    centroids, centroid_errors = build_centroids(kept, locations, nodes)
    centroids = ck.write("centroids", centroids)

    boundaries, doc_errors = build_boundaries(kept, locations, centroids)
    boundaries = ck.write("boundaries", boundaries)

    errors = (
        filter_errors.withColumnRenamed("id", "root_id")
        .withColumn("stage", F.lit("filter"))
        .unionByName(resolve_errors.withColumn("stage", F.lit("resolve")))
        .unionByName(assembly_errors.withColumn("stage", F.lit("assembly")))
        .unionByName(centroid_errors.withColumn("stage", F.lit("centroid")))
        .unionByName(doc_errors.withColumn("stage", F.lit("document")))
    )
    ck.flush_metrics()
    return {
        "ways_geom": ways_geom,
        "kept": kept,
        "locations": locations,
        "centroids": centroids,
        "boundaries": boundaries,
        "errors": errors,
    }
