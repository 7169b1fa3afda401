"""End-to-end boundary pipeline with checkpoint-resume + metrics.

The reference's four Bolt buckets (ways/relations/locations/centroids,
waysdb.go:10-15) become four columnar checkpoint tables; each stage is a
batch job reading the previous checkpoint. ``resume`` reproduces the
HasLocation anti-join (J6, main.go:153-159): relations whose location is
already checkpointed are skipped.

Checkpoint format is parquet in-sandbox; the writer goes through
``_write``/``_read`` so an Iceberg catalog (``format="iceberg"``,
``spark.sql.catalog...`` configured) is a config change, not a code
change. ``fmt="manifest"`` selects the in-repo snapshot/manifest format
(sources/manifest_table.py) which provides the Iceberg *semantics* the
north rule depends on — atomic commits, append isolation for the J6
resume anti-join, time travel, per-file lineage — without the Iceberg
runtime. Every stage appends a row to the metrics table
(stage, rows, content_hash) — the north rule's per-stage row-count/hash
lineage; the hash is an order-insensitive sum of row hashes. The
manifest format takes these rows from the commit's file entries, which
the writing job itself counted and hashed; other formats re-read the
stage.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

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


def partition_lineage(df: DataFrame) -> list[dict]:
    """Per-partition lineage rows (north rule): for each physical
    partition of the materialized table — row count + order-insensitive
    content hash. One pass, map-side aggregated by partition id."""
    cols = [F.col(c).cast("string") for c in df.columns]
    rows = (
        df.select(
            F.spark_partition_id().alias("pid"),
            F.xxhash64(*cols).alias("h"),
        )
        .groupBy("pid")
        .agg(
            F.count("*").alias("rows"),
            (F.sum(F.col("h") % F.lit(2**31))).alias("s"),
        )
        .collect()
    )
    return [
        {"partition": int(r["pid"]), "rows": int(r["rows"]), "content_hash": int(r["s"])}
        for r in rows
    ]


@dataclass
class Checkpointer:
    spark: SparkSession
    root: str | None
    fmt: str = "parquet"
    collect_metrics: bool = True
    metrics: list | None = None

    def __post_init__(self) -> None:
        self.metrics = []

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _table(self, name: str):
        from osm_spark.sources.manifest_table import ManifestTable

        return ManifestTable(self.spark, self.path(name))

    def exists(self, name: str) -> bool:
        if self.root is None:
            return False
        if self.fmt == "manifest":
            return self._table(name).exists()
        p = self.path(name)
        return os.path.exists(p) and (
            os.path.exists(os.path.join(p, "_SUCCESS")) or self.fmt != "parquet"
        )

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> DataFrame:
        """Materialize a stage; returns the re-read (columnar) table.

        ``mode="append"`` is the incremental-checkpoint path (resume):
        only new rows are written, never rewriting files a concurrent
        plan may still read (Iceberg-style append semantics).

        Without a checkpoint root the stage is persisted lazily —
        multi-consumer stages (locations feeds centroids AND boundary
        docs) compute once, single-consumer stages pay nothing until
        an action needs them."""
        if self.root is None:
            return df.persist()
        if self.fmt == "manifest":
            t = self._table(name)
            t.write(df, mode=mode)
            out = t.read()
            if self.collect_metrics:
                # the commit's own file entries: no re-read of the stage
                parts = [
                    {"partition": i, "rows": e["rows"],
                     "content_hash": e["content_hash"] ^ e["rows"]}
                    for i, e in enumerate(t.lineage())
                ]
                self._record_lineage(name, parts, t.table_hash())
            return out
        p = self.path(name)
        df.write.format(self.fmt).mode(mode).save(p)
        out = self.spark.read.format(self.fmt).load(p)
        if self.collect_metrics:
            self._record_lineage(name, partition_lineage(out), content_hash(out))
        return out

    def _record_lineage(self, name: str, parts: list[dict], table_hash: int) -> None:
        """One whole-table metrics row (partition -1) plus one row per
        partition of the materialized stage."""
        now = time.time()
        self.metrics.append(
            {
                "stage": name,
                "partition": -1,
                "rows": sum(p_["rows"] for p_ in parts),
                "content_hash": table_hash,
                "ts": now,
            }
        )
        self.metrics.extend({"stage": name, **p_, "ts": now} for p_ in parts)

    def read(self, name: str) -> DataFrame:
        if self.fmt == "manifest":
            return self._table(name).read()
        return self.spark.read.format(self.fmt).load(self.path(name))

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
        if self.fmt == "manifest":
            self._table("metrics").write(mdf, mode="append")
        else:
            mdf.write.format(self.fmt).mode("append").save(self.path("metrics"))


def run_boundaries_pipeline(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    cfg: EngineConfig,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    checkpoint_format: str = "parquet",
) -> dict[str, DataFrame]:
    """Full reference pipeline: indexways → indexrelations(filter) →
    indexlocations → indexcenters → geojson-projection.

    ``checkpoint_format="manifest"`` checkpoints through the snapshot/
    manifest table format (atomic commits, append isolation, time
    travel — see sources/manifest_table.py); ``"parquet"`` writes plain
    directories.

    Returns dict with: ways_geom, kept, locations, centroids, boundaries,
    errors (union of all per-relation error side-outputs).
    """
    ck = Checkpointer(spark, checkpoint_dir, fmt=checkpoint_format)

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
