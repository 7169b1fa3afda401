"""Incremental spatial enrichment over manifest-table appends.

The production loop a Common-Crawl-scale pipeline actually runs: the
pages table grows by snapshot appends (a new crawl lands as one
ManifestTable ``append`` commit), and the PIP assignment table must
follow WITHOUT re-scanning the 10^12 rows already assigned. This
module is the spatial counterpart of text/dedup.dedup_increment
(X43's incremental cross-snapshot dedup):

    new rows = pages.changes(last_applied, current)   — a manifest
        FILE-diff first, so only the appended files are ever read;
    assignments = spatial_pipeline.locate_pages (geoparse →
        broadcast-index PIP, the X3 zero-shuffle path) over just those
        rows;
    commit = ONE ManifestTable append of the assignments with snapshot
        summary property applied_source_version = current — atomic via
        the VERSION swap, so the version and its rows commit together
        or not at all, and a crash-retry re-run is a no-op.

The applied version and the total row count are read from the snapshot
JSON, so no Spark job scans the table's history; the table holds only
(url, rel_id) rows. An append-only file diff cannot hold deletes and is
not probed for them, so an increment runs one Spark job (the write).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_APPLIED = "applied_source_version"


def applied_source_version(out) -> int | None:
    """Last pages-table version applied to the assignment table ``out``
    (None before its first commit). A table whose summary lacks it (the
    older marker-row format) raises: re-applying would duplicate rows."""
    return out.summary_prop(_APPLIED)


def pip_increment(
    spark: SparkSession,
    pages_table,
    assign_path: str,
    index_bc,
) -> dict:
    """Bring the durable (url, rel_id) assignment table at
    ``assign_path`` up to date with the append-only ``pages_table``
    (a ManifestTable of the input_hint page schema). Returns
    {"applied_from", "applied_to", "total_rows"} (total assignment
    rows after the call, from the snapshot summary); a no-op re-run
    leaves the table untouched (applied_from == applied_to).
    """
    from osm_spark.plans.spatial_pipeline import locate_pages
    from osm_spark.sources.manifest_table import ManifestTable

    cur = pages_table.current_version()
    if cur is None:
        raise ValueError("pages table has no committed snapshot")
    out = ManifestTable(spark, assign_path)
    applied = applied_source_version(out)
    if applied is not None and applied >= cur:
        return {
            "applied_from": applied,
            "applied_to": applied,
            "total_rows": out.snapshot()["summary"]["total_rows"],
        }

    if applied is None:
        fresh = pages_table.read()
    else:
        fresh = pages_table.inserts(applied, cur, "the assignment table")

    assigns = locate_pages(fresh, index_bc, keep=("url",)).select(
        "url", F.col("rel_id").cast("long")
    )
    out.write(
        assigns,
        mode="append" if out.exists() else "overwrite",
        props={_APPLIED: cur},
    )
    return {
        "applied_from": applied,
        "applied_to": cur,
        "total_rows": out.snapshot()["summary"]["total_rows"],
    }
