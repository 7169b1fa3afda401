"""Structured Streaming ingest: pages stream → tile assignments.

The reference has no streaming (its o5m "stream" is a batch file scan,
SURVEY.md §2.7); this is the extension's continuous-ingest slice. The
PIP sinks prepare the polygon side once per query and run the batch
pipeline's own page side (plans/spatial_pipeline.py) on the stream:

- ``stream_pip_enrich``: ``locate_pages`` (geoparse, point_id, the
  broadcast-index PIP carrying url) is a STATELESS mapInPandas, so it
  runs natively inside the streaming plan — no foreachBatch.
- ``stream_tile_assignments``: ``assign_pages`` in index mode (that
  pass plus tile and a stream-static admin-level broadcast join),
  natively, exactly-once via the stream checkpoint.
- ``stream_tile_assignments_batched``: ``assign_pages`` per
  micro-batch (foreachBatch), for sinks needing multi-output batch
  semantics (tiles + metrics together) or a batch_id column.
- ``windowed_page_counts``: a native streaming aggregation (watermark +
  tumbling window over warc_ts) for freshness metrics — late data
  handled by the watermark.

The stateful custom-operator surface (applyInPandasWithState) is
exercised by ``sessionize_stream`` over the events table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Snapshot summary property of the SUM/KMV-merged sinks: the last
# micro-batch id applied, committed by the same VERSION swap as the rows.
_APPLIED_BATCH = "applied_batch_id"

_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _page_stream(spark: SparkSession, source_dir: str, max_files_per_trigger: int):
    """The page files landing in ``source_dir`` as a stream."""
    return (
        spark.readStream.schema(_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )


def _start(writer, checkpoint_dir: str, available_now: bool):
    writer = writer.option("checkpointLocation", checkpoint_dir)
    return (writer.trigger(availableNow=True) if available_now else writer).start()


def _append(df: DataFrame, sink_dir: str, checkpoint_dir: str, available_now: bool):
    """Start ``df`` into a parquet append sink."""
    writer = df.writeStream.format("parquet").option("path", sink_dir)
    return _start(writer.outputMode("append"), checkpoint_dir, available_now)


def _run_batches(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int,
    process_batch, checkpoint_dir: str, available_now: bool,
):
    """Start ``process_batch`` on each micro-batch of the page stream."""
    stream = _page_stream(spark, source_dir, max_files_per_trigger)
    return _start(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir,
        available_now,
    )


def stream_pip_enrich(
    spark: SparkSession,
    source_dir: str,
    locations: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    min_level: int = 4,
    max_level: int = 12,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Native streaming spatial enrichment: every page landing in
    ``source_dir`` gets its (url, rel_id) admin assignments appended to
    ``sink_dir``. The whole transform chain — geoparse regex, point_id
    hash, broadcast-index PIP — is stateless, so it runs inside the
    streaming plan itself (restart-safe via the stream checkpoint, no
    foreachBatch)."""
    from osm_spark.plans.spatial_pipeline import locate_pages, prepare_polygons

    polygons = prepare_polygons(
        spark, locations, None, min_level, max_level, mode="index"
    )
    stream = _page_stream(spark, source_dir, max_files_per_trigger)
    enriched = locate_pages(stream, polygons.index, keep=("url",))
    return _append(
        enriched.select("url", "rel_id"), sink_dir, checkpoint_dir, available_now
    )


def stream_tile_assignments(
    spark: SparkSession,
    source_dir: str,
    locations: DataFrame,
    kept: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    tile_level: int = 7,
    min_level: int = 4,
    max_level: int = 12,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Start a streaming query appending (point_id, admin_level, rel_id,
    tile, url) for every page file landing in ``source_dir``.

    Fully native streaming plan: ``assign_pages`` in index mode — one
    broadcast-index PIP pass carrying url and tile, then a
    stream-static broadcast join on the kept relations' admin levels —
    into an append sink. Exactly-once via the stream checkpoint;
    restart-safe because every stage is stateless."""
    from osm_spark.plans.spatial_pipeline import assign_pages, prepare_polygons

    polygons = prepare_polygons(
        spark, locations, kept, min_level, max_level, mode="index"
    )
    stream = _page_stream(spark, source_dir, max_files_per_trigger)
    return _append(
        assign_pages(stream, polygons, tile_level), sink_dir, checkpoint_dir,
        available_now,
    )


def stream_tile_assignments_batched(
    spark: SparkSession,
    source_dir: str,
    locations: DataFrame,
    kept: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    tile_level: int = 7,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """foreachBatch variant of ``stream_tile_assignments`` — the shape
    for sinks needing multi-output batch semantics (tiles + metrics in
    one transaction) or a per-batch id column. The polygon side is
    prepared once, before the first batch; each batch runs only
    ``assign_pages``."""
    from osm_spark.plans.spatial_pipeline import assign_pages, prepare_polygons

    polygons = prepare_polygons(spark, locations, kept)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            assign_pages(batch_df, polygons, tile_level)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink_dir)
        )

    return _run_batches(
        spark, source_dir, max_files_per_trigger, process_batch,
        checkpoint_dir, available_now,
    )


def stream_hll_maintenance(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    key: str,
    checkpoint_dir: str,
    p: int = 12,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Maintain a durable distinct-count sketch over a page stream:
    each micro-batch's HLL sketch (operators/sketch.py) is max-merged
    into a snapshot-versioned ManifestTable — every batch commits a
    new time-travelable version, so "distinct urls as of batch k" is a
    versioned read, and the table stays ≤ 2^p rows forever.

    Delivery semantics matter here and HLL gets them for free:
    max-merge is IDEMPOTENT as well as commutative (re-merging an
    already-merged batch changes nothing), so at-least-once replay
    after a crash between the table commit and the checkpoint advance
    cannot corrupt the sketch. A count-min sketch (sum-merge) would
    need the foreachBatch-side txn dedup; HLL does not.
    """
    from osm_spark.operators.sketch import hll_sketch
    from osm_spark.sources.manifest_table import ManifestTable

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = ManifestTable(spark, table_path)
        sk = hll_sketch(batch_df, key, p)
        if t.exists():
            sk = (
                t.read()
                .unionByName(sk)
                .groupBy("register")
                .agg(F.max("max_rank").alias("max_rank"))
            )
        t.write(sk, mode="overwrite")

    return _run_batches(
        spark, source_dir, max_files_per_trigger, process_batch,
        checkpoint_dir, available_now,
    )


def stream_hotspot_maintenance(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    level: int,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Maintain durable grid cell counts over a page stream: each
    micro-batch's occupied-cell counts (spatial/hotspots.cell_counts)
    are SUM-merged into a snapshot-versioned ManifestTable — one
    time-travelable version per batch, table bounded by occupied
    cells forever. "Hotspot clusters as of batch k" is then
    ``clusters_from_cells(table.read(version))`` with no rescan of
    the original pages.

    Delivery semantics: unlike HLL's max-merge, count SUM-merge is
    NOT idempotent — an at-least-once replay after a crash between
    the table commit and the checkpoint advance would double-count.
    Each commit therefore records the last applied batch id as the
    snapshot summary property ``applied_batch_id``, and
    ``process_batch`` skips any batch whose id is already applied —
    the standard foreachBatch transactional-sink pattern, made atomic
    by ManifestTable's VERSION swap (the id and the counts commit
    together or not at all). A table without the property raises a
    "rebuild" ValueError."""
    from osm_spark.sources.manifest_table import ManifestTable
    from osm_spark.spatial.geoparse import geoparse_pages
    from osm_spark.spatial.hotspots import cell_counts

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = ManifestTable(spark, table_path)
        applied = t.summary_prop(_APPLIED_BATCH)
        if applied is not None and applied >= batch_id:
            return  # replay of an already-applied batch: no-op
        counts = cell_counts(geoparse_pages(batch_df), level)
        if applied is not None:
            counts = (
                t.read()
                .unionByName(counts)
                .groupBy("cell", "x", "y")
                .agg(F.sum("n_points").alias("n_points"))
            )
        t.write(
            counts.select(
                F.col("cell").cast("long"),
                F.col("x").cast("long"),
                F.col("y").cast("long"),
                F.col("n_points").cast("long"),
            ),
            mode="overwrite",
            props={_APPLIED_BATCH: batch_id},
        )

    return _run_batches(
        spark, source_dir, max_files_per_trigger, process_batch,
        checkpoint_dir, available_now,
    )


def stream_hist_maintenance(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    lo: int,
    hi: int,
    n_bins: int = 128,
    value_expr: str = "length(text)",
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Maintain a durable histogram quantile sketch (X88) over a page
    stream — the LIVE dataset-card path: each micro-batch's equi-width
    bin counts SUM-merge into a snapshot-versioned ManifestTable (one
    time-travelable version per batch, table ≤ n_bins rows forever).
    "p50 doc length as of batch k" is then
    ``hist_quantiles(table.read(version), ...)`` with no page rescan.

    Same transactional-sink pattern as stream_hotspot_maintenance:
    SUM-merge is not idempotent, so each commit records the last
    applied batch id as the summary property ``applied_batch_id`` and
    replayed batches are skipped — atomic via the VERSION swap."""
    from osm_spark.operators.sketch import hist_sketch
    from osm_spark.sources.manifest_table import ManifestTable

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = ManifestTable(spark, table_path)
        applied = t.summary_prop(_APPLIED_BATCH)
        if applied is not None and applied >= batch_id:
            return  # replay of an already-applied batch: no-op
        vals = batch_df.select(
            F.expr(value_expr).cast("long").alias("v")
        )
        counts = hist_sketch(vals, "v", lo, hi, n_bins)
        if applied is not None:
            counts = (
                t.read()
                .unionByName(counts)
                .groupBy("bin")
                .agg(F.sum("n").alias("n"))
            )
        t.write(
            counts.select(F.col("bin").cast("int"), F.col("n").cast("long")),
            mode="overwrite",
            props={_APPLIED_BATCH: batch_id},
        )

    return _run_batches(
        spark, source_dir, max_files_per_trigger, process_batch,
        checkpoint_dir, available_now,
    )


def windowed_page_counts(
    pages_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time page counts per (window, lang) with late-data
    watermarking — the native streaming aggregation path."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n"))
    )


SESSION_SCHEMA = "user_id long, session_id long, n_events long, start_ts timestamp, end_ts timestamp"
_STATE_SCHEMA = "session_id long, n long, start_us long, last_us long"


def _sessionize_fn(gap_seconds: int):
    import pandas as pd

    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            session_id, n, start_us, last_us = state.get
        else:
            session_id, n, start_us, last_us = 0, 0, None, None
        out = []
        ts_list = []
        for pdf in pdfs:
            ts_list.extend(int(t.value) // 1000 for t in pd.to_datetime(pdf["ts"]))
        for us in sorted(ts_list):
            if last_us is not None and us - last_us > gap_us:
                out.append((user_id, session_id, n, start_us, last_us))
                session_id += 1
                n, start_us = 0, us
            if start_us is None:
                start_us = us
            n += 1
            last_us = us
        state.update((session_id, n, start_us, last_us))
        if out:
            df = pd.DataFrame(
                out, columns=["user_id", "session_id", "n_events", "start_us", "end_us"]
            )
            yield pd.DataFrame(
                {
                    "user_id": df["user_id"],
                    "session_id": df["session_id"],
                    "n_events": df["n_events"],
                    "start_ts": pd.to_datetime(df["start_us"], unit="us"),
                    "end_ts": pd.to_datetime(df["end_us"], unit="us"),
                }
            )

    return fn


def sessionize_stream(events_stream: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    emits a session row when a gap > ``gap_seconds`` closes it. The
    in-flight session stays in GroupState across micro-batches."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn(gap_seconds),
        SESSION_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_dedup_pages(
    pages_stream: DataFrame,
    text: str = "text",
    key: str = "url",
    watermark: str = "7 days",
    ts: str = "warc_ts",
) -> DataFrame:
    """Streaming exact dedup of a continuous crawl: content-hash
    ``dropDuplicates`` inside the streaming plan.

    The batch twin is dedup.py's ``dedup_increment`` (cross-snapshot,
    manifest-versioned); this is the ingest-time variant for a
    readStream crawl feed. State is the set of content hashes seen
    within the watermark horizon, so state size is bounded by the
    horizon's traffic, not the corpus — the standard trade at
    10^12 docs: a re-crawl OUTSIDE the horizon is not caught here and
    falls through to the batch cross-snapshot dedup at commit time
    (the two operators compose: stream bounds the state, the manifest
    anti-join is exact over all history).

    Keeps the FIRST arrival of each content hash per Spark's streaming
    dropDuplicates semantics (exactly-once under checkpointed sinks).
    """
    return (
        pages_stream
        .withColumn("content_md5", F.md5(F.col(text)))
        .withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["content_md5"])
        .drop("content_md5")
    )

def stream_kmv_maintenance(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key_expr: str = "url",
    group_expr: str = "lang",
    k: int = 64,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Maintain LIVE per-group distinct-count sketches (X104 KMV) over
    a page stream — "how many distinct urls per language so far, and
    how much vocabulary do two languages share" answered at any batch
    from a table of ≤ groups×k hashes, no page rescan.

    Per micro-batch: sketch the batch (bounded combiner state), then
    merge into the snapshot-versioned ManifestTable with the SAME
    `_kmv_combine` rule the batch path uses — the mergeable-sketch
    property test_kmv pins (sketch(A∪B) == merge(sketches)) is
    exactly what makes this maintenance EXACT: the maintained table
    is bit-identical to re-sketching the whole corpus from scratch
    (pinned by test_stream_kmv_maintenance), unlike the histogram's
    bounded-error bins. Idempotent replay via the same
    ``applied_batch_id`` summary property as the hotspot sink; null
    groups are DROPPED at ingest, so the table holds one (g, hs) row
    per non-null group."""
    from osm_spark.operators.sketch import _kmv_combine, kmv_sketch
    from osm_spark.sources.manifest_table import ManifestTable

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = ManifestTable(spark, table_path)
        applied = t.summary_prop(_APPLIED_BATCH)
        if applied is not None and applied >= batch_id:
            return  # replayed batch: no-op
        base = batch_df.select(
            F.expr(group_expr).alias("g"), F.expr(key_expr).alias("key")
        ).where(F.expr(group_expr).isNotNull())
        sk = kmv_sketch(base, "key", ["g"], k=k, kernel="combiner")
        if applied is not None:
            sk = (
                t.read()
                .unionByName(sk)
                .groupBy("g")
                .agg(
                    _kmv_combine(
                        F.flatten(F.collect_list("hs")), k
                    ).alias("hs")
                )
            )
        t.write(
            sk.select("g", "hs"),
            mode="overwrite",
            props={_APPLIED_BATCH: batch_id},
        )

    return _run_batches(
        spark, source_dir, max_files_per_trigger, process_batch,
        checkpoint_dir, available_now,
    )

def citation_latency_join(
    pages_stream: DataFrame,
    links_stream: DataFrame,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native watermarked STREAM-STREAM join: each link event (src →
    dst at link_ts) joins the dst page's own crawl event (url at
    warc_ts) within ``[warc_ts, warc_ts + max_lag]`` — "how quickly
    does a freshly crawled page get cited", the crawl-frontier
    freshness signal. Output: (dst, src, warc_ts, link_ts, lag_sec).

    This is the one Structured Streaming feature the rest of the
    module's matrix didn't exercise: a TWO-SIDED stateful join where
    the engine buffers both inputs; the watermarks PLUS the time-range
    predicate are what bound the state — they let the engine prove a
    buffered row older than ``watermark + max_lag`` can never join
    again and evict it, so state is O(events inside the lag window),
    not O(stream). (An inner stream-stream join without them still
    RUNS — Spark only hard-rejects the outer forms — but buffers both
    streams forever; the eviction bound is the design here.)

    Semantics contract (and what the drain-equality test pins): inner
    join on dst == url with warc_ts ≤ link_ts ≤ warc_ts + max_lag —
    byte-identical to the same expression as a batch join once both
    streams drain under availableNow.
    """
    pages = pages_stream.select(
        F.col("url"), F.col("warc_ts")
    ).withWatermark("warc_ts", watermark)
    links = links_stream.select(
        F.col("src"), F.col("dst"), F.col("link_ts")
    ).withWatermark("link_ts", watermark)
    joined = links.join(
        pages,
        (F.col("dst") == F.col("url"))
        & (F.col("link_ts") >= F.col("warc_ts"))
        & (
            F.col("link_ts")
            <= F.col("warc_ts") + F.expr(f"INTERVAL {max_lag}")
        ),
        "inner",
    )
    return joined.select(
        "dst",
        "src",
        "warc_ts",
        "link_ts",
        (
            F.unix_timestamp("link_ts") - F.unix_timestamp("warc_ts")
        ).alias("lag_sec"),
    )
