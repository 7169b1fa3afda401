"""Structured Streaming slice: streamed tile assignment must equal the
batch result; watermark aggregation; custom stateful sessionization."""

import pytest
from pyspark.sql import functions as F


def test_streamed_tiles_equal_batch(spark, world, tmp_path):
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline
    from osm_spark.streaming.pages_stream import stream_tile_assignments

    pages = pages_df(spark, PagesSpec(n_pages=1500, n_countries=1))
    src = str(tmp_path / "pages_src")
    # multiple files -> multiple micro-batches
    pages.repartition(6).write.parquet(src)

    sink = str(tmp_path / "tiles_sink")
    ck = str(tmp_path / "stream_ck")
    q = stream_tile_assignments(
        spark, src, world["locations"], world["kept"], sink, ck,
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)

    streamed = spark.read.parquet(sink)
    # Native plan has no batch_id; prove multi-micro-batch processing
    # from the checkpoint's committed offsets instead.
    import os

    assert len(os.listdir(os.path.join(ck, "commits"))) >= 2

    batch = run_spatial_pipeline(
        spark, spark.read.parquet(src), world["locations"], world["kept"]
    )["tiles"]
    key = lambda df: {
        (r.url, r.admin_level, r.rel_id, r.tile) for r in df.collect()
    }
    assert key(streamed) == key(batch)


def test_streamed_tiles_batched_variant(spark, world, tmp_path):
    """The foreachBatch shape still works and stamps batch_id."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.streaming.pages_stream import stream_tile_assignments_batched

    pages = pages_df(spark, PagesSpec(n_pages=400, n_countries=1))
    src = str(tmp_path / "bsrc")
    pages.repartition(4).write.parquet(src)
    sink = str(tmp_path / "bsink")
    ck = str(tmp_path / "bck")
    q = stream_tile_assignments_batched(
        spark, src, world["locations"], world["kept"], sink, ck,
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)
    out = spark.read.parquet(sink)
    assert out.select("batch_id").distinct().count() >= 2
    assert out.count() > 0


def test_streamed_tiles_resume(spark, world, tmp_path):
    """New files after a restart are processed exactly once."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.streaming.pages_stream import stream_tile_assignments

    p1 = pages_df(spark, PagesSpec(n_pages=400, n_countries=1))
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    p1.write.parquet(src)
    q = stream_tile_assignments(
        spark, src, world["locations"], world["kept"], sink, ck
    )
    q.awaitTermination(300)
    n1 = spark.read.parquet(sink).count()

    # land more pages (disjoint urls), restart the query
    import pyspark.sql.functions as F2

    p2 = pages_df(spark, PagesSpec(n_pages=800, n_countries=1)).where(
        F2.regexp_extract("url", r"page/(\d+)$", 1).cast("long") >= 400
    )
    p2.write.mode("append").parquet(src)
    q2 = stream_tile_assignments(
        spark, src, world["locations"], world["kept"], sink, ck
    )
    q2.awaitTermination(300)
    out = spark.read.parquet(sink)
    # no duplicates: each (url, rel) appears once
    assert out.count() == out.select("url", "admin_level", "rel_id").distinct().count()
    assert out.count() > n1


def test_watermarked_window_counts(spark, tmp_path):
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.streaming.pages_stream import windowed_page_counts

    pages = pages_df(spark, PagesSpec(n_pages=2000, n_countries=1))
    src = str(tmp_path / "wsrc")
    pages.write.parquet(src)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_page_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("page_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.w.start, r.lang): r.n for r in spark.table("page_counts").collect()
    }
    exp = {
        (r.w.start, r.lang): r.n
        for r in pages.groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exp


def test_stateful_sessionize_stream(spark, tmp_path):
    from osm_spark.streaming.pages_stream import sessionize_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "esrc")
    events.orderBy("ts").coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sess = sessionize_stream(stream, gap_seconds=1800)
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("sessions").collect()
    # closed sessions only (the last session per user stays in state);
    # compare against the batch gaps-and-islands sessionization
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        events.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.unix_timestamp(F.col("ts").cast("timestamp"))
                   - F.unix_timestamp(F.col("prev").cast("timestamp")) > 1800),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n"))
    )
    batch_counts = {(r.user_id, r.sid - 1): r.n for r in batch.collect()}
    for r in got:
        assert batch_counts.get((r.user_id, r.session_id)) == r.n_events
    # sessions closed in-stream must be a subset but non-trivial
    assert len(got) > 0


def test_stream_pip_enrich_native(spark, world, tmp_path):
    """The fused broadcast-index PIP runs NATIVELY inside the streaming
    plan (stateless mapInPandas — no foreachBatch); streamed (url,
    rel_id) assignments equal the batch spatial pipeline's."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline
    from osm_spark.streaming.pages_stream import stream_pip_enrich

    pages = pages_df(spark, PagesSpec(n_pages=1200, n_countries=1))
    src = str(tmp_path / "src")
    pages.repartition(5).write.parquet(src)

    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    q = stream_pip_enrich(
        spark, src, world["locations"], sink, ck,
        max_level=11, max_files_per_trigger=2,
    )
    q.awaitTermination(300)

    streamed = {(r.url, r.rel_id) for r in spark.read.parquet(sink).collect()}
    sp = run_spatial_pipeline(
        spark, pages, world["locations"], world["kept"], max_level=11
    )
    batch = {
        (r.url, r.rel_id)
        for r in sp["pip"].join(sp["points"], "point_id").select("url", "rel_id").collect()
    }
    assert streamed == batch


def test_stream_dedup_first_arrival_wins(spark, tmp_path):
    """Streaming exact dedup: duplicated content within the watermark
    horizon is dropped; the streamed survivor set equals the batch
    first-occurrence dedup on the same data."""
    from osm_spark.streaming.pages_stream import stream_dedup_pages

    rows = []
    base_ts = "2020-09-13 12:{m:02d}:00"
    for i in range(60):
        # 20 distinct contents, each arriving 3 times at later minutes
        rows.append(
            (f"https://e.org/p/{i}", base_ts.format(m=i % 60),
             f"content-{i % 20}")
        )
    pages = spark.createDataFrame(
        rows, "url string, ts string, text string"
    ).select(
        "url", F.col("ts").cast("timestamp").alias("warc_ts"), "text"
    )
    src = str(tmp_path / "dsrc")
    pages.coalesce(1).write.parquet(src)  # one file: deterministic order
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(src)
    out = stream_dedup_pages(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_pages")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("dedup_pages").collect()
    # exactly one survivor per distinct content
    assert len(got) == 20
    assert sorted({r.text for r in got}) == sorted(
        {f"content-{i}" for i in range(20)}
    )
    # batch twin agrees on the survivor CONTENT set
    batch = pages.dropDuplicates(["text"]).collect()
    assert {r.text for r in got} == {r.text for r in batch}


def test_stream_hll_maintenance(spark, tmp_path):
    """Streamed sketch maintenance: after the stream drains, the
    manifest-table sketch equals the batch sketch of ALL pages; an
    intermediate version is itself a valid sketch; re-merging a batch
    (at-least-once replay) is a no-op (max-merge idempotence)."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.operators.sketch import hll_estimate, hll_sketch
    from osm_spark.sources.manifest_table import ManifestTable
    from osm_spark.streaming.pages_stream import stream_hll_maintenance

    pages = pages_df(spark, PagesSpec(n_pages=2000, n_countries=1))
    src = str(tmp_path / "pages_src")
    pages.repartition(4).write.parquet(src)

    tbl = str(tmp_path / "hll_tbl")
    ck = str(tmp_path / "hll_ck")
    q = stream_hll_maintenance(
        spark, src, tbl, "url", ck, max_files_per_trigger=2
    )
    q.awaitTermination(300)

    t = ManifestTable(spark, tbl)
    assert t.current_version() >= 2  # one commit per micro-batch

    final = sorted(map(tuple, t.read().collect()))
    batch = sorted(
        map(tuple, hll_sketch(spark.read.parquet(src), "url").collect())
    )
    assert final == batch

    # the estimate off the maintained table matches the batch estimate
    est = hll_estimate(t.read()).collect()[0]["estimate"]
    best = hll_estimate(hll_sketch(spark.read.parquet(src), "url")).collect()[0][
        "estimate"
    ]
    assert est == best

    # idempotence: re-merging the full source once more changes nothing
    remerged = sorted(
        map(
            tuple,
            t.read()
            .unionByName(hll_sketch(spark.read.parquet(src), "url"))
            .groupBy("register")
            .agg(F.max("max_rank").alias("max_rank"))
            .collect(),
        )
    )
    assert remerged == final


def test_stream_hotspot_maintenance(spark, tmp_path):
    """Streamed cell-count maintenance: after the stream drains the
    maintained counts equal the batch cell_counts of ALL pages;
    hotspot clusters derived from the table equal grid_clusters on
    the full point set; an intermediate version is a valid partial
    count table; replaying an applied batch is a no-op (the snapshot
    summary's applied_batch_id — SUM-merge is not idempotent by
    itself)."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.sources.manifest_table import ManifestTable
    from osm_spark.spatial.geoparse import geoparse_pages
    from osm_spark.spatial.hotspots import (
        cell_counts,
        clusters_from_cells,
        grid_clusters,
    )
    from osm_spark.streaming.pages_stream import stream_hotspot_maintenance

    level, min_pts = 8, 3
    pages = pages_df(spark, PagesSpec(n_pages=2000, n_countries=1))
    src = str(tmp_path / "pages_src")
    pages.repartition(4).write.parquet(src)

    tbl = str(tmp_path / "cells_tbl")
    ck = str(tmp_path / "cells_ck")
    q = stream_hotspot_maintenance(
        spark, src, tbl, level, ck, max_files_per_trigger=2
    )
    q.awaitTermination(300)

    t = ManifestTable(spark, tbl)
    assert t.current_version() >= 2  # one commit per micro-batch

    points = geoparse_pages(spark.read.parquet(src))
    want = sorted(map(tuple, cell_counts(points, level).collect()))
    got = sorted(
        map(tuple, t.read().where(F.col("cell") >= 0).collect())
    )
    assert got == want

    # an intermediate version is a valid partial table: counts <= final
    mid = {
        r["cell"]: r["n_points"]
        for r in t.read(1).where(F.col("cell") >= 0).collect()
    }
    final = {r[0]: r[3] for r in got}
    assert mid and all(final[c] >= n for c, n in mid.items())

    # clusters from the maintained table == clusters from the points
    from_table = sorted(
        map(
            tuple,
            clusters_from_cells(
                t.read().where(F.col("cell") >= 0), level, min_pts
            ).collect(),
        )
    )
    from_points = sorted(
        map(tuple, grid_clusters(points, level, min_pts).collect())
    )
    assert from_table == from_points and from_table

    # replay dedup: same checkpoint + no new files commits nothing
    applied = t.snapshot()["summary"]["applied_batch_id"]
    assert t.read().where(F.col("cell") < 0).count() == 0
    before_version = t.current_version()
    q2 = stream_hotspot_maintenance(
        spark, src, tbl, level, ck, max_files_per_trigger=2
    )
    q2.awaitTermination(300)
    assert t.current_version() == before_version
    assert applied >= 0

    # applied-id dedup proper: a FRESH checkpoint re-delivers every
    # batch (ids restart at 0 — the at-least-once replay shape); the
    # summary says those ids are already applied, so every batch is a
    # no-op and neither the version nor the counts move.
    ck2 = str(tmp_path / "cells_ck_replay")
    q3 = stream_hotspot_maintenance(
        spark, src, tbl, level, ck2, max_files_per_trigger=2
    )
    q3.awaitTermination(300)
    assert t.current_version() == before_version
    assert (
        sorted(map(tuple, t.read().where(F.col("cell") >= 0).collect()))
        == got
    )


def test_stream_hist_maintenance(spark, tmp_path):
    """Streamed histogram maintenance (the live dataset-card path):
    after the stream drains the maintained bins equal the batch
    hist_sketch of ALL pages; quantiles derived from the table equal
    batch quantiles; an intermediate version is a valid partial
    count table; a fresh-checkpoint full replay is a no-op."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.operators.sketch import hist_quantiles, hist_sketch
    from osm_spark.sources.manifest_table import ManifestTable
    from osm_spark.streaming.pages_stream import stream_hist_maintenance

    lo, hi, nb = 0, 2048, 64
    pages = pages_df(spark, PagesSpec(n_pages=1500, n_countries=1))
    src = str(tmp_path / "pages_src_h")
    pages.repartition(4).write.parquet(src)

    tbl = str(tmp_path / "hist_tbl")
    ck = str(tmp_path / "hist_ck")
    q = stream_hist_maintenance(
        spark, src, tbl, ck, lo, hi, nb, max_files_per_trigger=2
    )
    q.awaitTermination(300)

    t = ManifestTable(spark, tbl)
    assert t.current_version() >= 2

    vals = spark.read.parquet(src).select(
        F.expr("length(text)").cast("long").alias("v")
    )
    want = sorted(
        map(tuple, hist_sketch(vals, "v", lo, hi, nb).collect())
    )
    live = t.read().where(F.col("bin") >= 0)
    got = sorted(map(tuple, live.collect()))
    assert got == want

    # quantiles from the maintained table == batch quantiles
    qs = [250_000, 500_000, 900_000]
    from_table = sorted(
        map(tuple, hist_quantiles(live, qs, lo, hi, nb).collect())
    )
    from_batch = sorted(
        map(
            tuple,
            hist_quantiles(
                hist_sketch(vals, "v", lo, hi, nb), qs, lo, hi, nb
            ).collect(),
        )
    )
    assert from_table == from_batch and from_table

    # intermediate version: counts <= final
    mid = {r["bin"]: r["n"] for r in t.read(1).where(F.col("bin") >= 0).collect()}
    final = dict(got)
    assert mid and all(final[b] >= n for b, n in mid.items())

    # fresh-checkpoint full replay: batch ids restart at 0, the
    # summary says they are applied — version and counts must not move.
    before_version = t.current_version()
    ck2 = str(tmp_path / "hist_ck_replay")
    q2 = stream_hist_maintenance(
        spark, src, tbl, ck2, lo, hi, nb, max_files_per_trigger=2
    )
    q2.awaitTermination(300)
    assert t.current_version() == before_version
    assert sorted(
        map(tuple, t.read().where(F.col("bin") >= 0).collect())
    ) == got


def test_stream_hist_maintenance_refuses_marker_table(spark, tmp_path):
    """A table committed without the applied_batch_id summary property
    (the older marker-row format) is refused with "rebuild", never
    SUM-merged into."""
    from pyspark.errors import StreamingQueryException

    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.sources.manifest_table import ManifestTable
    from osm_spark.streaming.pages_stream import stream_hist_maintenance

    src = str(tmp_path / "pages_src_old")
    pages_df(spark, PagesSpec(n_pages=100, n_countries=1)).write.parquet(src)
    tbl = str(tmp_path / "hist_tbl_old")
    old = ManifestTable(spark, tbl)
    old.write(spark.createDataFrame([(-1, 5), (3, 7)], "bin int, n long"))
    q = stream_hist_maintenance(
        spark, src, tbl, str(tmp_path / "hist_ck_old"), 0, 2048, 64
    )
    with pytest.raises(StreamingQueryException, match="rebuild"):
        q.awaitTermination(300)
    assert old.current_version() == 1


def test_stream_kmv_maintenance(spark, tmp_path):
    """Streamed KMV maintenance: the maintained sketch table is
    BIT-IDENTICAL to re-sketching the full corpus batch-side (the
    mergeable-sketch exactness claim), estimates agree, and a
    fresh-checkpoint replay is a no-op."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.operators.sketch import kmv_estimate, kmv_sketch
    from osm_spark.sources.manifest_table import ManifestTable
    from osm_spark.streaming.pages_stream import stream_kmv_maintenance

    pages = pages_df(spark, PagesSpec(n_pages=1500, n_countries=1))
    src = str(tmp_path / "pages_src_kmv")
    pages.repartition(4).write.parquet(src)

    tbl = str(tmp_path / "kmv_tbl")
    ck = str(tmp_path / "kmv_ck")
    q = stream_kmv_maintenance(
        spark, src, tbl, ck, key_expr="url", group_expr="lang",
        k=32, max_files_per_trigger=2,
    )
    q.awaitTermination(300)

    t = ManifestTable(spark, tbl)
    assert t.current_version() >= 2

    batch = kmv_sketch(
        spark.read.parquet(src).select("lang", "url"),
        "url",
        ["lang"],
        k=32,
    )
    want = {r["lang"]: r["hs"] for r in batch.collect()}
    live = t.read().where(F.col("g").isNotNull()).select(
        F.col("g").alias("lang"), "hs"
    )
    got = {r["lang"]: r["hs"] for r in live.collect()}
    assert got == want  # exact, not approximate: merge rule identity

    est = {
        r["lang"]: r["est"]
        for r in kmv_estimate(live, k=32).collect()
    }
    est_batch = {
        r["lang"]: r["est"] for r in kmv_estimate(batch, k=32).collect()
    }
    assert est == est_batch

    # fresh-checkpoint replay: summary says applied — no version bump
    before = t.current_version()
    ck2 = str(tmp_path / "kmv_ck_replay")
    q2 = stream_kmv_maintenance(
        spark, src, tbl, ck2, key_expr="url", group_expr="lang",
        k=32, max_files_per_trigger=2,
    )
    q2.awaitTermination(300)
    assert ManifestTable(spark, tbl).current_version() == before


def test_stream_kmv_null_group_no_marker_collision(spark, tmp_path):
    """A null-``group_expr`` page must NOT land in the table: null
    groups are dropped at ingest, replay stays a no-op, and the
    maintained table equals the batch sketch over non-null groups."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.operators.sketch import kmv_sketch
    from osm_spark.sources.manifest_table import ManifestTable
    from osm_spark.streaming.pages_stream import stream_kmv_maintenance

    pages = pages_df(spark, PagesSpec(n_pages=600, n_countries=1))
    # every 5th page has NULL lang — the collision trigger
    pages = pages.withColumn(
        "lang",
        F.when(F.expr("pmod(abs(hash(url)), 5) = 0"), F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    src = str(tmp_path / "pages_src_kmv_null")
    pages.repartition(4).write.parquet(src)

    tbl = str(tmp_path / "kmv_tbl_null")
    ck = str(tmp_path / "kmv_ck_null")
    q = stream_kmv_maintenance(
        spark, src, tbl, ck, key_expr="url", group_expr="lang",
        k=32, max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    t = ManifestTable(spark, tbl)
    live = t.read().where(F.col("g").isNotNull())
    batch = kmv_sketch(
        spark.read.parquet(src)
        .where(F.col("lang").isNotNull())
        .select("lang", "url"),
        "url",
        ["lang"],
        k=32,
    )
    want = {r["lang"]: r["hs"] for r in batch.collect()}
    got = {r["g"]: r["hs"] for r in live.collect()}
    assert got == want
    # no null-group row; the applied batch id rides the summary
    assert t.read().where(F.col("g").isNull()).count() == 0
    assert t.snapshot()["summary"]["applied_batch_id"] is not None

    before = t.current_version()
    ck2 = str(tmp_path / "kmv_ck_null_replay")
    q2 = stream_kmv_maintenance(
        spark, src, tbl, ck2, key_expr="url", group_expr="lang",
        k=32, max_files_per_trigger=1,
    )
    q2.awaitTermination(300)
    assert ManifestTable(spark, tbl).current_version() == before


def test_citation_latency_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream join: drained availableNow output ==
    the identical batch join expression, including the inclusive lag
    boundaries; out-of-range links never appear."""
    from osm_spark.data.pages import PagesSpec, pages_df
    from osm_spark.streaming.pages_stream import citation_latency_join

    pages = pages_df(spark, PagesSpec(n_pages=800, n_countries=1))
    psrc = str(tmp_path / "pages_src_ss")
    pages.repartition(3).write.parquet(psrc)

    # deterministic link events: page k cites page k-1, at lag
    # (37k mod 7200) seconds — some inside the 1h window, some outside
    page_no = F.regexp_extract("url", r"page/(\d+)$", 1).cast("long")
    links = (
        pages.select(F.col("url").alias("dst_url"), "warc_ts", page_no.alias("k"))
        .where(F.col("k") > 0)
        .select(
            F.concat(
                F.lit("https://w.example/page/"),
                (F.col("k") - 1).cast("string"),
            ).alias("src"),
            F.col("dst_url").alias("dst"),
            (
                F.col("warc_ts")
                + ((F.col("k") * 37) % 7200).cast("string").cast("interval second")
            ).alias("link_ts"),
        )
    )
    lsrc = str(tmp_path / "links_src_ss")
    links.repartition(3).write.parquet(lsrc)

    pschema = "url string, warc_ts timestamp, html binary, text string, lang string"
    lschema = "src string, dst string, link_ts timestamp"
    p_stream = (
        spark.readStream.schema(pschema)
        .option("maxFilesPerTrigger", "2")
        .parquet(psrc)
    )
    l_stream = (
        spark.readStream.schema(lschema)
        .option("maxFilesPerTrigger", "2")
        .parquet(lsrc)
    )
    out = citation_latency_join(p_stream, l_stream, max_lag="1 hour")
    sink = str(tmp_path / "ss_out")
    ck = str(tmp_path / "ss_ck")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = sorted(
        map(
            tuple,
            spark.read.parquet(sink)
            .select("dst", "src", "lag_sec")
            .collect(),
        )
    )
    batch_pages = spark.read.parquet(psrc).select("url", "warc_ts")
    batch_links = spark.read.parquet(lsrc)
    want_df = batch_links.join(
        batch_pages,
        (F.col("dst") == F.col("url"))
        & (F.col("link_ts") >= F.col("warc_ts"))
        & (F.col("link_ts") <= F.col("warc_ts") + F.expr("INTERVAL 1 hour")),
    ).select(
        "dst",
        "src",
        (F.unix_timestamp("link_ts") - F.unix_timestamp("warc_ts")).alias(
            "lag_sec"
        ),
    )
    want = sorted(map(tuple, want_df.collect()))
    assert got == want and got
    assert all(0 <= r[2] <= 3600 for r in got)
    # links beyond the lag window exist in the input but never join
    n_links = batch_links.count()
    assert len(got) < n_links
