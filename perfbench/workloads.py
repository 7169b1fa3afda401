"""Benchmark workloads: seeded inputs, the timed op, its output check,
and the traced twin of the op.

Both workloads are one client in a closed loop: the next op starts when
the previous op and its check have finished. Both start from the same
setup: the admin polygons of an OSM-shaped world, built by
``run_boundaries_pipeline``, covered and indexed
(``build_polygon_cells``, ``build_pip_index``) and broadcast. The first
run in a checkout builds the index and caches it (``index_cache``);
later untraced runs load it, so that set-up, which every run pays,
does not spend a third of the run rebuilding what no op measures.
Traced runs always build it, the polygons with parquet checkpoints,
and report each of those layers.

- ``pip_tiles`` assigns pages to the admin polygons and tiles that hold
  them. One op is the page side of ``run_spatial_pipeline(mode="index")``
  against the setup index: ``geoparse_pages``, ``pip_join_index`` and
  ``tile_assignments`` over 200,000 pages, with the tiles cached as the
  op's output; 30% of the pages fall in one hot city cell. The covering
  is not in the op: at this page count it would be a large share of it.
- ``incremental_pip`` writes beside reads on the same PIP kernel. One
  op appends one 20,000-page slice to a ``ManifestTable`` and runs
  ``pip_increment`` against the setup index. Snapshot commit, the
  file-diff read, the marker scan and the assignment write take most of
  the op; the kernel sees one small batch. It is the only workload
  whose op cost can depend on table history.

The seed reshapes inputs, never their size: in runs that build the
index it permutes the row order of the world tables (the polygons are
order-insensitive, so one pin and one cached index serve every seed),
and it picks one of ``N_WINDOWS`` page-id windows,
which moves every coordinate while keeping the bucket mix. Outputs are
checked against ``pins.json`` (polygons, tiles) or against one full
PIP recompute (the incremental assignment table).

Traced runs compose each op from the same public calls, materializing
every layer's output at the layer boundary; setup is traced too, and
``trace_tail`` runs the layers the workload's own op does not reach,
so every traced run reports every layer.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import osm_spark
from osm_spark.data.pages import PagesSpec, pages_df
from osm_spark.data.worldgen import WorldSpec, world_dataframes
from osm_spark.operators import (
    assemble_locations,
    build_boundaries,
    build_centroids,
    build_ways_geom,
    resolve_members,
    split_kept_relations,
)
from osm_spark.plans.incremental import applied_source_version, pip_increment
from osm_spark.plans.pipeline import (
    Checkpointer,
    content_hash,
    run_boundaries_pipeline,
)
from osm_spark.sources.manifest_table import ManifestTable
from osm_spark.spatial.covering import build_polygon_cells, polygon_geometry
from osm_spark.spatial.geoparse import geoparse_pages
from osm_spark.spatial.pip_index import build_pip_index, pip_join_index
from osm_spark.spatial.tiles import tile_assignments

MIN_LEVEL, MAX_LEVEL, TILE_LEVEL = 4, 11, 7
N_WINDOWS = 16
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


@dataclass(frozen=True)
class Size:
    world: WorldSpec
    pages: int  # pip_tiles pages, and the trace tail's; a multiple of 20 * countries
    slice_pages: int  # pages per incremental slice
    tail_slices: int  # incremental steps in the pip_tiles trace tail


SIZES = {
    "full": Size(
        world=WorldSpec(n_countries=4, densify=6),
        pages=200_000,
        slice_pages=20_000,
        tail_slices=2,
    ),
    "toy": Size(
        world=WorldSpec(n_countries=2),
        pages=4_000,
        slice_pages=1_000,
        tail_slices=2,
    ),
}


def load_pins() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


def row_hash(df: DataFrame) -> list[int]:
    """[row count, order-insensitive content hash]."""
    return [df.count(), content_hash(df)]


def corrupted(df: DataFrame) -> DataFrame:
    """The output with one row duplicated: what a broken op could emit."""
    return df.unionByName(df.limit(1))


class _IdWindow:
    """Stand-in session whose ``range(n)`` starts at ``start``, so the
    public ``pages_df`` expressions run over a shifted page-id window."""

    def __init__(self, spark, start: int):
        self._spark = spark
        self._start = start

    def range(self, n: int) -> DataFrame:
        return self._spark.range(self._start, self._start + n)


def page_window(spark, n_countries: int, start: int, n: int) -> DataFrame:
    return pages_df(
        _IdWindow(spark, start), PagesSpec(n_pages=n, n_countries=n_countries)
    )


def persisted(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def world_tables(spark, spec: WorldSpec, seed: int):
    """World tables with their rows shuffled across partitions and
    ordered by a hash of ``seed``."""
    nodes, ways, rels, cfg = world_dataframes(spark, spec)
    key = F.xxhash64("id", F.lit(seed))
    n = spark.sparkContext.defaultParallelism
    tables = [
        persisted(df.repartition(n, key).sortWithinPartitions(key))
        for df in (nodes, ways, rels)
    ]
    return (*tables, cfg)


def index_cache(base: str, size_key: str) -> str:
    """Path of the cached index and admin levels of one size, named by a
    hash of the world spec and of every source file of the ``osm_spark``
    package, so a changed package never reads an index an older one
    built."""
    h = hashlib.sha256(repr(SIZES[size_key].world).encode())
    pkg = os.path.dirname(os.path.abspath(osm_spark.__file__))
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return os.path.join(base, "cache", f"index-{size_key}-{h.hexdigest()[:16]}.pkl")


def _save(path: str, value) -> None:
    """Pickle into a temp file, then rename it into place."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(value, fh)
    os.replace(tmp, path)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


def _timed(fn):
    t = time.perf_counter()
    value = fn()
    return value, time.perf_counter() - t


class Workload:
    """Setup, op, check and traced op of one workload.

    ``setup`` returns the seconds it spent building inputs and warming
    up, and leaves its phases in ``phases``; output checks run outside
    every timed region. ``step`` is one op; ``op`` runs it untraced
    (also inside a traced run) and ``traced_op`` with layer spans.
    ``check`` returns (ok, output rows); ``final_check`` may fail ops
    once all have run.
    """

    name = ""
    # Checked ops run before timing starts. The JVM keeps compiling hot
    # paths over the first few ops, and more slowly on a busy host, so
    # an op of many small queries needs more of them.
    warmup_ops = 2

    def __init__(self, spark, size_key: str, seed: int, work: str, tracer):
        self.spark = spark
        self.size_key = size_key
        self.size = SIZES[size_key]
        self.n_countries = self.size.world.n_countries
        self.seed = seed
        self.window = seed % N_WINDOWS
        self.work = work
        self.tr = tracer
        self.pins = load_pins()
        self.setup_ok = True
        self.phases: dict[str, float] = {}

    def op(self, i: int, corrupt: bool = False) -> dict:
        with self.tr.suspended():
            return self.step(i, corrupt)

    def traced_op(self, i: int, corrupt: bool = False) -> dict:
        with self.tr.op(f"op-{i}"):
            return self.step(i, corrupt)

    def polygons_and_index(self) -> float:
        """The admin polygons, then their covering and broadcast index;
        sets ``index``, ``index_bc`` and ``admin_levels``. Returns the
        seconds taken.

        The index and admin levels are inputs of both workloads, not
        what they measure, and the same for every seed, so an untraced
        run loads them from ``index_cache`` when an earlier run in this
        checkout built them with this package source. Otherwise (and in
        every traced run) it generates the world, runs the boundaries
        pipeline and covers its polygons; built locations must match
        their pin, and only an index built from those is cached."""
        cache = index_cache(os.path.dirname(self.work), self.size_key)
        if self.tr.enabled or not os.path.exists(cache):
            spent = self.build_polygons()
            pin = self.pins["world"][self.size_key]
            self.setup_ok &= row_hash(self.locations) == pin["locations"]
            with self.tr.op("setup"):
                self.index, index_s = _timed(self.cover_index)
            self.phases["index"] = index_s
            spent += index_s
            if self.setup_ok and not self.tr.enabled:
                levels = self.admin_levels
                _save(cache, (self.index, levels.schema, levels.collect()))
        else:
            def load():
                with open(cache, "rb") as fh:
                    self.index, schema, rows = pickle.load(fh)
                self.admin_levels = persisted(self.spark.createDataFrame(rows, schema))

            _none, spent = _timed(load)
            self.phases["index_cached"] = spent
        self.index_bc = self.spark.sparkContext.broadcast(self.index)
        return spent

    def build_polygons(self) -> float:
        """World generation and the boundaries pipeline (traced: its
        composition, which must match the pipeline's pinned output)."""
        world, gen_s = _timed(lambda: world_tables(self.spark, self.size.world, self.seed))
        self.tr.record("data.worldgen.gen_s", gen_s)

        def build():
            if self.tr.enabled:
                with self.tr.op("setup"):
                    return self.traced_boundaries(
                        *world, os.path.join(self.work, "polygons")
                    )
            return run_boundaries_pipeline(self.spark, *world)

        def built():
            poly = build()
            levels = poly["kept"].select(F.col("id").alias("rel_id"), "admin_level")
            return poly, persisted(poly["locations"]), persisted(levels)

        (poly, self.locations, self.admin_levels), poly_s = _timed(built)
        if self.tr.enabled:
            pin = self.pins["world"][self.size_key]
            # The composed pipeline (parquet checkpoints) must match
            # run_boundaries_pipeline's output.
            self.setup_ok &= row_hash(poly["boundaries"]) == pin["boundaries"]
        self.phases.update(worldgen=gen_s, polygons=poly_s)
        return gen_s + poly_s

    def warm_up(self) -> float:
        """Run ``warmup_ops`` checked ops; returns their summed op time."""
        self.warm_s = []
        for i in range(self.warmup_ops):
            out, t = _timed(lambda: self.op(-1 - i))
            self.warm_s.append(t)
            ok, _rows = self.check(out)
            self.setup_ok = self.setup_ok and ok
        self.phases["warmup"] = sum(self.warm_s)
        return self.phases["warmup"]

    def final_check(self, results: list[dict]) -> None:
        """Runs once after the last op; may mark ``results`` (the
        measured ops, in order) failed."""

    # -- compositions shared by both workloads -----------------------------

    def traced_boundaries(self, nodes, ways, rels, cfg, ckdir: str) -> dict:
        """``run_boundaries_pipeline`` (parquet checkpoints) composed from
        its operator calls, one span per layer."""
        tr = self.tr
        ck = Checkpointer(self.spark, ckdir)

        def layer(name: str, make) -> DataFrame:
            with tr.span(name) as s:
                df = make().persist()
                s.rows = df.count()
            return df

        def checkpoint(name: str, df: DataFrame) -> DataFrame:
            with tr.span("plans.pipeline.checkpoint") as s:
                out = ck.write(name, df)
                # Checkpointer records one whole-table row (partition -1)
                # per stage before its per-partition rows.
                s.rows = next(
                    m["rows"] for m in reversed(ck.metrics)
                    if m["stage"] == name and m["partition"] == -1
                )
            df.unpersist()
            return out

        ways_geom = checkpoint(
            "ways_geom", layer("operators.ways", lambda: build_ways_geom(nodes, ways))
        )
        kept = layer("operators.filters", lambda: split_kept_relations(rels, cfg)[0])
        locations = checkpoint("locations", layer(
            "operators.assembly",
            lambda: assemble_locations(
                resolve_members(rels, kept, ways_geom, cfg)[0]
            )[0],
        ))
        centroids = checkpoint("centroids", layer(
            "operators.centroids", lambda: build_centroids(kept, locations, nodes)[0]
        ))
        boundaries = checkpoint("boundaries", layer(
            "operators.geojson", lambda: build_boundaries(kept, locations, centroids)[0]
        ))
        with tr.span("plans.pipeline.checkpoint"):
            ck.flush_metrics()
        tr.record("operators.assembly.ok_ratio", locations.count() / kept.count())
        tr.record("plans.pipeline.bytes_written", _du(ckdir))
        return {"kept": kept, "locations": locations, "boundaries": boundaries}

    def cover_index(self):
        """Covering + index build of the setup polygons, as
        ``run_spatial_pipeline(mode="index")`` makes them; returns the
        index. Traced: one span each, plus covering/index figures."""
        tr = self.tr
        with tr.span("spatial.covering") as s:
            cells = build_polygon_cells(self.locations, MIN_LEVEL, MAX_LEVEL).persist()
            s.rows = n_cells = cells.count()
        with tr.span("spatial.pip_index.build") as s:
            index = build_pip_index(cells, polygon_geometry(self.locations))
            s.rows = n_polys = len(index.geom)
        cells.unpersist()
        if tr.enabled:
            tr.record("spatial.covering.cells_per_poly", n_cells / n_polys)
            tr.record("spatial.pip_index.index_bytes", len(pickle.dumps(index)))
        return index

    def pip_pages(self, pages: DataFrame, corrupt: bool = False) -> dict:
        """The page side of ``run_spatial_pipeline(mode="index")``
        against the setup index. The tiles are cached as the op's
        output, so ``check_tiles`` reads them after the op's timing.
        Traced, each layer is materialized inside its span."""
        tr = self.tr
        with tr.span("spatial.geoparse") as s:
            # points feed both the PIP join and the tile assignment
            points = (
                geoparse_pages(pages)
                .withColumn("point_id", F.xxhash64("url"))
                .select("point_id", "url", "lon", "lat")
                .persist()
            )
            if tr.enabled:
                s.rows = points.count()
                tr.record("spatial.geoparse.hit_ratio", s.rows / self.size.pages)
        with tr.span("spatial.pip_index.join") as s:
            pip = pip_join_index(
                points.select("point_id", "lon", "lat"), self.index_bc
            ).select("point_id", "rel_id")
            if tr.enabled:
                pip = pip.persist()
                s.rows = pip.count()
        if tr.enabled:
            self._candidate_stats(points, pip)
        with tr.span("spatial.tiles") as tiles_span:
            tiles = tile_assignments(pip, points, self.admin_levels, TILE_LEVEL)
            tiles = (corrupted(tiles) if corrupt else tiles).persist()
            tiles.write.format("noop").mode("overwrite").save()
        return {"tiles": tiles, "tiles_span": tiles_span, "release": (points, pip)}

    def check_tiles(self, out: dict) -> tuple[bool, int]:
        """Row count and content hash of the cached tiles against the
        pin of this seed's page window."""
        got = row_hash(out["tiles"])
        for df in (*out["release"], out["tiles"]):
            df.unpersist()
        out["tiles_span"].rows = got[0]
        return got == self.pins["pip_tiles"][self.size_key][str(self.window)], got[0]

    def _candidate_stats(self, points: DataFrame, pip: DataFrame) -> None:
        """Covering-filter figures from ``PipIndex.candidates`` on a fixed
        point sample (every point whose id is 0 mod 16)."""
        in_sample = F.col("point_id") % 16 == 0
        sample = points.where(in_sample).select("lon", "lat").toPandas()
        _pt, _rel, _poly, interior, _cell = self.index.candidates(
            sample["lon"].to_numpy(float), sample["lat"].to_numpy(float)
        )
        hits = len(interior)
        self.tr.record("spatial.pip_index.cands_per_point", hits / len(sample))
        self.tr.record("spatial.pip_index.boundary_frac", 1 - interior.mean())
        self.tr.record(
            "spatial.pip_index.accept_ratio", pip.where(in_sample).count() / hits
        )

    def incremental_step(self, pages_table, assign_path: str, pages) -> dict:
        """Append one page slice, then ``pip_increment``. Traced, the
        applied version and the file diff are also timed on their own."""
        tr, spark = self.tr, self.spark
        exists = pages_table.exists()
        before = len(pages_table.snapshot()["files"]) if exists and tr.enabled else 0
        with tr.span("sources.manifest_table.commit") as s:
            pages_table.write(pages, mode="append" if exists else "overwrite")
            s.rows = self.size.slice_pages
        if tr.enabled:
            tr.record(
                "sources.manifest_table.files_per_commit",
                len(pages_table.snapshot()["files"]) - before,
            )
            with tr.span("plans.incremental.applied_version"):
                applied = applied_source_version(ManifestTable(spark, assign_path))
            if applied is not None:
                with tr.span("sources.manifest_table.changes") as s:
                    cur = pages_table.current_version()
                    s.rows = pages_table.changes(applied, cur).count()
        with tr.span("plans.incremental.pip_increment") as s:
            r = pip_increment(spark, pages_table, assign_path, self.index_bc)
            s.rows = r["total_rows"]
        return r

    def assignments_ref(self, pages: DataFrame) -> DataFrame:
        """(url, rel_id) from one full PIP pass over ``pages``."""
        pts = geoparse_pages(pages).withColumn("point_id", F.xxhash64("url"))
        return pip_join_index(
            pts.select("point_id", "lon", "lat", "url"), self.index_bc, keep=("url",)
        ).select("url", F.col("rel_id").cast("long"))


class PipTiles(Workload):
    name = "pip_tiles"

    def setup(self, seconds: float) -> float:
        spent = self.polygons_and_index()
        n = self.size.pages
        self.pages, pages_s = _timed(lambda: persisted(
            page_window(self.spark, self.n_countries, self.window * n, n)
        ))
        self.tr.record("data.pages.gen_s", pages_s)
        self.phases["pages"] = pages_s
        return spent + pages_s + self.warm_up()

    def step(self, i: int, corrupt: bool = False) -> dict:
        return self.pip_pages(self.pages, corrupt)

    def check(self, out: dict) -> tuple[bool, int]:
        return self.check_tiles(out)

    def trace_tail(self) -> tuple[int, int]:
        """Incremental steps against the setup index: one attempt per
        step, all failed if the table differs from a full recompute."""
        n, k = self.size.slice_pages, self.size.tail_slices
        start = (N_WINDOWS + self.window) * self.size.pages
        slices = [
            persisted(page_window(self.spark, self.n_countries, start + j * n, n))
            for j in range(k)
        ]
        table = ManifestTable(self.spark, os.path.join(self.work, "tail", "pages"))
        assign_path = os.path.join(self.work, "tail", "assign")
        for j, sl in enumerate(slices):
            with self.tr.op(f"tail-{j}"):
                self.incremental_step(table, assign_path, sl)
        ref = self.assignments_ref(table.read())
        ok = row_hash(assignments(self.spark, assign_path)) == row_hash(ref)
        return k, 0 if ok else k


class IncrementalPip(Workload):
    name = "incremental_pip"
    warmup_ops = 3

    def setup(self, seconds: float) -> float:
        spent = self.polygons_and_index()
        self.start = (N_WINDOWS + self.window) * self.size.pages
        self.slices: list[DataFrame] = []
        self.steps: list[tuple[int, int]] = []  # (slice, rows added) per op
        self.table = ManifestTable(self.spark, os.path.join(self.work, "inc", "pages"))
        self.assign_path = os.path.join(self.work, "inc", "assign")
        self.used = 0
        self.total = 0
        pages_s = self._cut_slices(self.warmup_ops)
        spent += self.warm_up()
        # Slices are cut before timing: half again what the closed loop
        # would use at the fastest warm-up op's pace. A loop that still
        # runs out ends early (StopIteration) rather than failing ops.
        pages_s += self._cut_slices(math.ceil(1.5 * seconds / min(self.warm_s)) + 1)
        self.tr.record("data.pages.gen_s", pages_s)
        self.phases["pages"] = pages_s
        return spent + pages_s

    def _cut_slices(self, count: int) -> float:
        """Generate and persist the next ``count`` consecutive slices in
        one pass, as one cached pool that each slice filters; returns
        the seconds taken."""
        n, k0 = self.size.slice_pages, len(self.slices)
        pool, secs = _timed(lambda: persisted(
            page_window(self.spark, self.n_countries, self.start + k0 * n, n * count)
            .withColumn("_k", _slice_index(self.start, n))
        ))
        self.slices += [
            pool.where(F.col("_k") == k).drop("_k") for k in range(k0, k0 + count)
        ]
        return secs

    def step(self, i: int, corrupt: bool = False) -> dict:
        if self.used == len(self.slices):
            raise StopIteration("incremental_pip used every pre-cut slice")
        k = self.used
        self.used += 1
        pages = corrupted(self.slices[k]) if corrupt else self.slices[k]
        r = self.incremental_step(self.table, self.assign_path, pages)
        return {"k": k, "r": r}

    def check(self, out: dict) -> tuple[bool, int]:
        """The step applied the current version; ``final_check`` later
        holds the rows it added to a full recompute."""
        r, prev = out["r"], self.total
        self.total = r["total_rows"]
        self.steps.append((out["k"], self.total - prev))
        return r["applied_to"] == self.table.current_version(), self.total - prev

    def final_check(self, results: list[dict]) -> None:
        """The assignment table must equal one full PIP recompute over
        every page appended (generated afresh: the slices are consecutive
        page-id windows from ``start``), slice by slice, and each op must
        have added exactly its slice's rows of that recompute."""
        appended = page_window(
            self.spark, self.n_countries, self.start, self.used * self.size.slice_pages
        )
        ref = self._per_slice(self.assignments_ref(appended))
        table_ok = self._per_slice(assignments(self.spark, self.assign_path)) == ref
        ok = [table_ok and added == ref.get(k, (0,))[0] for k, added in self.steps]
        self.setup_ok = self.setup_ok and all(ok[: self.warmup_ops])
        for r, step_ok in zip(results, ok[self.warmup_ops :]):
            r["ok"] = r["ok"] and step_ok

    def _per_slice(self, df: DataFrame) -> dict[int, tuple[int, int]]:
        """{slice: (rows, summed row hashes)} of (url, rel_id) rows, in
        one pass."""
        df = df.select("url", F.col("rel_id").cast("long"))
        h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
        rows = df.groupBy(
            _slice_index(self.start, self.size.slice_pages).alias("k")
        ).agg(F.count("*").alias("n"), F.sum(h % F.lit(2**31)).alias("s")).collect()
        return {r["k"]: (r["n"], r["s"]) for r in rows}

    def trace_tail(self) -> tuple[int, int]:
        """One composed PIP op on the pip_tiles pages of this seed,
        checked against the pinned tiles."""
        n = self.size.pages
        pages = persisted(page_window(self.spark, self.n_countries, self.window * n, n))
        with self.tr.op("tail-pip"):
            out = self.pip_pages(pages)
        ok, _rows = self.check_tiles(out)
        return 1, int(not ok)


def _slice_index(start: int, n: int):
    """Slice number of a page row: its page id (the url's trailing
    digits) counted in n-page windows from ``start``."""
    page_id = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    return ((page_id - start) / n).cast("int")


def assignments(spark, assign_path: str) -> DataFrame:
    """(url, rel_id) rows of an assignment table; marker rows carry url
    "" (page urls are never empty)."""
    return ManifestTable(spark, assign_path).read().where(F.col("url") != "")


WORKLOADS = {w.name: w for w in (PipTiles, IncrementalPip)}
