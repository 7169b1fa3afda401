"""Snapshot/manifest table format — Iceberg semantics over plain parquet.

SURVEY §1.3 / BASELINE name Iceberg as the checkpoint + metrics table
format; the sandbox has no Iceberg runtime (no network, no extra jars),
so the engine implements the SEMANTICS the north rule actually depends
on — atomic commits, append isolation, snapshot time travel, manifest-
tracked file lists with per-file lineage — directly over the parquet
files Spark already writes. Every checkpoint of the boundary pipeline
(plans/pipeline.Checkpointer, its metrics table included) and every
incremental table in the package commits through it. Moving to a real
Iceberg catalog would mean a new writer behind the same calls, not a
setting.

Design (a deliberately minimal subset of the Iceberg spec):

    <table>/
      VERSION                 current snapshot id (atomic os.replace swap
                              — the single commit point, like Iceberg's
                              version-hint/catalog pointer)
      snapshots/v<N>.json     snapshot manifest: operation, parent,
                              schema, and the EXPLICIT data-file list
                              with per-file row counts + content hashes
                              (per-partition lineage at file granularity)
      data/c<uuid>/part-<task>-<attempt>-<uuid>.parquet
                              one directory per commit, one file per
                              non-empty task; immutable once written

Guarantees (each pinned by a test):

- **Atomicity**: data files + snapshot json are staged first; the table
  only advances when VERSION is atomically replaced. A writer dying at
  any earlier point leaves the previous snapshot fully readable (its
  file list never references the orphaned files).
- **Append isolation**: ``write(mode="append")`` adds a snapshot whose
  file list is parent's + new — parent files are never touched, so a
  concurrent reader of snapshot N (e.g. the J6 resume anti-join reading
  ``locations`` while the same run appends to it) is unaffected.
- **Time travel**: ``read(version=N)`` reads the exact historical file
  list; ``history()`` lists snapshots.
- **Optimistic concurrency**: commit re-checks VERSION before the swap
  and raises ``CommitConflict`` if another writer advanced it (the
  Iceberg retry contract; the caller re-runs its commit).
- **Explicit file lists**: readers never glob the directory — orphaned
  files from failed commits are invisible until ``vacuum()`` removes
  them.
- **Summary properties**: ``write(props=...)`` merges caller properties
  into the snapshot ``summary`` beside its row/file totals (Iceberg's
  snapshot summary), committed by the same VERSION swap as the rows —
  e.g. the source version an incremental job applied, read back with
  no data scan. ``append``/``merge``/``compact`` carry them forward.

Scale notes: snapshots are driver-side JSON of O(files) entries — the
small side (a 10^12-row table at 512 MB/file is ~10^5 entries, a few MB
of manifest). Per-file lineage comes out of the job that writes the
files, as Iceberg writers collect data-file metrics while writing: each
task streams its Arrow batches into one parquet file and returns that
file's row count and hash, and the commit only lists them. Nothing is
read back, and a task with no rows writes no file.
"""

from __future__ import annotations

import itertools
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


class CommitConflict(RuntimeError):
    """Another writer advanced the table between load and commit."""


def _json_scalar(v):
    """JSON-safe stat value (timestamps → isoformat strings; the
    comparison semantics survive because isoformat sorts like time)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


_H = "__row_hash"


def _file_writer(commit_dir: str, stats_cols: list[str]):
    """The ``mapInArrow`` body of a commit's one writing job: each task
    streams its Arrow batches into one parquet file and yields that
    file's lineage row ``(path, rows, s[, min/max per stats column])``,
    where ``s`` sums the rows' ``fmod(xxhash64, 2^31)`` — the term
    plans.pipeline.content_hash sums (Spark's ``%`` keeps the dividend's
    sign, as ``np.fmod`` does). A task with no rows writes nothing."""

    def write(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        path = os.path.join(
            commit_dir,
            f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}-"
            f"{uuid.uuid4().hex}.parquet",
        )
        batches = (b for b in batches if b.num_rows)
        first = next(batches, None)
        if first is None:
            return
        rows = s = 0
        stat_chunks = {c: [] for c in stats_cols}
        buf, buf_bytes = [], 0
        os.makedirs(commit_dir, exist_ok=True)
        with pq.ParquetWriter(path, first.drop_columns([_H]).schema) as writer:
            for b in itertools.chain([first], batches):
                rows += b.num_rows
                s += int(np.fmod(b.column(_H).to_numpy(), 2**31).sum())
                b = b.drop_columns([_H])
                for c in stats_cols:
                    stat_chunks[c].append(b.column(c))
                buf.append(b)
                buf_bytes += b.nbytes
                if buf_bytes >= 64 << 20:  # ~64 MB row groups, not one per batch
                    writer.write_table(pa.Table.from_batches(buf))
                    buf, buf_bytes = [], 0
            if buf:
                writer.write_table(pa.Table.from_batches(buf))
        cols = {"path": pa.array([path]), "rows": pa.array([rows], pa.int64()),
                "s": pa.array([s], pa.int64())}
        for c, chunks in stat_chunks.items():
            mm = pc.min_max(pa.chunked_array(chunks))
            cols[f"__min_{c}"] = pa.array([mm["min"].as_py()], chunks[0].type)
            cols[f"__max_{c}"] = pa.array([mm["max"].as_py()], chunks[0].type)
        yield pa.RecordBatch.from_pydict(cols)

    return write


class ManifestTable:
    """One snapshot-versioned table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- pointer ----------------------------------------------------------

    def _version_file(self) -> str:
        return os.path.join(self.path, "VERSION")

    def current_version(self) -> int | None:
        try:
            with open(self._version_file()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self) -> bool:
        return self.current_version() is not None

    def _snapshot_path(self, version: int) -> str:
        return os.path.join(self.path, "snapshots", f"v{version:012d}.json")

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        with open(self._snapshot_path(v)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """All snapshots, ascending version (summary fields only)."""
        v = self.current_version()
        out = []
        for i in range(1, (v or 0) + 1):
            try:
                s = self.snapshot(i)
            except FileNotFoundError:
                continue  # manifest expired by vacuum(); version retired
            out.append(
                {
                    "version": s["version"],
                    "parent": s["parent"],
                    "operation": s["operation"],
                    "ts": s["ts"],
                    "total_rows": s["summary"]["total_rows"],
                    "total_files": s["summary"]["total_files"],
                    "content_hash": s["summary"]["content_hash"],
                }
            )
        return out

    def summary_prop(self, key: str):
        """Summary property ``key`` of the current snapshot (None before
        the first commit). A committed table without it raises: it was
        written by an older format (e.g. state kept in marker rows) whose
        state this reader cannot see, so using it would re-apply work."""
        if not self.exists():
            return None
        value = self.snapshot()["summary"].get(key)
        if value is None:
            raise ValueError(
                f"table {self.path} records no {key} in its snapshot "
                "summary; rebuild the table"
            )
        return value

    def lineage(self, version: int | None = None) -> list[dict]:
        """Per-file lineage entries of a snapshot (path, rows, hash)."""
        return self.snapshot(version)["files"]

    def table_hash(self, version: int | None = None) -> int:
        """Partition-invariant whole-table content hash derived from
        the manifest alone (plans.pipeline.content_hash formula:
        sum of per-row xxhash64 % 2^31, xor total rows). Identical
        across any file layout of the same rows — the invariant
        compact() preserves — unlike the snapshot summary's
        xor-of-files fingerprint, which identifies a specific layout.
        """
        entries = self.snapshot(version)["files"]
        return _entry_sum(entries) ^ sum(e["rows"] for e in entries)

    # -- commit -----------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        stats_cols: list[str] | None = None,
        props: dict | None = None,
    ) -> None:
        """Commit ``df`` as a new snapshot (``overwrite`` or ``append``).

        Stage order is the atomicity contract: (1) one Spark job
        writes the data files into a fresh commit dir and returns their
        lineage entries, (2) snapshot json, (3) atomic VERSION swap.
        Failure before (3) leaves the table at its previous snapshot
        with only unreferenced orphans on disk.

        ``stats_cols``: record per-file min/max of these columns in the
        manifest (Iceberg data-file stats) so ``read_where`` can prune
        files at PLANNING time. Stats only help if the writer clusters
        the data (e.g. ``df.repartitionByRange(n, col)`` or the Morton
        sort of sources/clustered.py) — unclustered files all span the
        full range and nothing prunes.

        ``props``: JSON-serialisable summary properties, merged over
        those an append inherits (the row/file totals always win).
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        base_version = self.current_version()
        entries = self._write_files(df, stats_cols)
        if mode == "append" and base_version is not None:
            parent = self.snapshot(base_version)
            entries = parent["files"] + entries
            schema_json = parent["schema"]
            props = {**parent["summary"], **(props or {})}
        else:
            schema_json = json.loads(df.schema.json())
        self._commit_snapshot(entries, schema_json, mode, base_version, props)

    def _write_files(self, df: DataFrame, stats_cols: list[str] | None) -> list[dict]:
        """Stage (1) of a commit: ``df`` into a fresh commit dir as ONE
        Spark job whose tasks each write a parquet file and return its
        lineage entry (rows, content_hash[, stats]).

        Names carry partition id, attempt number and a uuid, and only
        the files of successful attempts reach the entries, so a failed
        or speculative attempt leaves an unreferenced orphan (removed by
        ``vacuum()``), never a duplicate.

        ``stats_cols`` adds the per-file min/max of those columns (the
        manifest-level pruning statistics Iceberg keeps in its data-file
        entries), ordered as pyarrow's ``min_max`` orders them."""
        commit_dir = os.path.join(self.path, "data", f"c{uuid.uuid4().hex}")
        stats_cols = list(stats_cols or [])
        out_schema = StructType(
            [
                StructField("path", StringType()),
                StructField("rows", LongType()),
                StructField("s", LongType()),
            ]
            + [
                StructField(f"__{agg}_{c}", df.schema[c].dataType)
                for c in stats_cols
                for agg in ("min", "max")
            ]
        )
        hashed = df.withColumn(
            _H, F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
        )
        results = hashed.mapInArrow(
            _file_writer(commit_dir, stats_cols), out_schema
        ).collect()
        entries = []
        for r in sorted(results, key=lambda r: r["path"]):
            entry = {
                "path": r["path"],
                "rows": r["rows"],
                "content_hash": r["s"] ^ r["rows"],
            }
            if stats_cols:
                entry["stats"] = {
                    c: [_json_scalar(r[f"__min_{c}"]), _json_scalar(r[f"__max_{c}"])]
                    for c in stats_cols
                }
            entries.append(entry)
        return entries

    def _commit_snapshot(
        self,
        entries: list[dict],
        schema_json: dict,
        operation: str,
        base_version: int | None,
        props: dict | None,
    ) -> int:
        """Shared commit tail: snapshot json assembly, O_EXCL claim,
        VERSION swap — the atomicity/optimistic-concurrency contract
        for every snapshot-producing operation (write / merge)."""
        version = (base_version or 0) + 1
        snap = {
            "version": version,
            "parent": base_version,
            "operation": operation,
            "ts": time.time(),
            "schema": schema_json,
            "files": entries,
            "summary": {
                **(props or {}),
                "total_rows": sum(e["rows"] for e in entries),
                "total_files": len(entries),
                # xor-of-per-file-hashes: order-insensitive whole-table
                # fingerprint, recomputable from the manifest alone.
                "content_hash": _xor([e["content_hash"] for e in entries]),
            },
        }
        payload = json.dumps(snap)  # unencodable props fail before the claim
        os.makedirs(os.path.join(self.path, "snapshots"), exist_ok=True)
        # Optimistic concurrency: CLAIMING the snapshot path is the atomic
        # step. O_EXCL create means two writers racing from the same base
        # version cannot both write v{N+1}.json — the loser gets
        # FileExistsError → CommitConflict and never clobbers the winner's
        # committed manifest. (Posix open(O_CREAT|O_EXCL) is atomic; this
        # is the filesystem equivalent of Iceberg's catalog CAS.)
        # A writer that CRASHES between this claim and the VERSION swap
        # leaves an orphan claim that wedges future commits with
        # CommitConflict; that is resolved by the explicit recover()
        # (operator action), never automatically here — an orphan is
        # indistinguishable from a live writer mid-swap.
        try:
            fh = open(self._snapshot_path(version), "x")
        except FileExistsError:
            raise CommitConflict(
                f"{self.path}: snapshot v{version} already claimed by a "
                f"concurrent writer (base was {base_version})"
            ) from None
        with fh:
            fh.write(payload)
        # Belt-and-braces re-check (covers a concurrent writer that won a
        # DIFFERENT version number, e.g. overwrite racing append). Release
        # the claimed manifest so the version number stays claimable.
        if self.current_version() != base_version:
            try:
                os.remove(self._snapshot_path(version))
            except FileNotFoundError:
                pass
            raise CommitConflict(
                f"{self.path}: version advanced past {base_version} during commit"
            )
        tmp = self._version_file() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, self._version_file())
        return version

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str = "update",
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Copy-on-write MERGE INTO (the Iceberg COW contract):
        rows of the current snapshot whose ``on`` key appears in
        ``source`` are replaced by the source row (``update``) or
        removed (``delete``); unmatched source rows are inserted
        (``update`` mode only).

        Only the AFFECTED files are rewritten: a key-semi-join over
        ``input_file_name()`` identifies which data files contain a
        matched key (broadcasting the distinct source keys — at scale
        the source of a MERGE is the small side), every other file is
        carried into the new snapshot untouched. The rewrite reads the
        affected files only, drops matched rows with one anti-join,
        unions the source, and commits through the same O_EXCL
        claim + VERSION swap as write() — a concurrent reader of the
        previous snapshot never observes a half-merged table.

        Returns a summary dict (committed version, files rewritten /
        carried, rows before/after). Raises ``CommitConflict`` under
        the standard optimistic-concurrency contract.
        """
        if when_matched not in ("update", "delete"):
            raise ValueError(
                f"when_matched must be update|delete, got {when_matched!r}"
            )
        base_version = self.current_version()
        if base_version is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        parent = self.snapshot(base_version)
        schema = StructType.fromJson(parent["schema"])
        if when_matched == "update" and set(source.columns) != {
            f.name for f in schema.fields
        }:
            raise ValueError(
                "merge source columns must match the table schema: "
                f"{sorted(source.columns)} vs "
                f"{sorted(f.name for f in schema.fields)}"
            )
        src_keys = source.select(*on).distinct().persist()
        try:
            cur = self.read(base_version)
            hit = (
                cur.select(*on, F.input_file_name().alias("__f"))
                .join(F.broadcast(src_keys), on, "left_semi")
                .select("__f")
                .distinct()
                .collect()
            )
            hit_names = {os.path.basename(r["__f"]) for r in hit}
            affected = [
                e
                for e in parent["files"]
                if os.path.basename(e["path"]) in hit_names
            ]
            carried = [
                e
                for e in parent["files"]
                if os.path.basename(e["path"]) not in hit_names
            ]
            old_rows = self._scan(schema, [e["path"] for e in affected])
            kept_rows = old_rows.join(F.broadcast(src_keys), on, "left_anti")
            if when_matched == "update":
                new_data = kept_rows.unionByName(source)
            else:
                new_data = kept_rows
            new_entries = self._write_files(new_data, stats_cols)
        finally:
            src_keys.unpersist(blocking=False)
        entries = carried + new_entries
        version = self._commit_snapshot(
            entries, parent["schema"], "merge", base_version, parent["summary"]
        )
        return {
            "version": version,
            "files_rewritten": len(affected),
            "files_carried": len(carried),
            "rows_before": parent["summary"]["total_rows"],
            "rows_after": sum(e["rows"] for e in entries),
        }

    def _diff(
        self, from_version: int, to_version: int
    ) -> tuple[list[str], list[str], StructType]:
        """(added, removed, ``to`` schema) from one read of each
        snapshot."""
        f_snap, t_snap = self.snapshot(from_version), self.snapshot(to_version)
        f_paths = {e["path"] for e in f_snap["files"]}
        t_paths = {e["path"] for e in t_snap["files"]}
        return (
            sorted(t_paths - f_paths),
            sorted(f_paths - t_paths),
            StructType.fromJson(t_snap["schema"]),
        )

    def file_diff(
        self, from_version: int, to_version: int
    ) -> tuple[list[str], list[str]]:
        """(added, removed): sorted data-file paths in ``to`` but not
        ``from``, and the reverse. Manifest-only, no data read; an empty
        ``removed`` means the diff is append-only."""
        added, removed, _ = self._diff(from_version, to_version)
        return added, removed

    def changes(self, from_version: int, to_version: int) -> DataFrame:
        """NET row-level changes between two snapshots (CDC read).

        File-diff first (``file_diff``, manifest-only): files present in
        ``to`` but not ``from`` are candidate inserts, the reverse are
        candidate deletes — identical carried files never get read.
        Because copy-on-write rewrites WHOLE files, rows carried
        through a rewrite would show up as delete+insert pairs in a
        naive file diff; the net pass cancels them with two full-row
        anti-joins over ONLY the differing files (cost bounded by
        churn, not table size). Result: the ``to`` schema plus a
        ``_change_type`` column (``insert`` | ``delete``) — an updated
        row appears as its old row deleted and its new row inserted,
        the standard COW changelog shape.

        An append-only diff (no file removed) skips the net pass: the
        added files tagged ``insert``, duplicates included — what the
        anti-joins against an empty side return, with no join or shuffle.

        Cancellation is SET-based (anti-join on the full row): if an
        identical row exists with different multiplicities on the two
        sides, the surplus copies are not reported. Merge-keyed tables
        are key-unique so this never triggers there; for multiset-
        exact diffs, aggregate a count per row first.
        """
        return self._net_changes(*self._diff(from_version, to_version))

    def _net_changes(
        self, added: list[str], removed: list[str], schema: StructType
    ) -> DataFrame:
        ins = self._scan(schema, added)
        if not removed:
            return ins.withColumn("_change_type", F.lit("insert"))
        cols = [f.name for f in schema.fields]
        del_ = self._scan(schema, removed)
        net_ins = ins.join(del_, cols, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        net_del = del_.join(ins, cols, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        return net_ins.unionByName(net_del)

    def inserts(self, from_version: int, to_version: int, rebuild: str) -> DataFrame:
        """Rows inserted between two snapshots of an append-only table,
        from one read of each snapshot.

        An append-only diff is a plain read of the added files. Only a
        diff that removed files (a rewrite or a compaction) can hold
        deletes, so only then are the net changes probed for one, with
        a Spark job; a delete means the table was rewritten under its
        consumer, and a ``ValueError`` asks to rebuild ``rebuild`` (the
        consumer's derived table: ``pip_increment``'s assignment table,
        ``kmeans_increment``'s model)."""
        added, removed, schema = self._diff(from_version, to_version)
        if not removed:
            return self._scan(schema, added)
        ch = self._net_changes(added, removed, schema)
        if ch.where(F.col("_change_type") == "delete").limit(1).count():
            raise ValueError(
                f"table {self.path} saw deletes/rewrites between versions "
                f"{from_version}..{to_version}; rebuild {rebuild}"
            )
        return ch.where(F.col("_change_type") == "insert").drop("_change_type")

    # -- read -------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """DataFrame over a snapshot's EXPLICIT file list (never a
        directory glob — uncommitted/orphaned files are invisible)."""
        snap = self.snapshot(version)
        schema = StructType.fromJson(snap["schema"])
        return self._scan(schema, [e["path"] for e in snap["files"]])

    def _scan(self, schema: StructType, files: list[str]) -> DataFrame:
        """DataFrame over exactly ``files`` (empty for none)."""
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    def plan_files(
        self, bounds: dict[str, tuple], version: int | None = None
    ) -> tuple[list[dict], int]:
        """Manifest-level scan planning: the snapshot's file entries
        whose recorded min/max stats intersect EVERY ``col: (lo, hi)``
        bound (None end = unbounded). Files without stats for a bound
        column are conservatively kept. Returns (kept_entries,
        total_files) — driver-side over O(files) JSON, no data touched.
        """
        entries = self.snapshot(version)["files"]
        kept = []
        for e in entries:
            stats = e.get("stats", {})
            keep = True
            for c, (lo, hi) in bounds.items():
                if c not in stats:
                    continue  # no stats recorded — cannot exclude
                mn, mx = stats[c]
                if mn is None or mx is None:
                    continue  # all-null file chunk — cannot exclude
                if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                    keep = False
                    break
            if keep:
                kept.append(e)
        return kept, len(entries)

    def read_where(
        self, bounds: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Read a snapshot touching only files whose manifest stats can
        satisfy ``bounds``, then apply the residual range predicates
        exactly. The Iceberg scan-planning contract: file skipping is
        decided from the manifest alone, BEFORE Spark lists or opens
        anything."""
        snap = self.snapshot(version)
        schema = StructType.fromJson(snap["schema"])
        kept, _total = self.plan_files(bounds, version)
        df = self._scan(schema, [e["path"] for e in kept])
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                df = df.where(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.where(F.col(c) <= F.lit(hi))
        return df

    # -- maintenance ------------------------------------------------------

    def compact(
        self,
        small_file_rows: int = 100_000,
        target_file_rows: int = 1_000_000,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Bin-pack small data files into ~``target_file_rows`` files
        (the Iceberg ``rewrite_data_files`` maintenance action).

        The small-file problem is the canonical failure mode of a
        long-lived append/merge table at scale: 10^5 trickle commits
        leave 10^5 tiny files, and every scan pays per-file open cost.
        Compaction reads ONLY the files below ``small_file_rows``
        (selected driver-side from the manifest — no data touched to
        plan), rewrites them as ceil(total_rows / target) files, and
        commits a ``compact`` snapshot carrying every large file
        untouched. Data is bit-identical by construction; the
        partition-invariant ``table_hash`` must equal the parent's, and
        the commit VERIFIES that against the rewritten files on disk
        before publishing (a corrupted rewrite can never become current).

        Returns a summary dict; no-op (returns with ``compacted: 0``,
        no new snapshot) when fewer than two small files exist.
        """
        base_version = self.current_version()
        if base_version is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        parent = self.snapshot(base_version)
        small = [e for e in parent["files"] if e["rows"] < small_file_rows]
        large = [e for e in parent["files"] if e["rows"] >= small_file_rows]
        if len(small) < 2:
            return {"version": base_version, "compacted": 0, "written": 0}
        schema = StructType.fromJson(parent["schema"])
        total = sum(e["rows"] for e in small)
        n_out = max(1, -(-total // target_file_rows))
        new_entries = self._write_files(
            self._scan(schema, [e["path"] for e in small]).repartition(n_out),
            stats_cols,
        )
        # Partition-INVARIANT equality check, read back from disk: the
        # rewritten files' row-hash sum must equal the small files'
        # per-file sums (content_hash ^ rows), which add across any file
        # grouping — and so must the new entries' own sums.
        from osm_spark.plans.pipeline import content_hash

        want = _entry_sum(small) ^ total
        written = self._scan(schema, [e["path"] for e in new_entries])
        if content_hash(written) != want or _entry_sum(new_entries) ^ sum(
            e["rows"] for e in new_entries
        ) != want:
            raise RuntimeError(
                f"{self.path}: compaction rewrite does not match its "
                "inputs (hash/rowcount drift) — aborting before commit; "
                "orphan files will be removed by vacuum()"
            )
        version = self._commit_snapshot(
            large + new_entries,
            parent["schema"],
            "compact",
            base_version,
            parent["summary"],
        )
        return {
            "version": version,
            "compacted": len(small),
            "written": len(new_entries),
        }

    def recover(self) -> str:
        """Repair an interrupted commit (OPERATOR action — run only
        when no writer is live).

        A writer that crashes between claiming ``v{N+1}.json`` (the
        atomic O_EXCL create) and swapping VERSION leaves an orphan
        claim: every future write computes the same version, hits
        FileExistsError and raises CommitConflict — the table is
        wedged until the orphan is resolved. write() deliberately does
        NOT auto-resolve (a claim indistinguishable from a LIVE
        writer mid-swap must not be deleted — that would re-introduce
        the clobber race the O_EXCL claim exists to prevent); with the
        no-live-writer precondition asserted by the caller, recovery
        is unambiguous:

        - orphan manifest parses complete and consistent → the crash
          happened AFTER the manifest was durably written: ROLL
          FORWARD (point VERSION at it — its data files were written
          before commit). Returns ``"rolled_forward"``.
        - orphan unreadable/inconsistent (crash mid-json.dump) →
          ROLL BACK (delete the claim). Returns ``"rolled_back"``.
        - no orphan → ``"clean"``.
        """
        v = self.current_version()
        nxt = (v or 0) + 1
        path = self._snapshot_path(nxt)
        if not os.path.exists(path):
            return "clean"
        try:
            with open(path) as fh:
                snap = json.load(fh)
            ok = (
                snap.get("version") == nxt
                and snap.get("parent") == v
                and isinstance(snap.get("files"), list)
                and "schema" in snap
            )
        except (json.JSONDecodeError, OSError):
            ok = False
        if not ok:
            os.remove(path)
            return "rolled_back"
        tmp = self._version_file() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(str(nxt))
        os.replace(tmp, self._version_file())
        return "rolled_forward"

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Delete data files unreferenced by the ``keep_last`` newest
        snapshots (incl. orphans from failed commits) and drop expired
        snapshot manifests. Returns deleted file paths."""
        v = self.current_version()
        if v is None:
            return []
        keep_versions = set(range(max(1, v - keep_last + 1), v + 1))
        live = set()
        for kv in keep_versions:
            live.update(e["path"] for e in self.snapshot(kv)["files"])
        deleted = []
        data_root = os.path.join(self.path, "data")
        for commit in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
            cdir = os.path.join(data_root, commit)
            for f in sorted(os.listdir(cdir)):
                p = os.path.join(cdir, f)
                if f.endswith(".parquet") and p not in live:
                    os.remove(p)
                    deleted.append(p)
                elif not f.endswith(".parquet") and p not in live:
                    os.remove(p)  # _SUCCESS / .crc markers
            if not os.listdir(cdir):
                os.rmdir(cdir)
        for old in range(1, v + 1):
            if old not in keep_versions:
                try:
                    os.remove(self._snapshot_path(old))
                except FileNotFoundError:
                    pass
        return deleted


def _entry_sum(entries: list[dict]) -> int:
    """Sum of per-file row-hash sums (content_hash ^ rows recovers the
    file's sum term) — additive across any regrouping of the rows."""
    return sum(e["content_hash"] ^ e["rows"] for e in entries)


def _xor(vals: list[int]) -> int:
    out = 0
    for v in vals:
        out ^= v
    return out
