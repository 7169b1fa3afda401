"""Incremental k-means maintenance over manifest-table appends.

The ML counterpart of plans/incremental.pip_increment (X89): an
embedding corpus grows by snapshot appends, and the cluster model
(centroids + per-cluster census) must follow WITHOUT re-scanning the
rows already absorbed. The model is a snapshot-versioned ManifestTable
of k rows — time-travelable, atomically committed, crash-retry
idempotent via the applied source version, a snapshot summary property
committed in the same VERSION swap as the rows.

Update rule (deterministic, append-order-defined):

    init       — full-corpus Lloyd fit (text/kmeans.kmeans_fit) on the
                 first snapshot; the durable state is the FINAL
                 assignment's exact per-cluster (n, Σq) int64 sums.
    increment  — manifest file-diff reads ONLY the appended files; the
                 new rows are assigned to the CURRENT model centroids
                 (one zero-shuffle Catalyst pass) and their (n, Σq)
                 fold into the state; centroids are always
                 trunc_div(Σq, n) of the TOTAL state (an emptied /
                 never-fed cluster keeps its previous centroid).

This is the classic online/mini-batch regime: every row that ever
arrived keeps full weight in the centroid (sums are exact int64 — the
kmeans module's order-free contract), assignments of OLD rows are not
revisited (the point of incremental maintenance), and the model after
commits [B₁, B₂, …] is a pure function of the batch sequence — which
the manifest's version order pins, so a SQL oracle can replay the
whole flow (q142).

State merging is k×(dim+1) integers — driver-side by construction;
the per-batch aggregation is the same map-side-combinable
groupBy(cid) the full fit uses. A delete/rewrite in the source is
refused (append-only contract, same as pip_increment).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from osm_spark.text.kmeans import (
    DEFAULT_SCALE,
    _trunc_div,
    assign_expr,
    kmeans_fit,
    quantize_vectors,
)

_APPLIED = "applied_source_version"


def read_model(model) -> tuple[list[list[int]], list[int], list[list[int]], int]:
    """(centroids, counts, sums, applied_version) from a model table. A
    table whose summary lacks the applied version (the older marker-row
    format) raises a "rebuild" ``ValueError``."""
    applied = int(model.summary_prop(_APPLIED))
    state = {int(r["cid"]): r for r in model.read().collect()}
    k = len(state)
    cents = [list(state[j]["centroid"]) for j in range(k)]
    counts = [int(state[j]["n"]) for j in range(k)]
    sums = [list(state[j]["sums"]) for j in range(k)]
    return cents, counts, sums, applied


def _batch_sums(df, cents: list[list[int]], vec_col: str, scale: int):
    """Distributed (cid → n, Σq) of a batch against fixed centroids."""
    dim = len(cents[0])
    q = quantize_vectors(df, vec_col, scale)
    assigned = df.select(
        q.alias("q"), assign_expr(q, cents)["cid"].alias("cid")
    )
    rows = (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n"),
            *[F.sum(F.col("q")[d]).alias(f"s{d}") for d in range(dim)],
        )
        .collect()
    )
    out = {}
    for r in rows:
        out[int(r["cid"])] = (
            int(r["n"]),
            [int(r[f"s{d}"]) for d in range(dim)],
        )
    return out


def _write_model(spark, model, cents, counts, sums, applied: int) -> None:
    rows = [(j, counts[j], sums[j], cents[j]) for j in range(len(cents))]
    df = spark.createDataFrame(
        rows,
        "cid int, n long, sums array<long>, centroid array<long>",
    )
    model.write(df, mode="overwrite", props={_APPLIED: applied})


def kmeans_increment(
    spark: SparkSession,
    source,
    model_path: str,
    k: int,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = DEFAULT_SCALE,
) -> dict:
    """Bring the cluster-model table at ``model_path`` up to date with
    the append-only embeddings ``source`` (a ManifestTable). Returns
    {"applied_from", "applied_to", "n_total"}; a re-run at the same
    source version is a no-op."""
    from osm_spark.sources.manifest_table import ManifestTable

    cur = source.current_version()
    if cur is None:
        raise ValueError("embeddings table has no committed snapshot")
    model = ManifestTable(spark, model_path)
    if model.exists():
        cents, counts, sums, applied = read_model(model)
    else:
        cents = counts = sums = applied = None

    if applied is not None and applied >= cur:
        return {
            "applied_from": applied,
            "applied_to": applied,
            "n_total": sum(counts),
        }

    if applied is None:
        fresh = source.read()
        cents = kmeans_fit(fresh, k, n_iters, id_col, vec_col, scale)
        dim = len(cents[0])
        counts, sums = [0] * k, [[0] * dim for _ in range(k)]
    else:
        fresh = source.inserts(applied, cur, "the model")
        dim = len(cents[0])

    batch = _batch_sums(fresh, cents, vec_col, scale)
    prev = [list(c) for c in cents]
    for j, (n_new, s_new) in batch.items():
        counts[j] += n_new
        sums[j] = [a + b for a, b in zip(sums[j], s_new)]
    cents = [
        [_trunc_div(s, n) for s in sums[j]] if (n := counts[j]) > 0
        else prev[j]
        for j in range(k)
    ]
    _write_model(spark, model, cents, counts, sums, cur)
    return {
        "applied_from": applied,
        "applied_to": cur,
        "n_total": sum(counts),
    }
