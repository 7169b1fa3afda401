"""Semantic deduplication — cluster-scoped embedding near-dup pruning
(the SemDeDup shape: Abbas et al. 2023, arXiv:2303.09540).

Pairwise cosine over a 10^12-row corpus is infeasible (n² pairs) and
LSH bucketing (text/ann.py cosine_near_pairs mode="lsh") trades recall
for selectivity pair-blind. SemDeDup's observation: semantic
duplicates land in the same k-means cluster, so it suffices to compare
WITHIN clusters — the pair space drops from n² to Σ c_i² ≈ n²/n_lists,
a factor-n_lists cut that is exact for any duplicate pair the
quantizer co-locates (the paper accepts losing cross-cluster pairs;
that approximation IS the published algorithm, and the oracle here
re-applies the same cluster scope, so the contract is checkable).

Scale shape, stage by stage:

1. **Assign** — one Arrow GEMM pass tags every vector with its nearest
   centroid (`list_id`); the (n_lists × dim) centroid matrix rides the
   task closure. No shuffle. The quantizer is the SAME deterministic
   sample-trained spherical k-means the IVF index uses
   (ann.train_ivf_centroids) — train once, share across ANN search and
   dedup.
2. **Pairs** — self-equi-join on `list_id` + exact cosine ≥ τ. The
   join is a plain hash equi-join (ONE shuffle, AQE-skew-splittable if
   a mega-cluster appears); cosine runs JVM-side via the sequential
   `aggregate(zip_with(...))` kernel, bit-identical to the DuckDB
   oracle's `list_reduce` — no numpy-GEMM float-order divergence can
   flip a threshold comparison. Pair work is Σ c_i²·dim FLOPs: pick
   ``n_lists`` so the expected cluster size c = n/n_lists keeps c²
   per-task tractable (the paper runs ~10^5 clusters for 10^9 items;
   `auto_n_lists`'s √n default gives c = √n, total n^1.5 — fine to
   ~10^9, beyond that raise n_lists toward n/10^4).
3. **Components** — duplicate pairs form groups via the same
   large-star/small-star components used for MinHash near-dup
   clustering (spatial/components.py); keep = minimum id per component
   (deterministic keeper; the paper keeps the most-atypical item —
   swap the keeper rule downstream if desired, the component labels
   are the hard part).

Output: one row per vector — (id, list_id, component, cluster_size,
keep); ``where(keep)`` IS the semantically deduplicated corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.text.ann import (
    DOT_SQL,
    NORM_SQL,
    _ivf_probes_col,
    train_ivf_centroids,
)
from osm_spark.spatial.components import connected_components


def assign_clusters(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, list_id): nearest-centroid assignment, one Arrow pass,
    zero shuffle (ties to the lower list id — ann._ivf_probes_col)."""
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        _ivf_probes_col(centroids, 1, vec_col)[0].alias("list_id"),
    )


def semantic_dup_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "catalyst",
    tile: int = 4096,
) -> DataFrame:
    """Within-cluster near-dup pairs (id_a < id_b, sim ≥ threshold).

    ``kernel="catalyst"``: self-equi-join on list_id with the JVM
    sequential-aggregate cosine — bit-identical to the DuckDB oracle
    (q95's path) but pays per-element lambda overhead on every pair.
    ``kernel="gemm"``: groupBy(list_id) + applyInPandas with a tiled
    numpy GEMM — the throughput path (measured ~20× on the 100k
    clustered bench corpus); same ONE shuffle on list_id, per-task
    memory bounded by tile² doubles regardless of cluster size.
    GEMM accumulation order differs from the sequential fold, so a
    pair whose sim sits within float noise (~1e-13) of the threshold
    can flip between kernels — pytest pins set-equality on the test
    corpora; use "catalyst" where oracle bit-identity matters.
    """
    if kernel == "gemm":
        return _dup_pairs_gemm(assigned, threshold, id_col, vec_col, tile)
    a = assigned.select(
        F.col("list_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("qv"),
    )
    b = assigned.select(
        F.col("list_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("ev"),
    )
    dot = F.expr(DOT_SQL.format(a="qv", b="ev"))
    nq = F.expr(NORM_SQL.format(a="qv"))
    ne = F.expr(NORM_SQL.format(a="ev"))
    return (
        a.join(b, "list_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select("list_id", "id_a", "id_b", (dot / (nq * ne)).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def _dup_pairs_gemm(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    tile: int,
) -> DataFrame:
    import pandas as pd

    def pairs_fn(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy(np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)[order]
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        Xn = X / nrm
        n = len(ids)
        out_a, out_b, out_s = [], [], []
        for i0 in range(0, n, tile):
            i1 = min(i0 + tile, n)
            for j0 in range(i0, n, tile):
                j1 = min(j0 + tile, n)
                S = Xn[i0:i1] @ Xn[j0:j1].T
                mask = S >= threshold
                # strict upper triangle in GLOBAL indices
                gi = np.arange(i0, i1)[:, None]
                gj = np.arange(j0, j1)[None, :]
                mask &= gj > gi
                ii, jj = np.nonzero(mask)
                if len(ii):
                    out_a.append(ids[i0 + ii])
                    out_b.append(ids[j0 + jj])
                    out_s.append(S[ii, jj])
        if out_a:
            return pd.DataFrame(
                {
                    "list_id": int(key[0]),
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "sim": np.concatenate(out_s),
                }
            )
        return pd.DataFrame(
            {"list_id": [], "id_a": [], "id_b": [], "sim": []}
        ).astype({"list_id": "int64", "id_a": "int64", "id_b": "int64",
                  "sim": "float64"})

    return assigned.groupBy("list_id").applyInPandas(
        pairs_fn, "list_id long, id_a long, id_b long, sim double"
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_lists: int | None = None,
    centroids: np.ndarray | None = None,
    sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "catalyst",
) -> DataFrame:
    """Full SemDeDup pass → (id, list_id, component, cluster_size,
    keep). See module docstring for the scale argument per stage.

    ``centroids``: pass the IVF index's trained quantizer to share it;
    default trains one with the same deterministic recipe
    (``n_lists=None`` → ≈√corpus via ann.auto_n_lists).
    ``kernel``: pair-stage engine — see semantic_dup_pairs ("gemm" is
    the throughput path for production corpora).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, n_lists, 5, sample_mod, id_col, vec_col
        )
    assigned = assign_clusters(embeddings, centroids, id_col, vec_col)
    pairs = semantic_dup_pairs(assigned, threshold, id_col, vec_col, kernel)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    labeled = assigned.select(F.col(id_col), "list_id").join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        "list_id",
        F.coalesce("component", F.col(id_col)).alias("component"),
    )
    sizes = labeled.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return labeled.join(sizes, "component").select(
        F.col(id_col),
        "list_id",
        "component",
        "cluster_size",
        (F.col(id_col) == F.col("component")).alias("keep"),
    )
