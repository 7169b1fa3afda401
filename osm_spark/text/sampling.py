"""Deterministic hash sampling / splitting — training-data plumbing.

Random sampling (``df.sample``) is seed- and partitioning-dependent:
re-running the pipeline, changing parallelism, or resuming from a
checkpoint yields a DIFFERENT sample, which silently breaks
train/validation hygiene at 10^12 rows.  The standard fix is
content-hash bucketing: a document's bucket is a pure function of its
key, so membership is reproducible across runs, engines and cluster
sizes, and a late-arriving shard lands in the same splits.

Hashing follows the repo's oracle convention (md5-prefix → int64,
never engine-native hash functions) so every operator here has an
exact DuckDB twin (q60).  All expressions are pure Catalyst — the
sample predicate pushes down to the scan like any other filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 12 hex chars = 48 bits: fits long exactly, uniform for bucketing.
_PREFIX = 12


def hash_bucket(key: Column, n_buckets: int, salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets) from md5(salt + key)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key)), 1, _PREFIX), 16, 10
    ).cast("long") % n_buckets


def hash_sample(
    df: DataFrame, key: str, rate: float, n_buckets: int = 10_000, salt: str = ""
) -> DataFrame:
    """Keep rows whose bucket falls under ``rate`` (0..1].  Same key →
    same verdict on every run/engine/cluster size."""
    return df.where(hash_bucket(F.col(key), n_buckets, salt) < int(rate * n_buckets))


def hash_split(
    df: DataFrame,
    key: str,
    splits: dict[str, float],
    n_buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Assign every row to exactly one named split by cumulative bucket
    ranges (e.g. {"train": 0.9, "val": 0.05, "test": 0.05}).  Ranges
    partition [0, n_buckets), so splits are disjoint and exhaustive
    when the weights sum to 1."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key), n_buckets, salt)
    cum = 0
    bounds = []
    for name, w in splits.items():
        cum += w
        bounds.append((name, int(round(cum * n_buckets))))
    bounds[-1] = (bounds[-1][0], n_buckets)  # close any rounding gap
    expr = None
    for name, b in bounds:  # first matching upper bound wins
        cond = bucket < F.lit(b)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return df.withColumn("split", expr)


def bucket_sql(key_sql: str, n_buckets: int, salt: str = "") -> str:
    """DuckDB twin of hash_bucket (for oracles)."""
    return (
        f"CAST(('0x' || substr(md5('{salt}' || {key_sql}), 1, {_PREFIX})) AS BIGINT)"
        f" % {n_buckets}"
    )


def write_split_tables(
    df: DataFrame,
    key: str,
    splits: dict[str, float],
    root: str,
    n_buckets: int = 10_000,
    salt: str = "",
    mode: str = "overwrite",
):
    """Materialize ``hash_split`` as one snapshot-versioned
    ManifestTable per split under ``root/<name>`` (VERDICT r3 next #7:
    durable, time-travelable training splits).

    Because membership is a pure function of (salt, key), an appended
    shard routes every row to the same split it would ever get — so
    append commits EXTEND each split without ever moving a row between
    splits, and any historical train/val/test state is reproducible by
    reading the split tables at matching versions. Per-split row
    counts and content hashes live in each table's snapshot summary
    (counted by the job that writes each split commit).

    Returns {split_name: ManifestTable}.
    """
    import os

    from osm_spark.sources.manifest_table import ManifestTable

    tagged = hash_split(df, key, splits, n_buckets, salt)
    out = {}
    for name in splits:
        t = ManifestTable(df.sparkSession, os.path.join(root, name))
        # One filtered pass per split; the split predicate is pure
        # Catalyst over the key hash, so it pushes into the scan.
        t.write(tagged.where(F.col("split") == name).drop("split"), mode=mode)
        out[name] = t
    return out


def stratified_sample(
    df: DataFrame,
    key: str,
    group: str,
    cap: int | dict[str, int],
    salt: str = "",
    margin: float = 4.0,
) -> DataFrame:
    """Keep at most ``cap`` rows per ``group`` value, chosen as the cap
    smallest md5 hashes of ``key`` — a deterministic uniform sample of
    each stratum (same rows on every run / engine / cluster size), the
    standard move for balancing a training corpus across languages or
    sources. ``cap`` is one int for all groups or {group_value: cap}
    (missing groups keep 0).

    Scale shape: the naive plan is a row_number window over the FULL
    table partitioned by group — at 10^12 rows that sorts everything.
    Instead: (1) one map-side-combinable count per group, joined back
    broadcast; (2) a pure-Catalyst hash prefilter keeps rows whose
    48-bit hash falls under ``margin × cap/count`` of the hash space —
    the window then ranks only ~margin·cap rows per group; (3) the
    exact rank trim. The prefilter is correctness-CHECKED, not
    trusted: groups where it under-selected (fewer than min(cap, n)
    survivors — binomially suppressed to ~e^-cap at margin 4) are
    re-run through the unfiltered window and patched in, so the result
    is exactly the cap smallest hashes regardless of hash luck.
    """
    sp = df.sparkSession
    if isinstance(cap, dict):
        cap_df = sp.createDataFrame(
            [(k, int(v)) for k, v in cap.items()], f"{group} string, _cap long"
        )
        # inner join: groups without a cap entry are dropped (cap 0)
        capped = df.join(
            F.broadcast(cap_df),
            df[group].cast("string").eqNullSafe(cap_df[group]),
        ).drop(cap_df[group])
    else:
        capped = df.withColumn("_cap", F.lit(int(cap)))

    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, _PREFIX),
        16,
        10,
    ).cast("long")
    counts = capped.groupBy(group).agg(
        F.count("*").alias("_n"), F.first("_cap").alias("_gcap")
    )
    with_n = capped.join(F.broadcast(counts.drop("_gcap")), [group])
    space = 1 << (4 * _PREFIX)
    thresh = F.least(
        F.lit(space),
        (F.lit(space) * F.col("_cap") * F.lit(margin) / F.col("_n")).cast("long") + 1,
    )
    pre = with_n.withColumn("_h", h).where(F.col("_h") < thresh)

    from pyspark.sql import Window

    w = Window.partitionBy(group).orderBy("_h", key)
    ranked = pre.withColumn("_rk", F.row_number().over(w))
    kept = ranked.where(F.col("_rk") <= F.col("_cap"))

    # exactness check: a group under-selects iff it kept fewer than
    # min(cap, n) rows — rerun just those groups without the prefilter.
    # Driven from `counts` (EVERY group), not from `kept`: a group the
    # prefilter starved completely has no kept rows at all and would
    # otherwise escape the check.
    kept_counts = kept.groupBy(group).agg(F.count("*").alias("_k"))
    short = (
        counts.join(kept_counts, [group], "left")
        .where(
            F.coalesce(F.col("_k"), F.lit(0))
            < F.least(F.col("_gcap"), F.col("_n"))
        )
        .select(group)
    )
    patch = (
        with_n.join(F.broadcast(short), [group], "left_semi")
        .withColumn("_h", h)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= F.col("_cap"))
    )
    fixed = kept.join(F.broadcast(short), [group], "left_anti").unionByName(patch)
    return fixed.drop("_cap", "_n", "_h", "_rk")


def mix_sample(
    docs: DataFrame,
    shares: dict[str, int],
    token_budget: int,
    key: str = "doc_id",
    text: str = "text",
    source: str = "source",
    n_buckets: int = 10_000,
    salt: str = "mix",
) -> DataFrame:
    """Source-mixing sampler: deterministic per-source subsampling that
    hits a token budget at prescribed mixture weights.

    Training mixes are specified as integer SHARES per source (e.g.
    {"web": 6, "code": 3, "wiki": 1}); the operator computes each
    source's token target ``budget * share / total_shares``, turns it
    into a keep-rate against the source's available tokens, and keeps
    documents by the same md5-bucket rule as ``hash_sample`` — so the
    sample is reproducible across runs, engines and cluster sizes, and
    a re-run after appending a shard keeps every previously-kept doc
    whose source rate did not change.

    All rate math is INTEGER (shares, token counts, bucket bounds):
    no float rounding can disagree between engines. A source with more
    target than available tokens keeps everything (rate clamps at 1).

    Scale shape: one map-side-combinable per-source aggregate whose
    result is O(sources) on the driver (like the manifest's O(files)),
    broadcast back as (source, bound); the keep predicate is then pure
    Catalyst per row. Returns every input doc with its verdict:
    (key, source, n_tokens, bound, keep).
    """
    from osm_spark.text.analysis import TOKENS_SQL

    if token_budget < 0:
        raise ValueError("token_budget must be >= 0")
    tot_share = sum(shares.values())
    if tot_share <= 0:
        raise ValueError("total shares must be positive")
    toks = docs.select(
        F.col(key),
        F.col(source),
        F.size(F.expr(TOKENS_SQL.format(t=text))).alias("n_tokens"),
    )
    avail = toks.groupBy(source).agg(F.sum("n_tokens").alias("avail")).collect()
    bounds = []
    for r in avail:
        a = int(r["avail"] or 0)
        target = token_budget * shares.get(r[source], 0) // tot_share
        bound = min(n_buckets, target * n_buckets // a) if a > 0 else 0
        bounds.append((r[source], bound))
    bdf = docs.sparkSession.createDataFrame(
        bounds, f"{source} string, bound long"
    )
    # null-safe equality: a NULL source (absent metadata) is its own
    # group — its bound is 0 (share lookup misses), so the doc comes
    # out keep=false INSTEAD of silently vanishing through a plain
    # inner join (null never equals null), which would break the
    # "returns every input doc with its verdict" contract and
    # curate()'s every-doc-accounted disposition union.
    return toks.join(
        F.broadcast(bdf), toks[source].eqNullSafe(bdf[source])
    ).select(
        toks[key],
        toks[source].alias(source),
        toks["n_tokens"],
        bdf["bound"],
        (hash_bucket(toks[key], n_buckets, salt) < bdf["bound"]).alias(
            "keep"
        ),
    )


def mix_summary(mixed: DataFrame, source: str = "source") -> DataFrame:
    """Per-source achievement report for a ``mix_sample`` output:
    available vs kept docs/tokens. The judge of a training mix reads
    THIS, not the per-doc verdicts."""
    return mixed.groupBy(source).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("avail_tokens"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept_docs"),
        F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)).alias(
            "kept_tokens"
        ),
        F.max("bound").alias("bound"),
    )
