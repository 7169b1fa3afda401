"""In-write lineage of ManifestTable commits: the (rows, content_hash,
stats) entries the writing job returns equal a read-back of the files it
wrote, per file, over random frames with empty partitions, nulls,
binary, timestamps, nested arrays and doubles including NaN and -0.0.
"""

import datetime as dt
import os
import tempfile
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_spark.plans.pipeline import content_hash
from osm_spark.sources.manifest_table import ManifestTable

SCHEMA = (
    "id long, k long, d double, s string, b binary, ts timestamp, "
    "arr array<long>, nested array<array<double>>"
)
STATS = ["id", "k"]

_doubles = st.one_of(
    st.none(),
    st.sampled_from([float("nan"), -0.0, 0.0, float("inf"), -float("inf")]),
    st.floats(allow_nan=True, allow_infinity=True),
)
_longs = st.integers(-(2**63), 2**63 - 1)
_row = st.tuples(
    st.one_of(st.none(), _longs),
    st.one_of(st.none(), st.integers(-5, 5)),
    _doubles,
    st.one_of(st.none(), st.text(max_size=8)),
    st.one_of(st.none(), st.binary(max_size=8)),
    st.one_of(
        st.none(),
        st.datetimes(dt.datetime(1900, 1, 1), dt.datetime(2100, 1, 1)),
    ),
    st.one_of(st.none(), st.lists(st.one_of(st.none(), _longs), max_size=4)),
    st.one_of(
        st.none(),
        st.lists(st.one_of(st.none(), st.lists(_doubles, max_size=3)), max_size=3),
    ),
)


def _read_back(spark, table, stats_cols):
    """Reference lineage: every committed file read back from disk, one
    (rows, content_hash, stats) per basename, with the
    plans.pipeline.content_hash row term."""
    files = [e["path"] for e in table.lineage()]
    if not files:
        return {}
    df = table.read()
    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    aggs = [F.count("*").alias("rows"), F.sum(h % F.lit(2**31)).alias("s")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    out = {}
    for r in df.groupBy(F.input_file_name().alias("f")).agg(*aggs).collect():
        entry = {"rows": r["rows"], "content_hash": r["s"] ^ r["rows"]}
        if stats_cols:
            entry["stats"] = {c: [r[f"min_{c}"], r[f"max_{c}"]] for c in stats_cols}
        out[os.path.basename(r["f"])] = entry
    return out


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    rows=st.lists(_row, max_size=40),
    n_parts=st.integers(1, 6),
    by_key=st.booleans(),
    stats=st.booleans(),
)
def test_in_write_lineage_equals_read_back(spark, rows, n_parts, by_key, stats):
    df = spark.createDataFrame(rows, SCHEMA)
    # hash-partitioning on a low-cardinality key leaves empty partitions
    df = df.repartition(n_parts, "k") if by_key else df.repartition(n_parts)
    stats_cols = STATS if stats else []
    with tempfile.TemporaryDirectory() as root:
        t = ManifestTable(spark, os.path.join(root, "t"))
        t.write(df, stats_cols=stats_cols)
        entries = t.lineage()
        assert all(e["rows"] > 0 for e in entries)  # no zero-row files
        assert len({os.path.basename(e["path"]) for e in entries}) == len(entries)
        want = _read_back(spark, t, stats_cols)
        got = {
            os.path.basename(e["path"]): {
                k: v for k, v in e.items() if k != "path"
            }
            for e in entries
        }
        assert got == want
        back = t.read()
        assert back.schema == df.schema
        # row for row (repr keeps NaN and -0.0 comparable)
        assert Counter(map(repr, back.collect())) == Counter(map(repr, df.collect()))
        assert t.table_hash() == content_hash(df)
        assert t.snapshot()["summary"]["total_rows"] == len(rows)


def test_empty_frame_commits_no_files(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([], SCHEMA).repartition(3), stats_cols=STATS)
    assert t.lineage() == [] and t.snapshot()["summary"]["total_files"] == 0
    back = t.read()
    assert back.count() == 0
    assert back.schema == spark.createDataFrame([], SCHEMA).schema
    assert t.table_hash() == 0
    assert not os.path.exists(tmp_path / "t" / "data")
