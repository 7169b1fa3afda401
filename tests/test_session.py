"""get_spark: default shuffle partitions parsed from the master URL (no
session is started), and the uncompressed in-memory columnar cache that
every ``persist()`` on the session builds."""

import datetime as dt
import math

from pyspark.sql import types as T

from osm_spark.session import _task_slots


def test_task_slots_from_master():
    assert _task_slots("local[8]", 5) == 8
    assert _task_slots("local[4,3]", 5) == 4  # local[N, maxFailures]
    assert _task_slots("local[*]", 5) == 5
    assert _task_slots("local", 5) == 5
    # local-cluster[executors, cores each, MB each]: N×C task slots
    assert _task_slots("local-cluster[2,1,1024]", 5) == 2
    assert _task_slots("local-cluster[4,2,2048]", 5) == 8
    assert _task_slots("spark://host:7077", 5) == 5


def test_columnar_cache_is_uncompressed(spark):
    assert spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed") == "false"


_SPECIAL = (math.nan, -0.0, 0.0, math.inf, -math.inf, 1.5, None)

_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("rep", T.StringType()),
    T.StructField("uniq", T.StringType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("arr", T.ArrayType(T.ArrayType(T.IntegerType()))),
    T.StructField("ts", T.TimestampType()),
    T.StructField("d", T.DoubleType()),
])


def _row(i: int):
    return (
        i,
        ("paris", "lyon", "", None)[i % 4],  # repeated, "" and null
        None if i % 7 == 0 else f"https://example.org/{i}?q={i * 7919}",
        (None, b"", bytes([i % 256, 0, 255]))[i % 3],
        None if i % 5 == 0 else [[i, None], [], None] if i % 2 else [[i] * (i % 4)],
        None if i % 6 == 0 else dt.datetime(2020, 1, 1) + dt.timedelta(seconds=i * 3601),
        _SPECIAL[i % len(_SPECIAL)],
    )


def _canon(v):
    """Values compared by bits: NaN equals NaN, -0.0 differs from 0.0."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def test_persisted_frame_round_trips(spark):
    """A frame collected before, from and after the (uncompressed) cache
    gives the same rows, bit for bit."""
    df = spark.createDataFrame([_row(i) for i in range(3000)], _SCHEMA)

    def rows(plan_has_cache: bool):
        view = df.select("*")  # a new plan, so the cache lookup runs
        got = sorted(_canon(tuple(r)) for r in view.collect())
        plan = view._jdf.queryExecution().executedPlan().toString()
        assert ("InMemoryTableScan" in plan) == plan_has_cache
        return got

    before = rows(False)
    df.persist()
    try:
        assert df.count() == 3000
        cached = rows(True)
    finally:
        df.unpersist(blocking=True)
    assert before == cached == rows(False)
    assert {r[-1] for r in before} >= {_canon(x) for x in _SPECIAL}
