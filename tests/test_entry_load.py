"""The driver contract's table views: ``_load`` registers the ten
``TABLES`` once per session and data dir, not before every query."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.readwriter import DataFrameReader

import __spark_entry__ as E


def _data_dir(root, n):
    """Each table a one-column parquet file of ``n + i`` rows."""
    root.mkdir()
    for i, t in enumerate(E.TABLES):
        pq.write_table(pa.table({"k": list(range(n + i))}), root / f"{t}.parquet")
    return str(root)


def test_tables_registered_once_per_session_and_dir(spark, tmp_path, monkeypatch):
    a, b = _data_dir(tmp_path / "a", 3), _data_dir(tmp_path / "b", 30)
    reads = []
    real = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    s = spark.newSession()  # its own temp views
    region = E._sql("SELECT count(*) AS n FROM region")
    lineitem = E._sql("SELECT count(*) AS n FROM lineitem")
    assert region(s, a).first().n == 3
    assert lineitem(s, a).first().n == 3 + E.TABLES.index("lineitem")
    assert len(reads) == len(E.TABLES)
    # another data dir registers again, and the views follow it
    assert lineitem(s, b).first().n == 30 + E.TABLES.index("lineitem")
    assert region(s, b).first().n == 30
    assert len(reads) == 2 * len(E.TABLES)
    # another session has its own views
    assert region(spark.newSession(), b).first().n == 30
    assert len(reads) == 3 * len(E.TABLES)
