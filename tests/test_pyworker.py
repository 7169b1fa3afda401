"""osm_spark.pyworker: a Python worker re-reads a zip archive's
directory only when the archive changed, and every Python task of a
``get_spark`` session runs under that guard."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimporter drops its cache without a re-read",
)


def test_invalidate_rereads_changed_archives_only(tmp_path, monkeypatch):
    from osm_spark import pyworker

    # restored at teardown: the guard stays out of the test process
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pyworker.install()
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("alpha.py", "X = 1\n")
    imp = zipimport.zipimporter(archive)

    reads, real = [], zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    imp.invalidate_caches()  # no signature recorded yet: one read
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [archive]
    assert imp.find_spec("alpha") is not None
    assert imp.find_spec("beta") is None

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("beta.py", "Y = 2\n")
    imp.invalidate_caches()
    assert reads == [archive, archive]
    assert imp.find_spec("beta") is not None

    # a vanished archive keeps the stdlib behaviour: nothing is found
    (tmp_path / "mods.zip").unlink()
    imp.invalidate_caches()
    assert imp.find_spec("alpha") is None


def test_spark_python_tasks_run_guarded(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    got = spark.range(1, numPartitions=1).mapInArrow(probe, "m string")
    assert [r.m for r in got.collect()] == ["osm_spark.pyworker"]
