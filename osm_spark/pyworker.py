"""Spark Python daemon whose workers re-read a zip archive only when it changed.

Every Python task starts with pyspark's ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython < 3.13 that
makes every ``zipimport.zipimporter`` re-read its archive's central
directory, and each worker holds several over ``pyspark.zip``, the py4j
zip and the spark-core jar: 0.1-0.2 s of fixed cost per task. CPython
3.13 made the call a cache drop.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module. It guards the call (``install``), reads each archive on the path
once so that forked workers inherit the signatures, and hands over to
the unchanged ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_SIG = "_osm_spark_sig"


def _signature(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` in this process (and the
    processes it forks). Idempotent; a no-op on CPython 3.13+."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "stdlib"):
        return
    stdlib = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            sig = _signature(self.archive)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, _SIG, None):
            stdlib(self)
            setattr(self, _SIG, sig)

    invalidate_caches.stdlib = stdlib
    cls.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    import importlib

    import pyspark.daemon

    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # Run through the package so the guard's functions belong to
    # ``osm_spark.pyworker``, not ``__main__``.
    from osm_spark import pyworker

    pyworker.main()
