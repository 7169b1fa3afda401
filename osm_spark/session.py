"""SparkSession factory for the engine.

Defaults are tuned for the sandbox (single JVM, local[N]) but every
setting is the one you would ship to a 1000-executor cluster:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- Arrow on (all geometry kernels run as vectorized pandas UDFs),
- shuffle partitions sized to cores locally; on a real cluster leave
  ``spark.sql.shuffle.partitions`` to AQE's coalescing with a high
  initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_blas_limiter = None


def _task_slots(master: str, cpus: int) -> int:
    """Concurrent tasks of a local master: N for ``local[N]``, N×C for
    ``local-cluster[N,C,M]``, ``cpus`` for ``local[*]`` and any other."""
    args = master[master.find("[") + 1 : master.find("]")].split(",")
    if master.startswith("local-cluster["):
        return int(args[0]) * int(args[1])
    return int(args[0]) if "[" in master and args[0] != "*" else cpus


def get_spark(
    app_name: str = "osm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's tuned session (see the module docstring).

    Python workers start from ``osm_spark.pyworker``
    (``spark.python.daemon.module``), which keeps CPython < 3.13 workers
    from re-reading ``pyspark.zip`` and the spark-core jar in every task
    (0.1-0.2 s each). It must be importable on executors, as every
    osm_spark UDF already requires; the ``PYTHONPATH`` exported below
    provides that.
    """
    # Python workers inherit the driver process env, not driver sys.path;
    # export the package root so UDFs can import osm_spark anywhere.
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_root + (os.pathsep + _pp if _pp else "")
        )

    # ONE BLAS thread per python worker — Spark provides the
    # parallelism (one worker per core); letting OpenBLAS ALSO spawn
    # n_cpu threads per worker runs cores² threads that thrash each
    # other. Measured on this box: a single default-BLAS numpy process
    # ran 0.6× the speed of a single-threaded one, and 8 workers × 32
    # BLAS threads made local[8] SLOWER than local[2] end to end.
    # Standard production-PySpark practice; same reason Spark sets
    # spark.task.cpus=1 by default.
    # NOTE: env pins only take effect in processes that have not yet
    # initialized their BLAS — i.e. the forked python WORKERS (the ones
    # that matter for task throughput). If the caller imported numpy
    # before get_spark(), the DRIVER's already-started OpenBLAS pool is
    # unaffected; threadpoolctl (if available) clamps that live pool
    # too. Entry points that do driver-side numpy (tools/*) additionally
    # pin the env before any import.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    global _blas_limiter
    try:  # pragma: no cover - optional dependency
        from threadpoolctl import threadpool_limits

        # Keep the controller alive: its destructor restores the old
        # limits, so a throwaway instance would be a no-op.
        _blas_limiter = threadpool_limits(limits=1)
    except Exception:
        _blas_limiter = None

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # Match parallelism locally; a real cluster would set this to
        # 2-3x total cores and let AQE coalesce.
        shuffle_partitions = _task_slots(master, cpus)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "osm_spark.pyworker")
        # Make the package importable on executor python workers even
        # when the driver is launched from another cwd.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
                + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
            ),
        )
        # Cluster-mode twin of the driver-env pin above (local-mode
        # workers inherit the driver env; separate executors need it
        # via executorEnv).
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
