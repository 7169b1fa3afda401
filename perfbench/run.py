"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload pip_tiles --seed 1 --seconds 10 --trace 0

Run from the repository root; everything the run writes (Spark local
dirs, checkpoints, the event log, the span dump, the index cache) goes
under ``.perfbench/`` there, and the run leaves only the span dump and
the index cache behind.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (session
start, seeded input generation and persist, warm-up ops), ``op_p50_s``
(median op wall time) and ``rows_per_s`` (median over ops of output
rows over op time; a median, so a host stall that slows a few ops of a
run does not move it).
``--trace 1`` runs one loop of untraced and traced ops interleaved,
then the workload's trace tail, and prints the per-layer metrics
instead (``tracing.per_layer_catalogue``), with ``trace.overhead_s`` =
traced minus untraced median op time.

The line before the result carries run context: the tail percentile
(when at least ten samples lie beyond it), the failed fraction, load
averages at start and end, the share of host CPU time stolen by the
hypervisor over the run, the Spark master, and the peak RSS of the
process tree (driver, JVM, Python workers; a per-layer metric, since
the number of Python workers alive varies from run to run), and the
seconds each setup phase took.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    p.add_argument(
        "--corrupt-op", type=int, default=-1,
        help="make op N emit a corrupted copy of its output (tests)",
    )
    return p.parse_args(argv)


def _pin_env(work: str) -> None:
    """Before numpy, pyspark or the JVM start: one BLAS thread per
    process (Spark supplies the parallelism) and every temp file inside
    the work dir."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _session(work: str, cores: int, trace: bool):
    from osm_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        # A heap that starts at full size: a growing heap made op times
        # drift down by a quarter over the first ~20 ops.
        "spark.driver.extraJavaOptions": "-Xms2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(run_op, check, seconds: float, corrupt_op: int = -1,
                min_ops: int = 1) -> list[dict]:
    """One client: start the next op only after the previous op and its
    check finish, until ``seconds`` have passed (at least ``min_ops``
    ops). An op that raises or fails its check counts as failed; one
    that raises StopIteration (its workload used every pre-made input)
    ends the loop."""
    results = []
    start = time.perf_counter()
    while len(results) < min_ops or time.perf_counter() - start < seconds:
        i = len(results)
        t = time.perf_counter()
        try:
            out = run_op(i, corrupt=i == corrupt_op)
            op_s = time.perf_counter() - t
            ok, rows = check(out)
        except StopIteration:
            break
        except Exception:  # noqa: BLE001 - a raising op is a failed op
            traceback.print_exc()
            op_s, ok, rows = time.perf_counter() - t, False, 0
        results.append({"s": op_s, "rows": rows, "ok": ok})
    return results


def traced_slot(i: int) -> bool:
    """Whether op i of a traced run is traced: untraced, traced, traced,
    untraced, and so on (ABBA). A traced run holds at least one whole
    cycle, so both kinds see the same table history and JIT state on
    average."""
    return i % 4 in (1, 2)


def interleaved(wl):
    def run_op(i: int, corrupt: bool = False) -> dict:
        return (wl.traced_op if traced_slot(i) else wl.op)(i, corrupt)

    return run_op


def tail(times: list[float]) -> dict:
    """Highest percentile (nearest rank) with at least ten samples
    beyond it."""
    n = len(times)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return {"op_tail_s": sorted(times)[rank - 1], "op_tail_pct": p, "n_ops": n}
    return {"op_tail_s": None, "op_tail_pct": None, "n_ops": n}


def run(args) -> int:
    t_start = time.perf_counter()
    marks = {}

    def mark(phase: str) -> None:
        marks[phase] = round(time.perf_counter() - t_start, 3)

    root = os.getcwd()
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _pin_env(work)
    sys.path.insert(0, root)
    try:
        import osm_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: osm_spark is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import procs, tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    cpu_start = procs.cpu_times()
    rss = procs.TreePeakRss().start()
    t0 = time.perf_counter()
    spark = _session(work, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    mark("session")
    try:
        tr = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](
            spark, args.size, args.seed, work, tr
        )
        setup_s = session_s + wl.setup(args.seconds)
        mark("setup")
        run_op = interleaved(wl) if args.trace else wl.op
        every = closed_loop(run_op, wl.check, args.seconds, args.corrupt_op,
                            min_ops=4 if args.trace else 1)
        mark("ops")
        tail_attempted, tail_failed = 0, 0
        if args.trace:
            tail_attempted, tail_failed = wl.trace_tail()
            mark("trace_tail")
        wl.final_check(every)
        mark("checked")
    finally:
        procs.stop_spark(spark)
    peak_rss_mb = rss.stop()
    mark("stopped")

    if args.trace:
        ops = [r for i, r in enumerate(every) if not traced_slot(i)]
        traced = [r for i, r in enumerate(every) if traced_slot(i)]
    else:
        ops, traced = every, []
    attempted = len(every) + tail_attempted
    failed = sum(not r["ok"] for r in every) + tail_failed
    times = [r["s"] for r in ops]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "master": f"local[{cores}]",
        "failed_frac": failed / attempted,
        "setup_ok": wl.setup_ok,
        "op_s": times,
        **tail(times),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "host_steal_frac": procs.steal_frac(cpu_start, procs.cpu_times()),
        "peak_rss_mb": peak_rss_mb,
        "setup_phases_s": {"session": session_s, **wl.phases},
        "elapsed_at": marks,
    }
    if args.trace:
        traced_p50 = statistics.median(r["s"] for r in traced)
        tr.record("trace.overhead_s", traced_p50 - statistics.median(times))
        tr.record("process.peak_rss_mb", peak_rss_mb)
        tracing.attribute_event_log(tr.spans, _event_log(work))
        values = tracing.layer_metrics(tr)
        units = {n: u for n, u, _better in tracing.per_layer_catalogue()}
        context["traced_op_s"] = [r["s"] for r in traced]
        tr.dump(os.path.join(base, f"trace-{args.workload}-s{args.seed}.json"))
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times),
            "rows_per_s": statistics.median(r["rows"] / r["s"] for r in ops),
        }
        units = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s"}
    shutil.rmtree(work, ignore_errors=True)
    print("context " + json.dumps(context))
    print(json.dumps({
        "correct": failed == 0 and wl.setup_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def _event_log(work: str) -> str:
    events = os.path.join(work, "events")
    (name,) = [n for n in os.listdir(events) if not n.startswith(".")]
    return os.path.join(events, name)


if __name__ == "__main__":
    sys.exit(run(_args(sys.argv[1:])))
