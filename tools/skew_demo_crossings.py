"""Engineered-skew demo for the SEGMENT-CROSSING join (VERDICT r4 next
#8): the crossings/triangles/hausdorff candidate joins inherit the
covering-grid skew story ("AQE splits hot cells" — SCALE.md) but that
claim was never MEASURED under adversarial co-location. This measures
it for `crossing_join`.

Corpus: ``n_traj`` synthetic trajectories, ``pts_per_traj`` steps each.
A ``hot_frac`` fraction of trajectories is co-located inside ONE tiny
box (~0.02 deg — rush hour downtown), so after bbox cell covering all
their segments share a handful of (cx, cy) join keys; the rest spread
over 10 deg. Legs:

    A. AQE skew-split OFF, salt=1   (the unprotected baseline)
    B. AQE skew-split ON,  salt=1   (SCALE.md's prior claim — measured
       here to NOT help: AQE splits by shuffle-INPUT bytes, and a
       mega-cell's input is tiny; the m² blowup is join OUTPUT)
    C. AQE OFF, salt=8              (the structural expansion split)

All legs report wall time plus max/median task duration of the stage
with the LONGEST max task among shuffle-consuming stages (the join
stage's expansion shows up as compute time on a small shuffle read, so
largest-shuffle-read picks the wrong stage here). Output crossing
counts must be identical across legs.

Usage: python tools/skew_demo_crossings.py [n_traj] [pts_per_traj] [reps]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")


def stage_task_stats(spark):
    """(max_task_ms, median_task_ms, stage_id, n_tasks) of the
    shuffle-consuming stage with the LONGEST max task. Expansion skew
    burns CPU in the join stage while its shuffle READ stays small, so
    a largest-read heuristic would grab the distinct stage instead;
    max-task picks the straggler's stage."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages?status=COMPLETE"
    ) as r:
        stages = json.load(r)
    best = None
    for s in stages:
        if not s.get("shuffleReadBytes", 0):
            continue
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages/{s['stageId']}/"
            f"{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
        ) as r:
            q = json.load(r)
        row = (
            q["duration"][1],
            q["duration"][0],
            s["stageId"],
            s["numCompleteTasks"],
        )
        if best is None or row[0] > best[0]:
            best = row
    return best


def run_leg(
    n_traj: int, pts_per_traj: int, skew_join: bool, salt: int
) -> dict:
    from pyspark.sql import functions as F

    from osm_spark.session import get_spark
    from osm_spark.spatial.crossings import crossing_join, segments_from_points

    spark = get_spark(
        app_name=f"xskew-{skew_join}-{salt}", master="local[32]",
        shuffle_partitions=64,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4056",
            # apples-to-apples controls: fixed reduce-task count so
            # max/median is comparable
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.enabled", str(skew_join).lower()
    )
    try:
        hot_mod = 10  # tid % 10 < 1 → 10% of trajectories co-located
        pts = spark.range(n_traj * pts_per_traj).selectExpr(
            f"id div {pts_per_traj} AS traj_id",
            f"id % {pts_per_traj} AS ts",
            # deterministic pseudo-random jitter per point
            "(id * 2654435761) % 10000 AS h1",
            "(id * 2246822519) % 10000 AS h2",
            f"(id div {pts_per_traj}) % {hot_mod} AS band",
        ).selectExpr(
            "traj_id",
            "ts",
            # hot band: every point inside one 0.01-deg box (ONE
            # covering cell at the ~0.01-deg auto-sized grid); cold
            # bands: short steps (≤0.01 deg) around per-trajectory
            # homes spread over ~50x45 deg — thin everywhere.
            "CASE WHEN band < 1 THEN 10.0 + h1 * 1e-6 "
            "ELSE 20.0 + (traj_id % 97) * 0.5 + h1 * 1e-6 END AS lon",
            "CASE WHEN band < 1 THEN 45.0 + h2 * 1e-6 "
            "ELSE 10.0 + ((traj_id div 97) % 89) * 0.5 + h2 * 1e-6 END AS lat",
        )
        segs = segments_from_points(
            pts, traj_col="traj_id", order_cols=("ts",)
        ).persist()
        segs.count()  # materialize input; the timed leg is the join
        t0 = time.time()
        n = crossing_join(segs, salt=salt).count()
        wall = time.time() - t0
        mx, med, sid, ntasks = stage_task_stats(spark)
        segs.unpersist()
        return {
            "skew_join": skew_join,
            "salt": salt,
            "crossings": n,
            "wall_s": round(wall, 2),
            "max_task_ms": mx,
            "median_task_ms": med,
            "stage": sid,
            "n_tasks": ntasks,
        }
    finally:
        spark.stop()


def main() -> None:
    n_traj = int(sys.argv[1]) if len(sys.argv) > 1 else 1200
    ppt = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    results = []
    for _ in range(reps):
        for skew_join, salt in ((False, 1), (True, 1), (False, 8)):
            r = run_leg(n_traj, ppt, skew_join, salt)
            print(json.dumps(r), flush=True)
            results.append(r)
    best = {}
    for r in results:
        k = (r["skew_join"], r["salt"])
        if k not in best or r["wall_s"] < best[k]["wall_s"]:
            best[k] = r
    print(json.dumps({"n_traj": n_traj, "pts": ppt, "best": list(best.values())}))


if __name__ == "__main__":
    main()
