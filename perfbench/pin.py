"""Compute the output pins the benchmark checks against (pins.json).

    python3 perfbench/pin.py --size toy            # rewrite toy pins
    python3 perfbench/pin.py --size full --check   # recompute, compare

Run from the repository root. The polygon pins must not depend on the
seed's row permutation, so they are computed under two seeds and must
agree. Every pip_tiles window is computed by
``run_spatial_pipeline(mode="index")``, whose page side the benchmark
times, and cross-checked against ``mode="catalyst"``, an independent
join implementation; a disagreement aborts without writing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def _pins_for(spark, size_key: str, windows: list[int], work: str) -> dict:
    from perfbench.workloads import (
        MAX_LEVEL, MIN_LEVEL, SIZES, TILE_LEVEL, page_window, persisted,
        row_hash, world_tables,
    )
    from osm_spark.plans.pipeline import run_boundaries_pipeline
    from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

    size = SIZES[size_key]
    per_seed = []
    for seed in (0, 1):
        *tables, cfg = world_tables(spark, size.world, seed)
        poly = run_boundaries_pipeline(
            spark, *tables, cfg, checkpoint_dir=os.path.join(work, f"w{seed}")
        )
        per_seed.append({
            "boundaries": row_hash(poly["boundaries"]),
            "locations": row_hash(poly["locations"]),
        })
    if per_seed[0] != per_seed[1]:
        raise SystemExit(f"polygons depend on input row order: {per_seed}")
    locations = persisted(poly["locations"])
    kept = persisted(poly["kept"])
    n_countries = size.world.n_countries
    tiles = {}
    for w in windows:
        pages = persisted(page_window(spark, n_countries, w * size.pages, size.pages))
        got = {}
        for mode in ("index", "catalyst"):
            sp = run_spatial_pipeline(
                spark, pages, locations, kept, min_level=MIN_LEVEL,
                max_level=MAX_LEVEL, tile_level=TILE_LEVEL, mode=mode,
            )
            got[mode] = row_hash(sp["tiles"])
            sp["points"].unpersist()
            sp["polygon_cells"].unpersist()
        pages.unpersist()
        if got["index"] != got["catalyst"]:
            raise SystemExit(f"window {w}: index {got['index']} != catalyst {got['catalyst']}")
        print(f"{size_key} window {w}: {got['index']}", file=sys.stderr)
        tiles[str(w)] = got["index"]
    return {"world": per_seed[0], "pip_tiles": tiles}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--size", choices=("toy", "full"), required=True)
    p.add_argument("--windows", type=int, nargs="*", default=None)
    p.add_argument("--check", action="store_true",
                   help="compare with pins.json instead of writing it")
    args = p.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"pin-{os.getpid()}")
    sys.path.insert(0, root)
    from perfbench.run import _pin_env, _session

    _pin_env(work)
    from perfbench import procs
    from perfbench.workloads import N_WINDOWS, PINS_PATH, load_pins

    windows = list(range(N_WINDOWS)) if args.windows is None else args.windows
    spark = _session(work, len(os.sched_getaffinity(0)), trace=False)
    try:
        new = _pins_for(spark, args.size, windows, work)
    finally:
        procs.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    pins = load_pins() if os.path.exists(PINS_PATH) else {}
    if args.check:
        bad = (["world"] if pins["world"][args.size] != new["world"] else []) + [
            f"pip_tiles[{w}]" for w, v in new["pip_tiles"].items()
            if pins["pip_tiles"][args.size][w] != v
        ]
        print(json.dumps({"size": args.size, "mismatched": bad}))
        return 1 if bad else 0
    for key, value in new.items():
        pins.setdefault(key, {})
        if key == "pip_tiles":
            pins[key].setdefault(args.size, {}).update(value)
        else:
            pins[key][args.size] = value
    with open(PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
