"""Local twin of the driver's correctness gate: run every
__spark_entry__ query against its DuckDB oracle at a given SF and
compare row count + column names + order-insensitive values.

Usage: python tools/diffcheck.py [sf_dir] [query ...]

Set DIFFCHECK_JSON=/path/out.json to also write the per-query record
(name, rows, pass, seconds, mode) — the committed full-surface
correctness artifact (VERDICT r4 next #1: CORRECTNESS_full_r5.json).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 10))
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return repr(v)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    import json

    import duckdb

    import __spark_entry__ as entry
    from osm_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="diffcheck")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    record: dict[str, dict] = {}
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            record[name] = {"pass": False, "error": f"spark: {exc}"[:300]}
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"  WARNING {name}: zero rows")
            record[name] = {
                "pass": len(srows) > 0,
                "rows": len(srows),
                "seconds": round(time.time() - t0, 1),
                "mode": "rows-only",
            }
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            record[name] = {"pass": False, "error": f"duckdb: {exc}"[:300]}
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rows {len(srows)} != {len(drows)}")
            ok = False
        else:
            sk = rows_key(scols, [[r[c] for c in scols] for r in srows])
            dk = rows_key(dcols, drows)
            if sk != dk:
                diff = [i for i, (a, b) in enumerate(zip(sk, dk)) if a != b]
                print(f"FAIL {name}: value mismatch at {len(diff)} rows; first:")
                for i in diff[:3]:
                    print(f"  spark: {sk[i]}")
                    print(f"  duck : {dk[i]}")
                ok = False
        if ok:
            print(f"OK   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures += 1
        record[name] = {
            "pass": ok,
            "rows": len(srows),
            "seconds": round(time.time() - t0, 1),
            "mode": "oracle",
        }
    print(f"\n{failures} failures")
    out = os.environ.get("DIFFCHECK_JSON")
    if out:
        n_ok = sum(1 for r in record.values() if r.get("pass"))
        with open(out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(record),
                    "n_ok": n_ok,
                    "n_fail": len(record) - n_ok,
                    "queries": record,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
