"""Driver-invocation dry run: replay EXACTLY what the per-round driver
does — import ``__spark_entry__`` in a fresh interpreter, open one cold
SparkSession, run the first N registry entries in order at sf0.01, and
value-hash-compare each against its DuckDB oracle.

The pytest sweep (tests/test_oracle_queries.py) checks the same pairs,
but inside a warm shared session; the driver's failure modes the r4
verdict called out for the streaming family — cold AvailableNow
drains, artifact warm-up, state-store init in a fresh session — only
reproduce here.

Usage:  python scripts/driver_sim.py [n_queries] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry
    from database_fragmentation_and_query_processor_spark.session import get_spark
    from oracle_harness import compare, duck_connection

    spark = get_spark("dfqp-driver-sim", sf_dir)
    spark.sparkContext.setLogLevel("ERROR")

    con = duck_connection(sf_dir)
    qs = entry.queries()
    osql = entry.oracle_sql()
    names = list(qs)[:n]
    results: dict[str, dict] = {}
    failures = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            if name in osql:
                ok, msg = compare(df, con, osql[name], name)
            else:
                ok, msg = df.count() >= 0, f"{name}: rows-only"
        except Exception as exc:  # noqa: BLE001 — harness boundary
            ok, msg = False, f"{name}: ERR {type(exc).__name__}: {exc}"
        dt = round(time.perf_counter() - t0, 2)
        results[name] = {"ok": ok, "sec": dt, "msg": msg}
        if not ok:
            failures += 1
        print(("PASS" if ok else "FAIL"), name, dt, "" if ok else msg,
              flush=True)
    out_path = os.path.join(REPO, "driver_sim_last.json")
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "n": len(names), "failures": failures,
                   "results": results}, f, indent=1)
    print(f"driver_sim: {len(names) - failures}/{len(names)} pass "
          f"({sf_dir}) -> {out_path}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
