"""Degenerate-input sweep: run EVERY registry query against a
warehouse of empty tables (same schemas as sf0.001) and report which
ones crash instead of returning a frame or raising a descriptive
error.

The ADVICE r11 lows (qlm_dirichlet_search int(None), kcenter_coreset
head()[...] of None) are this class; the sweep finds the remaining
members so they can be hardened in one pass instead of one advisor
round each.

Usage: python scripts/empty_input_sweep.py [start] [end]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def make_empty_dir(spark, src="/root/testdata/sf0.001") -> str:
    """Every fixture table of ``src`` with its schema and no rows, built
    once in the artifact store, keyed on those tables."""
    from database_fragmentation_and_query_processor_spark.artifacts import build_once

    def build(out):
        for t in TABLES:
            df = spark.read.parquet(os.path.join(src, f"{t}.parquet")).limit(0)
            df.coalesce(1).write.parquet(os.path.join(out, f"{t}.parquet"))

    return build_once(src, "empty_sf", TABLES, build)


def main() -> int:
    start = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    end = int(sys.argv[2]) if len(sys.argv) > 2 else 10**9

    import database_fragmentation_and_query_processor_spark.entry_queries as EQ
    from database_fragmentation_and_query_processor_spark.session import get_spark

    # the empty warehouse is written by this session, so its scan split
    # cannot be sized from it: no sf_dir, stock split
    spark = get_spark("dfqp-empty-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = make_empty_dir(spark)
    names = list(EQ._QUERIES_ALL)[start:end]
    crashes: list[tuple[str, str]] = []
    for i, name in enumerate(names):
        try:
            df = EQ._QUERIES_ALL[name](spark, sf_dir)
            df.limit(5).collect()
            status = "ok"
        except Exception as exc:  # noqa: BLE001 - survey, not control flow
            kind = type(exc).__name__
            # a deliberate, descriptive refusal is fine; a TypeError /
            # IndexError / KeyError subscripting None is the bug class
            status = f"RAISE {kind}: {str(exc).splitlines()[0][:120]}"
            crashes.append((name, status))
        print(f"[{start + i}] {name}: {status}", flush=True)
        from database_fragmentation_and_query_processor_spark import cache

        cache.release_all()
    print(f"\n{len(crashes)} raisers of {len(names)}")
    for n, s in crashes:
        print(" ", n, "|", s)
    return 0


if __name__ == "__main__":
    sys.exit(main())
