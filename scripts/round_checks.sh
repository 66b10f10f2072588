#!/usr/bin/env bash
# One-command round validation: everything the per-round driver and
# judge will exercise, in dependency order, fail-fast. Usage:
#   bash scripts/round_checks.sh [quick]
# "quick" skips the full pytest suite and the bench (registry tripwires +
# the driver_sim.py dry run only).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== compile check =="
python -m compileall -q database_fragmentation_and_query_processor_spark \
    scripts bench.py __spark_entry__.py tests

echo "== registry tripwires =="
python -m pytest tests/test_registry.py tests/test_bench_contract.py \
    tests/test_session.py tests/test_artifacts.py \
    tests/test_partition_invariance.py::test_frag_warehouse_build_survives_repartition \
    tests/test_fragmentation.py::test_insert_torn_by_a_failed_rename_is_rolled_forward \
    tests/test_fragmentation.py::test_insert_failing_before_its_intent_leaves_nothing_visible \
    -q -p no:cacheprovider

echo "== driver-invocation dry run (first 50 + next 6, sf0.01) =="
python scripts/driver_sim.py 56 /root/testdata/sf0.01

if [ "${1:-}" = "quick" ]; then
    echo "quick mode: skipping full suite + bench"
    exit 0
fi

echo "== full pytest suite (incl. sf0.001 oracle sweep) =="
python -m pytest tests/ -q -p no:cacheprovider

echo "== bench (sf0.1) =="
python bench.py
