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
    tests/test_fragmentation.py::test_insert_during_a_partitioning_is_refused_not_lost \
    tests/test_fragmentation.py::test_insert_during_a_compaction_is_refused_not_lost \
    tests/test_fragmentation.py::test_each_api_call_makes_its_known_number_of_sidecar_writes \
    tests/test_fragmentation.py::test_a_routed_insert_is_seen_by_the_next_read \
    tests/test_fragmentation.py::test_the_next_read_sees_a_new_layout_or_raises \
    tests/test_fragmentation.py::test_a_read_during_an_insert_intent_is_not_kept \
    tests/test_fragmentation.py::test_a_new_session_reads_through_its_own_session \
    tests/test_fragmentation.py::test_the_commit_stamp_rises_by_one_with_every_sidecar_write \
    tests/test_fragmentation.py::test_hash_key_lookup_on_a_non_integer_key_raises \
    tests/test_fragmentation.py::test_query_literals_keep_their_type_and_special_values \
    tests/test_plan_quality.py::test_a_repeated_read_reuses_its_relation_and_starts_no_job \
    tests/test_fs_shim.py::test_atomic_write_never_leaves_the_file_missing \
    tests/test_fs_shim.py::test_hadoopfs_file_uri_lock_create_has_one_winner \
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
