"""Round-9 plan-shape tripwires.

1. The r8 verdict's tripwire-asymmetry item: ALL six exact_group_sums
   consumers must show the two-phase ``_salt`` grouping + DECIMAL(38,0)
   merge in their physical plans (round 8 pinned only the two embedding
   queries — a refactor could have silently dropped the other four back
   to a raw bigint sum with its ~9.2M-row 2^63 ceiling).
2. The qstats sizing pre-pass is a build-once artifact of the
   embeddings corpus: the embedding-stats family scans it for
   (n_vec, qmax, d) once, not once per query.
"""

from __future__ import annotations

import inspect
import logging
import os
import shutil
import tempfile

import pytest

from database_fragmentation_and_query_processor_spark import artifacts
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)
from database_fragmentation_and_query_processor_spark.queries import curation, registry

from .test_plan_quality import _jobs_started

#: The queries restamped in round 9 (the exact_group_sums rework).
ROUND9_RESTAMP = [
    "embedding_covariance_topk",
    "embedding_dim_variance",
    "value_regression",
    "term_burstiness",
    "poisson_bootstrap_ci",
    "pca_power_iteration",
]

EXACT_SUM_CONSUMERS = [
    "embedding_dim_variance",
    "embedding_covariance_topk",
    "value_regression",
    "term_burstiness",
    "poisson_bootstrap_ci",
    "pca_power_iteration",
]


@pytest.mark.parametrize("name", EXACT_SUM_CONSUMERS)
def test_exact_group_sums_consumer_keeps_two_phase_shape(spark, sf_dir, name):
    """Every corpus-scale product-sum consumer routes through the
    overflow-safe helper: the runtime-sized ``_salt`` grouping key and
    the DECIMAL(38,0) partial merge must both be visible in the final
    plan, and the operator source must call exact_group_sums (not a
    hand-rolled bigint sum)."""
    plan = final_explain_formatted(registry._QUERIES_ALL[name](spark, sf_dir))
    assert "_salt" in plan, name
    assert "decimal(38,0)" in plan.lower(), name
    src = inspect.getsource(registry._QUERIES_ALL[name])
    assert "exact_group_sums" in src, name


def test_restamp_list_covers_every_consumer():
    """The six queries above are exactly the round-9 restamp set — the
    helper they share changed that round, so each needed fresh driver
    evidence on the new code path."""
    assert set(EXACT_SUM_CONSUMERS) == set(ROUND9_RESTAMP)


def test_emb_qstats_second_call_is_an_artifact_hit(spark, sf_dir, caplog):
    """The sizing pre-pass is a build-once artifact of the embeddings
    corpus: a second call reads the stored triple, starts no Spark job
    and returns the same (n_vec, qmax, d)."""
    first = curation._emb_qstats(spark, sf_dir)
    again = []
    with caplog.at_level(logging.INFO, logger=artifacts.__name__):
        jobs = _jobs_started(
            spark, lambda: again.append(curation._emb_qstats(spark, sf_dir))
        )
    assert "artifact hit: emb_qstats" in caplog.text
    assert jobs == 0
    assert again == [first]
    nv, qmax, d = first
    assert nv > 0 and qmax >= 1 and d > 0


def test_emb_qstats_rebuilds_when_embeddings_change(
    spark, sf_dir, tmp_path, monkeypatch, caplog
):
    """A touched embeddings.parquet keys a new artifact: the next call
    misses and measures the corpus again."""
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "embeddings.parquet"
    shutil.copyfile(os.path.join(sf_dir, "embeddings.parquet"), src)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    first = curation._emb_qstats(spark, str(sf))
    os.utime(src, ns=(1, 1))
    with caplog.at_level(logging.INFO, logger=artifacts.__name__):
        again = curation._emb_qstats(spark, str(sf))
    assert "artifact miss: emb_qstats" in caplog.text
    assert again == first
