from __future__ import annotations

import os

import pytest

from database_fragmentation_and_query_processor_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The reference's 20-row boundary-exercising MovieLens fixture
# (test_data1.txt: all userid=1, ratings cover 0.0..5.0 in 0.5 steps,
# both endpoints included — hits every bucket boundary with n=5).
RATINGS_FIXTURE = [
    (1, 122, 5.0), (1, 185, 4.5), (1, 231, 4.0), (1, 292, 3.5),
    (1, 316, 3.0), (1, 329, 2.5), (1, 355, 2.0), (1, 356, 1.5),
    (1, 362, 1.0), (1, 364, 0.5), (1, 370, 0.0), (1, 377, 3.5),
    (1, 420, 5.0), (1, 466, 4.0), (1, 480, 5.0), (1, 520, 2.5),
    (1, 539, 5.0), (1, 586, 3.5), (1, 588, 5.0), (1, 589, 1.5),
]


@pytest.fixture(scope="session")
def spark():
    yield get_spark("dfqp-tests", SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def ratings_file(tmp_path):
    """Write the fixture as a ``::`` MovieLens text file (timestamp col
    is synthetic — the loader must drop it)."""
    p = tmp_path / "ratings.txt"
    lines = []
    for i, (u, m, r) in enumerate(RATINGS_FIXTURE):
        r_txt = str(int(r)) if r == int(r) else str(r)
        lines.append(f"{u}::{m}::{r_txt}::{838983000 + i}")
    p.write_text("\n".join(lines) + "\n")
    return str(p)


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")
