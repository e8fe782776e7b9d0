"""Shared pytest fixtures: one local SparkSession + deterministic
transcripts fixtures (FIXTURES.md §1), mirroring the reference's
conftest-provided parquet fixtures (reference: tests/conftest.py:51-64).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from curator_spark import fixtures  # noqa: E402
from curator_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("curator-spark-tests", parallelism=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf():
    """~5k-turn deterministic transcripts frame (seed=42)."""
    return fixtures.generate_transcripts(5000, seed=42, n_parts=8)


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory, transcripts_pdf):
    p = tmp_path_factory.mktemp("fixture") / "transcripts.parquet"
    fixtures.to_spark_parquet(transcripts_pdf, str(p))
    return str(p)


@pytest.fixture()
def split_writes(spark):
    """Make a test-sized partition count as skewed for the duration of
    one test. Writes rebalance on `part`, and AQE splits a partition
    larger than spark.sql.adaptive.advisoryPartitionSizeInBytes across
    several tasks (one file each), at map-output granularity — so the
    scan split size shrinks too, giving the map side several tasks.
    Yields a writer for transcripts frames whose small row groups let
    the scan actually split. Both settings are restored afterwards."""
    conf = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
            "spark.sql.files.maxPartitionBytes": "16k"}
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)

    def write(pdf, path):
        pdf.to_parquet(path, index=False, coerce_timestamps="us",
                       allow_truncated_timestamps=True, row_group_size=250)

    try:
        yield write
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
