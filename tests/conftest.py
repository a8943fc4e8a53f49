from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from importtoneo4j_spark.datagen import TranscriptGenerator
from importtoneo4j_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """Callable: how many Spark jobs the session has started so far (the
    newest job id in the driver's status store, read after the listener
    bus drains). Diff two calls to count the jobs an operation runs."""
    sc = spark.sparkContext._jsc.sc()

    def count() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    return count


@pytest.fixture(scope="session")
def gen():
    return TranscriptGenerator(seed=42, n_entities=120)


@pytest.fixture(scope="session")
def small_transcripts_path(gen, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("data") / "transcripts")
    gen.write_parquet(path, n_convs=80)
    return path


@pytest.fixture(scope="session")
def small_transcripts_pdf(gen):
    return gen.turns_pandas(n_convs=80)
