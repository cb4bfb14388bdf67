from __future__ import annotations

import contextlib
import os

import pytest

from app_insights_generator_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """``with reliable_checkpoints() as ckpt:`` gives the session a
    checkpoint dir for the block, so every pin inside it is a reliable
    ``checkpoint`` (operators/checkpointing.py), then restores "no dir" so
    the mode cannot leak into later tests."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def mode():
        sc.setCheckpointDir(str(tmp_path))
        try:
            yield str(tmp_path)
        finally:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())

    return mode
