from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# mock:// object-store scheme resolves under this root (see
# exon_spark.sources.fs.MockFsHandler). Must be set BEFORE the session
# launches — Python planning/executor workers inherit the JVM's env, which
# is captured at gateway start. Root "/" makes mock://<abs-path-minus-
# leading-slash> address any fixture file.
os.environ.setdefault("EXON_SPARK_MOCK_FS_ROOT", "/")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "executor_loss: runs gate queries on a local-cluster master in a "
        "subprocess, killing and replacing executors mid-query "
        "(tests/test_executor_loss.py; its own timeout, TIER_TIMEOUT_S)",
    )


@pytest.fixture(autouse=True)
def _operator_scope():
    """Each test is one ``broadcast_scope``: the broadcasts and persisted
    shared frames its operators create are released when it ends, so no
    later test plans against them."""
    from exon_spark.operators.state import broadcast_scope

    with broadcast_scope():
        yield


@pytest.fixture(scope="session")
def spark():
    from exon_spark import get_spark

    spark = get_spark(app_name="exon-spark-tests", shuffle_partitions=4)
    yield spark
    spark.stop()
