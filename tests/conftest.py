import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from hyppo_worker_spark.session import get_spark

    return get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        # The cancellation tests interrupt-kill python workers; with
        # reuse on, a later test's task can be handed a worker (or
        # daemon fork state) the kill left half-dead and die with
        # java.nio CancelledKeyException — a ~1-in-3 whole-suite flake.
        # Fresh workers per task close that class entirely. The cost
        # is one fork per Python task: a one-row UDF job took 0.12-0.14
        # s with reuse off and 0.11-0.12 s with it on (local[2], 4-core
        # host), because forks inherit the engine daemon's stamped zip
        # importers (pydaemon.py). Under pyspark's stock daemon every
        # task re-read the zip archives on its path: 0.20-0.23 s off,
        # 0.15-0.18 s on. Production sessions keep reuse (engine
        # restarts flush pools via flush_python_worker_pools).
        extra_conf={"spark.python.worker.reuse": "false"},
    )


@pytest.fixture()
def storage(tmp_path, spark):
    from hyppo_worker_spark.storage import DataFileHandler, StorageLayout

    return DataFileHandler(spark, StorageLayout(bucket=str(tmp_path)))
