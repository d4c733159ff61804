import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from arthur_redshift_etl_spark.session import build_session

    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    session = build_session(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        warehouse_dir=warehouse,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
            # plans/metrics.stage_totals sums the status store's retained
            # stages; at the default 1000 the store drops 100 at a time, and
            # a before/after diff across a drop goes negative in whichever
            # test the suite's running stage count happens to put there
            "spark.ui.retainedStages": "100000",
        },
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
