import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cc2dataset_spark.session import build_spark_session, local_cpus

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = build_spark_session(
        master=f"local[{local_cpus()}]",
        app_name="cc2dataset_spark-tests",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "8g",
            "spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def sf_smoke_dir():
    return SF_SMOKE
