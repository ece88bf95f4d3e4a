from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from github_data_pipeline_spark.session import get_spark  # noqa: E402
from github_data_pipeline_spark.testing import register_duckdb_views  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "4g"),
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def registry_explains(spark, sf_dir):
    """Every registry entry built once and explained, by name
    (``tools/plan_audit.explain_builder``). The registry-wide plan
    audit and plan-property checks read these instead of each
    rebuilding all entries."""
    from github_data_pipeline_spark.plans import all_plans
    from tools.plan_audit import explain_builder

    return {
        q.name: explain_builder(spark, q.builder, sf_dir) for q in all_plans()
    }
