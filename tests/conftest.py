from __future__ import annotations

import os

import duckdb
import pytest

from ai_data_pipeline_spark.catalog import TABLES
from ai_data_pipeline_spark.session import get_spark
from tools.drive_contract import check_query

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("adp-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def assert_query_matches_oracle(spark, duck_con, queries, oracles, name):
    """The strict contract check of ``tools/drive_contract.py`` at the
    test scale factor: column names, row count, order-insensitive exact
    values, result-type categories, no HUGEINT oracle columns and no
    DECIMAL output columns."""
    status = check_query(spark, duck_con, queries, oracles, name, SF_DIR)
    assert status == "OK", f"{name}: {status}"
