from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session's driver JVM defaults to a 48g heap; on a machine with
# less RAM it can grow until the OOM killer takes it, together with the
# subprocess JVM test_cli.py starts (which inherits this setting).
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from cube_builder_spark.session import get_spark
    spark = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from cube_builder_spark.oracle import duckdb_connection
    return duckdb_connection(sf_dir)
