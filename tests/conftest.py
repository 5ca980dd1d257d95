from __future__ import annotations

import os
import sys
import tempfile

import pytest

# allow running pytest from any cwd (the repo root is not installed as a
# package; worker-import regressions only surface when cwd != repo root)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from wagtail_vector_index_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # the shipped engine config (session.RECOMMENDED_CONF), so plan tests
    # check the plans the engine actually runs; only deployment settings
    # differ
    session = build_session(
        "wvi-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        **{
            "spark.driver.memory": "4g",
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="wvi_wh_"),
        },
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")
