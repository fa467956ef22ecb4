"""Shared Spark session + fixture dirs for the test suite."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE_DIR = os.path.join(REPO, "fixtures")


@pytest.fixture(scope="session")
def spark():
    from entity_extraction_svc_spark.fixtures import ensure_fixtures
    from entity_extraction_svc_spark.session import get_spark

    ensure_fixtures(FIXTURE_DIR)
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def fixture_dir():
    return FIXTURE_DIR


@pytest.fixture(scope="session")
def pipeline(spark, fixture_dir):
    """The KG build tables over the committed 200-doc fixture set."""
    from entity_extraction_svc_spark.plans.fused import build_kg

    return build_kg(spark, spark.read.parquet(f"{fixture_dir}/pages.parquet"),
                    fixture_dir)
