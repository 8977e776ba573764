"""Shared pytest fixtures: one local SparkSession for the whole run."""

from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    from tf_datapipeline_spark.session import get_spark

    s = get_spark("tf_datapipeline_spark-tests")
    yield s


def jobs_in_group(spark, group: str, fn):
    """`fn()`'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
