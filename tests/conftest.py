"""Shared fixtures: one tuned SparkSession for the whole test run."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

# Physical-plan node names of every Python evaluation stage. A "no Python
# stage" plan pin must reject all of them, so a query that moves from one
# Python evaluator to another cannot slip past it.
PYTHON_STAGE_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
)


@pytest.fixture(scope="session")
def spark():
    from pyiceberg_lakehouse_spark.session import get_spark

    spark = get_spark("pytest", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def warehouse(tmp_path) -> str:
    return str(tmp_path / "warehouse")
