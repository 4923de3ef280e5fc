from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

# Small local parallelism for tests: JVM startup dominates at sf0.001;
# the benchmark (perfbench/) runs the package at the machine's core count.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from bigdata_carprice_assignment_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
