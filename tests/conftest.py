from __future__ import annotations

import glob
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from mental_health_bigdata_project_spark.session import get_spark

    spark = get_spark("tests", master="local[4]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def python_sources(subdirs, files):
    """The ``.py`` files under ``subdirs`` and the named top-level
    ``files``, all relative to the repo root — what the AST guards
    scan."""
    for sub in subdirs:
        yield from glob.glob(os.path.join(ROOT, sub, "**", "*.py"),
                             recursive=True)
    for f in files:
        yield os.path.join(ROOT, f)
