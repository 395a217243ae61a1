"""Shared fixtures: one SparkSession per test session, sf-dir paths."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prueba_tecnica_analista_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("TEST_ORACLE_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    """Point the disk-backed artifact store at a per-run scratch root,
    so the suite starts from an empty store and does not pollute the
    user cache with tmp-corpus artifacts. The store's own logic
    (generation keying, atomic publish, generation eviction) still
    runs for real."""
    if "PTAE_ARTIFACT_DIR" not in os.environ:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="ptae_test_artifacts_")
        os.environ["PTAE_ARTIFACT_DIR"] = root
        # reclaim the populated store at process exit — repeated
        # local runs would otherwise accumulate unbounded /tmp debt
        # (the same temp-dir-leak class the r10 ADVICE fix closed in
        # artifacts.py)
        atexit.register(shutil.rmtree, root, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE
