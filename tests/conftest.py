"""Suite-wide hygiene for the one local Spark session all modules share."""

from __future__ import annotations

import signal

import pytest


def _interrupt(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def pytest_configure(config):
    """A run stopped from outside (``timeout`` sends SIGTERM) ends like
    Ctrl-C: pytest still writes its summary and reports, so the tests that
    finished are on record instead of lost with the process."""
    signal.signal(signal.SIGTERM, _interrupt)


@pytest.fixture(autouse=True, scope="module")
def _release_cached_plans():
    """Tests ``.cache()`` build outputs, and the session's cache manager
    keeps each one's analyzed plan (hundreds of MB per build) until it is
    unpersisted. Every test module runs in the same driver JVM, so drop them
    once a module's own fixtures are gone; otherwise the heap fills build by
    build across the suite."""
    yield
    from pyspark.sql import SparkSession
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.catalog.clearCache()
    except Exception:  # a dead JVM is already reported by the tests it failed
        pass
