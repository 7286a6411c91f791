"""Fixtures for the benchmark's own tests (``python -m pytest perfbench``)."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))


@pytest.fixture(scope="module")
def run():
    """A benchmark Run with a live Spark session, closed after the module."""
    import harness

    r = harness.Run("selftest", seed=3, seconds=3, trace=False)
    r.start_spark()
    yield r
    r.close()
