import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402


@pytest.fixture()
def small_sizes(monkeypatch):
    """Shrink the pipeline workloads so a test generates in milliseconds."""
    monkeypatch.setitem(
        gen.PIPELINE_SIZES, "nightly_delta", {"rows_per_day": 60, "days": 12, "full_sync": False}
    )
    monkeypatch.setitem(
        gen.PIPELINE_SIZES, "backfill", {"rows_per_day": 40, "days": 5, "full_sync": True}
    )
