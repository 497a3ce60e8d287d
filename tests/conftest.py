"""Shared test fixtures (SURVEY.md §5.2).

One session-scoped SparkSession (local, small shuffle count for speed),
plus the hand-checkable playcounts/category fixtures from FIXTURES.md §B
with closed-form expected values.
"""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from mediaplaycounts_spark.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def playcounts_fixture(spark):
    """3 files x 100 days, count = day index (closed-form sums);
    'gappy.ogv' missing every 3rd day (zero-fill case)."""
    rows = []
    d0 = dt.date(2024, 1, 1)
    for i in range(100):
        d = d0 + dt.timedelta(days=i)
        rows.append(("Steady file.ogv", d, i))
        rows.append(("Popular.webm", d, 10 * i))
        if i % 3 != 0:
            rows.append(("gappy.ogv", d, 1))
    return spark.createDataFrame(rows, "file string, date date, count long")


@pytest.fixture(scope="session")
def members_fixture(spark):
    rows = [
        ("Cat A", "Steady file.ogv"),
        ("Cat A", "gappy.ogv"),
        ("Cat A", "Not in facts.ogg"),  # member with zero plays (anti case)
        ("Cat B", "Popular.webm"),
        ("Cat B", "Steady file.ogv"),  # overlapping membership
    ]
    return spark.createDataFrame(rows, "category string, file string")
