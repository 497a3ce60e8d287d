"""Batch -> serve hand-off (VERDICT r5 #7): the API functions must run
against the SERVING TABLE the batch side materializes — day-partitioned
parquet via ingest.mediacounts.write_daily (dynamic partition
overwrite) and the JDBC store via api.serving.write_serving_jdbc — not
just against in-memory fixtures, with partition pruning / predicate
pushdown doing the serve-side work.
"""

from __future__ import annotations

import pathlib
import shutil
import uuid

import pytest

from mediaplaycounts_spark.api.playcounts import (
    category_date_range,
    category_last_n,
    date_range,
    last_n,
    to_api_payload,
)
from mediaplaycounts_spark.api.serving import (
    read_serving_jdbc,
    read_serving_parquet,
    write_serving_jdbc,
)
from mediaplaycounts_spark.ingest.mediacounts import write_daily


@pytest.fixture(scope="module")
def served_parquet(spark, playcounts_fixture):
    out = pathlib.Path(".scratch") / f"serving_{uuid.uuid4().hex[:12]}"
    write_daily(playcounts_fixture, str(out))
    yield str(out)
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="module")
def served_jdbc(spark, playcounts_fixture):
    db = pathlib.Path(".scratch") / f"serving_db_{uuid.uuid4().hex[:12]}"
    url = f"jdbc:derby:{db};create=true"
    write_serving_jdbc(playcounts_fixture, url)
    yield url
    shutil.rmtree(db, ignore_errors=True)


def _series(series):
    """The zero-filled per-day series the API serves."""
    return [tuple(day) for day in to_api_payload(series)["counts"]]


def test_date_range_against_parquet_serving_table(
    spark, playcounts_fixture, served_parquet
):
    served = read_serving_parquet(spark, served_parquet)
    direct = date_range(
        playcounts_fixture, "Steady file.ogv", "2024-01-11", "2024-01-20"
    )
    via_table = date_range(served, "Steady file.ogv", "2024-01-11", "2024-01-20")
    assert _series(via_table) == _series(direct)
    assert sum(c for _, c in _series(via_table)) == sum(range(10, 20))


def test_parquet_serving_scan_is_partition_pruned(spark, served_parquet):
    """The whole point of the day-partitioned layout: a 10-day API hit
    must scan 10 partitions, not the table's history."""
    served = read_serving_parquet(spark, served_parquet)
    series = date_range(served, "Steady file.ogv", "2024-01-11", "2024-01-20")
    physical = series.rows._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", physical)
    assert m and "date" in m.group(1), (
        "date bounds did not reach PartitionFilters:\n" + physical[:2000]
    )


def test_last_n_and_payload_against_parquet(spark, playcounts_fixture, served_parquet):
    served = read_serving_parquet(spark, served_parquet)
    direct = last_n(playcounts_fixture, "Popular.webm", 30, "2024-02-10")
    via_table = last_n(served, "Popular.webm", 30, "2024-02-10")
    assert _series(via_table) == _series(direct)
    assert to_api_payload(via_table) == to_api_payload(direct)


def test_category_queries_against_parquet(
    spark, playcounts_fixture, members_fixture, served_parquet
):
    served = read_serving_parquet(spark, served_parquet)
    direct = category_date_range(
        playcounts_fixture, members_fixture, "Cat A", "2024-01-01", "2024-01-03"
    )
    via_table = category_date_range(
        served, members_fixture, "Cat A", "2024-01-01", "2024-01-03"
    )
    assert _series(via_table) == _series(direct)


def test_date_range_against_jdbc_serving_table(
    spark, playcounts_fixture, served_jdbc
):
    served = read_serving_jdbc(spark, served_jdbc)
    direct = date_range(
        playcounts_fixture, "gappy.ogv", "2024-01-01", "2024-01-07"
    )
    via_db = date_range(served, "gappy.ogv", "2024-01-01", "2024-01-07")
    assert _series(via_db) == _series(direct)


def test_jdbc_read_pushes_filters(spark, served_jdbc):
    """File/date predicates must reach the JDBC source (PushedFilters),
    so the serve-side store prunes — REF GetData's parameterized SELECT
    shape."""
    served = read_serving_jdbc(spark, served_jdbc)
    series = date_range(served, "gappy.ogv", "2024-01-01", "2024-01-07")
    physical = series.rows._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in physical and "file" in physical.split(
        "PushedFilters:"
    )[1][:200]


def test_http_app_serves_from_serving_table(spark, served_parquet, members_fixture):
    from mediaplaycounts_spark.api.http import create_app

    served = read_serving_parquet(spark, served_parquet)
    app = create_app(served, members_fixture, today="2024-02-10")
    # reuse the WSGI harness from test_api
    from tests.test_api import _call

    status, body = _call(
        app,
        "/api/1/FilePlaycount/date_range/Steady_file.ogv/2024-01-11/2024-01-20",
    )
    assert status.startswith("200")
    assert body["total"] == sum(range(10, 20))
    assert body["counts"][0] == ["2024-01-11", 10]


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted through its job group."""
    sc = spark.sparkContext
    group = f"api-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count the jobs of one API request")
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_api_request_job_counts(spark, members_fixture, served_parquet):
    """A file request is one Spark job (the pruned read; zero-fill is on
    the driver). A category request adds the members broadcast and the
    per-day sum's shuffle: at most three."""
    served = read_serving_parquet(spark, served_parquet)
    snap = pathlib.Path(".scratch") / f"members_{uuid.uuid4().hex[:12]}"
    members_fixture.write.parquet(str(snap))
    try:
        members = spark.read.parquet(str(snap))
        file_jobs = _jobs(spark, lambda: to_api_payload(
            date_range(served, "Steady file.ogv", "2024-01-11", "2024-01-20")))
        cat_jobs = _jobs(spark, lambda: to_api_payload(
            category_last_n(served, members, "Cat A", 30, "2024-02-10")))
    finally:
        shutil.rmtree(snap, ignore_errors=True)
    assert file_jobs == 1
    assert 1 <= cat_jobs <= 3
