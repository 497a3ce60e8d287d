"""Playcount query API (REF GetData::date_range/last_30/last_90 +
category_* — SURVEY.md §3.2/§3.3).

Inputs are the playcount fact table ``(file string, date date/timestamp,
count bigint)`` produced by the ingest path, and (for category queries)
a membership table ``(category string, file string)``. The reference
resolved categories via live Commons API calls and looped one SQL query
per member file (N+1); here membership is a snapshot table joined in
one plan.

Contract: Spark runs only the pruned read; the driver builds the
series. Each build function returns a :class:`Series` — the lazy
``rows`` of ``(date, count)`` inside the span plus the span's bounds —
and :func:`to_api_payload` collects those rows once, sums them per
day, and zero-fills every day in ``[start, end]`` (REF GetData's
``SELECT date, count`` plus its Python zero-fill). A file request is
one file-equality and date-bound filter, no exchange: ``write_daily``
stores the per-(file, day) rollup, so it collects at most one row per
day in the span. A category request adds a broadcast semi-join and a
``groupBy(date)``, so it also collects at most one row per day, however
many member files the category has. A span whose start is after its
end raises ``ValueError``.

Underscores/spaces: the reference normalized page titles by swapping
underscores for spaces (⚠ SURVEY.md §3.2); :func:`normalize_title`
applies the same rule.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclasses.dataclass(frozen=True)
class Series:
    """A request's span and the rows in it, not yet collected."""

    rows: DataFrame
    start: _dt.date
    end: _dt.date


def normalize_title(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.replace(c, F.lit("_"), F.lit(" "))


def _in_span(facts: DataFrame, start: str, end: str) -> Series:
    """``facts`` pruned to the ISO-dated span ``[start, end]`` as
    ``(date, count)`` rows; the date bounds reach the scan as partition
    filters (parquet) or pushed filters (JDBC)."""
    s, e = _dt.date.fromisoformat(start), _dt.date.fromisoformat(end)
    if s > e:
        raise ValueError(f"start {start} is after end {end}")
    rows = facts.filter(
        (F.col("date") >= F.lit(s)) & (F.col("date") <= F.lit(e))
    ).select(F.col("date").cast("date").alias("date"), "count")
    return Series(rows, s, e)


def _last_n_span(n: int, today: str) -> tuple[str, str]:
    """The N days ending the day before ``today``."""
    t = _dt.date.fromisoformat(today)
    return (t - _dt.timedelta(days=n)).isoformat(), (t - _dt.timedelta(days=1)).isoformat()


def date_range(playcounts: DataFrame, file: str, start: str, end: str) -> Series:
    """One file's counts over [start, end] (REF GetData::date_range)."""
    facts = playcounts.filter(F.col("file") == normalize_title(F.lit(file)))
    return _in_span(facts, start, end)


def last_n(playcounts: DataFrame, file: str, n: int, today: str) -> Series:
    """Last-N-days series ending the day before ``today``
    (REF GetData::last_30/last_90 with n=30/90)."""
    return date_range(playcounts, file, *_last_n_span(n, today))


def category_date_range(
    playcounts: DataFrame, members: DataFrame, category: str, start: str, end: str
) -> Series:
    """Per-day totals summed across a category's member files: ONE
    broadcast semi-join (replaces the reference's per-member N+1 SQL
    loop, SURVEY.md §3.3), then one row per day."""
    m = members.filter(F.col("category") == normalize_title(F.lit(category))).select(
        normalize_title("file").alias("file")
    )
    span = _in_span(playcounts.join(F.broadcast(m), "file", "leftsemi"), start, end)
    daily = span.rows.groupBy("date").agg(F.sum("count").alias("count"))
    return dataclasses.replace(span, rows=daily)


def category_last_n(
    playcounts: DataFrame, members: DataFrame, category: str, n: int, today: str
) -> Series:
    """Category rolling window (REF GetData::category_last_30/90)."""
    return category_date_range(playcounts, members, category, *_last_n_span(n, today))


def to_api_payload(series: Series) -> dict:
    """JSON shape of the reference API: {total, counts: [[date, n]...]}
    (⚠ exact reference shape to re-verify; SURVEY.md §2.1), one entry
    per day of the span in date order, 0 where no row fell. The ONLY
    collect in the API, bounded by the rows per day described above.
    """
    days = (series.end - series.start).days + 1
    per_day = {series.start + _dt.timedelta(days=i): 0 for i in range(days)}
    for r in series.rows.collect():
        per_day[r["date"]] += r["count"] or 0  # SUM skips nulls
    return {
        "total": sum(per_day.values()),
        "counts": [[d.isoformat(), n] for d, n in per_day.items()],
    }
