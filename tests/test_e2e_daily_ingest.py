"""pipeline_e2e_daily_ingest: the reference's full product loop (dump ->
parse -> idempotent store -> serving read -> zero-filled API series) as
one graded lineage. The exact value oracle runs via
tools/check_correctness.py; these tests pin the invariants the value
hash can't articulate: corrupt routing reached the error sink, the
double write was idempotent (not doubled), and the serving read is the
pruned day-partitioned layout.
"""

from __future__ import annotations

import glob
import json
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from mediaplaycounts_spark.queries.scans import SCRATCH, _E2E_PROBES
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def series(spark):
    # Snapshot scratch dirs before/after so the error-sink and
    # serving-store assertions below read THIS run's artifacts, not a
    # stale (or partially-written) one from a prior session (ADVICE r7).
    before_sinks = set(glob.glob(str(SCRATCH / "e2e_errlog_*")))
    before_stores = set(glob.glob(str(SCRATCH / "e2e_daily_*")))
    df = entrymod.queries()["pipeline_e2e_daily_ingest"](spark, SF_SMOKE)
    rows = df.collect()
    new_sinks = set(glob.glob(str(SCRATCH / "e2e_errlog_*"))) - before_sinks
    new_stores = set(glob.glob(str(SCRATCH / "e2e_daily_*"))) - before_stores
    return rows, new_sinks, new_stores


def test_series_shape_and_zero_fill(series):
    """3 probes x 4 span days; the no-data day (2024-01-04) is
    zero-filled for every probe at the API boundary."""
    rows, _, _ = series
    assert len(rows) == 12
    by_file: dict[str, dict[str, int]] = {}
    for r in rows:
        by_file.setdefault(r.file, {})[str(r.date.date())] = r["count"]
    assert set(by_file) == set(_E2E_PROBES)
    for f in _E2E_PROBES:
        assert by_file[f]["2024-01-04"] == 0


def test_corrupt_rows_never_reach_the_store(series):
    """'Truncated.webm' exists ONLY as day 3's truncated line; its whole
    series must be zero — the end-to-end proof that corrupt routing kept
    malformed lines out of the serving table."""
    rows, _, _ = series
    assert all(r["count"] == 0 for r in rows if r.file == "Truncated.webm")
    # ...while a clean file the corrupt day also contains DID land
    acc = {str(r.date.date()): r["count"] for r in rows if r.file == "Accordion solo.ogg"}
    assert acc["2024-01-03"] > 0


def test_error_sink_captured_both_malformed_lines(series):
    """The side sink holds exactly day 3's two malformed lines ('oops'
    total_transfers + the truncated row), verbatim."""
    _, new_sinks, _ = series
    assert len(new_sinks) == 1, f"expected one fresh error sink, got {new_sinks}"
    lines = []
    for part in glob.glob(next(iter(new_sinks)) + "/part-*"):
        with open(part) as fh:
            lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(lines) == 2
    raws = sorted(ln["raw_line"] for ln in lines)
    assert any("oops" in r for r in raws)
    assert any("Truncated.webm" in r for r in raws)
    assert all(ln["dump_date"] == "2024-01-03" for ln in lines)


def test_double_write_was_idempotent_not_doubled(spark, series):
    """Day 1 is written twice (initial load + full re-run). Dynamic
    partition overwrite must leave exactly ONE copy: Accordion day-1
    count equals the single-file parse sum (10+25+0=35), not 70."""
    rows, _, _ = series
    acc = {str(r.date.date()): r["count"] for r in rows if r.file == "Accordion solo.ogg"}
    assert acc["2024-01-01"] == 35


def test_fixture_long_fields_never_diverge_spark_vs_oracle():
    """The DuckDB oracle calls a 26-field row clean iff its five LONG
    columns match ^[0-9]+$; Spark PERMISSIVE diverges on exactly two
    shapes — an EMPTY field (Spark: null, row stays clean) and a
    NEGATIVE numeric (Spark: valid long). The oracle's equivalence
    therefore rests on the fixture containing neither; pin that
    property explicitly instead of asserting it in a comment
    (ADVICE r7). Every LONG value must be non-empty and not a negative
    integer — plain non-numeric junk (day 3's "oops") is fine: both
    engines call that row corrupt."""
    from mediaplaycounts_spark.queries.scans import ALL_DAYS_GLOB

    long_cols = (1, 2, 3, 16, 18)  # 0-based: the five LongType fields
    checked = 0
    for path in sorted(glob.glob(ALL_DAYS_GLOB)):
        with open(path) as fh:
            for line in fh:
                f = line.rstrip("\n").split("\t")
                if len(f) != 26:
                    continue  # malformed on both engines
                for i in long_cols:
                    v = f[i]
                    assert v != "", f"{path}: empty LONG field {i}: {line!r}"
                    assert not re.fullmatch(r"-[0-9]+", v), (
                        f"{path}: negative LONG field {i}: {line!r}"
                    )
                checked += 1
    assert checked > 0, "fixture glob matched no 26-field rows"


def test_serving_scan_prunes_to_queried_days(spark, series):
    """The API read over the day-partitioned store must push its date
    predicates into PartitionFilters — an API hit reads days, not
    history. Reads the store THIS run created (via the series fixture's
    before/after snapshot), never a stale uuid-sorted pick (ADVICE r7)."""
    from mediaplaycounts_spark.api.playcounts import date_range
    from mediaplaycounts_spark.api.serving import read_serving_parquet

    _, _, new_stores = series
    assert len(new_stores) == 1, f"expected one fresh e2e store, got {new_stores}"
    serving = read_serving_parquet(spark, next(iter(new_stores)))
    q = date_range(serving, "Accordion solo.ogg", "2024-01-02", "2024-01-02")
    plan = q.rows._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "date" in m.group(1), plan
