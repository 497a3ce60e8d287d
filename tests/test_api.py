"""Reference-API parity tests (REF GetData surface) on the closed-form
playcounts fixture: count = day index, so range sums have exact
formulas."""

from __future__ import annotations

from mediaplaycounts_spark.api import (
    category_date_range,
    date_range,
    last_n,
    to_api_payload,
)


def test_date_range_closed_form(spark, playcounts_fixture):
    # days 10..19 of 'Steady file.ogv': counts 10..19, total = 145
    out = to_api_payload(
        date_range(playcounts_fixture, "Steady file.ogv", "2024-01-11", "2024-01-20")
    )
    assert out["total"] == sum(range(10, 20))
    assert len(out["counts"]) == 10
    assert out["counts"][0] == ["2024-01-11", 10]


def test_underscore_normalization(spark, playcounts_fixture):
    """REF GetData normalizes underscores to spaces in titles."""
    a = to_api_payload(
        date_range(playcounts_fixture, "Steady_file.ogv", "2024-01-11", "2024-01-20")
    )
    assert a["total"] == sum(range(10, 20))


def test_zero_fill_gap_days(spark, playcounts_fixture):
    # gappy.ogv missing every 3rd day; the payload zero-fills those days
    out = to_api_payload(
        date_range(playcounts_fixture, "gappy.ogv", "2024-01-01", "2024-01-07")
    )
    assert len(out["counts"]) == 7
    got = dict(out["counts"])
    assert got["2024-01-01"] == 0 and got["2024-01-04"] == 0
    assert got["2024-01-02"] == 1


def test_last_n_window(spark, playcounts_fixture):
    # last_30 as of 2024-02-10 (day index 40): days 10..39 -> sum 735
    out = to_api_payload(
        last_n(playcounts_fixture, "Steady file.ogv", 30, "2024-02-10")
    )
    assert out["total"] == sum(range(10, 40))
    assert len(out["counts"]) == 30


def test_category_semi_join_sum(spark, playcounts_fixture, members_fixture):
    """Category total = sum over member files; absent member ignored
    (the reference's N+1 loop collapsed to one semi-join plan)."""
    out = to_api_payload(
        category_date_range(
            playcounts_fixture, members_fixture, "Cat A", "2024-01-01", "2024-01-03"
        )
    )
    # Steady: 0+1+2; gappy: 0(gap)+1+1  => total 5
    assert out["total"] == 5


def test_out_of_range_all_zeros(spark, playcounts_fixture):
    out = to_api_payload(
        date_range(playcounts_fixture, "Steady file.ogv", "2025-01-01", "2025-01-03")
    )
    assert out["total"] == 0
    assert [c for _, c in out["counts"]] == [0, 0, 0]


# ------------------------------------------------------ HTTP routes


def _call(app, path):
    """Invoke the WSGI callable in-process; return (status, json body)."""
    import json

    captured = {}

    def start_response(status, headers):
        captured["status"] = status
        captured["headers"] = dict(headers)

    body = b"".join(app({"PATH_INFO": path, "REQUEST_METHOD": "GET"}, start_response))
    assert captured["headers"]["Content-Type"] == "application/json"
    return captured["status"], json.loads(body)


def test_http_file_date_range_route(spark, playcounts_fixture, members_fixture):
    from mediaplaycounts_spark.api import create_app

    app = create_app(playcounts_fixture, members_fixture, today="2024-02-10")
    status, out = _call(
        app, "/api/1/FilePlaycount/date_range/Steady_file.ogv/2024-01-11/2024-01-20"
    )
    assert status == "200 OK"
    assert out["total"] == sum(range(10, 20))
    assert out["counts"][0] == ["2024-01-11", 10]
    # compact YYYYMMDD dates accepted too
    status2, out2 = _call(
        app, "/api/1/FilePlaycount/date_range/Steady_file.ogv/20240111/20240120"
    )
    assert status2 == "200 OK" and out2 == out


def test_http_file_last_30_route(spark, playcounts_fixture, members_fixture):
    from mediaplaycounts_spark.api import create_app

    app = create_app(playcounts_fixture, members_fixture, today="2024-02-10")
    status, out = _call(app, "/api/1/FilePlaycount/last_30/Steady file.ogv")
    assert status == "200 OK"
    assert out["total"] == sum(range(10, 40))
    assert len(out["counts"]) == 30


def test_http_category_routes(spark, playcounts_fixture, members_fixture):
    from mediaplaycounts_spark.api import create_app

    app = create_app(playcounts_fixture, members_fixture, today="2024-02-10")
    status, out = _call(
        app, "/api/1/CategoryPlaycount/date_range/Cat_A/2024-01-01/2024-01-03"
    )
    assert status == "200 OK"
    assert out["total"] == 5  # Steady 0+1+2, gappy _+1+1
    status, out = _call(app, "/api/1/CategoryPlaycount/last_90/Cat B")
    assert status == "200 OK"
    assert len(out["counts"]) == 90
    # a reversed span is the client's error, not an empty series
    status, out = _call(
        app, "/api/1/CategoryPlaycount/date_range/Cat_A/2024-01-03/2024-01-01"
    )
    assert status == "400 Bad Request" and "after" in out["error"]


def test_http_error_routes(spark, playcounts_fixture):
    from mediaplaycounts_spark.api import create_app

    app = create_app(playcounts_fixture)  # no members snapshot
    assert _call(app, "/api/2/Nope")[0] == "404 Not Found"
    assert (
        _call(app, "/api/1/FilePlaycount/date_range/f.ogv/junk/2024-01-02")[0]
        == "400 Bad Request"
    )
    assert (
        _call(app, "/api/1/CategoryPlaycount/last_30/Cat A")[0]
        == "503 Service Unavailable"
    )
    status, out = _call(app, "/api/1/FilePlaycount/date_range/a.ogg/2024-01-05/2024-01-01")
    assert status == "400 Bad Request" and "after" in out["error"]


def test_http_unpinned_today_is_the_utc_date(spark, playcounts_fixture, monkeypatch):
    """Without a pinned ``today``, last_30/last_90 end the day before the
    UTC date — the store's days are UTC dump dates — whatever the
    server's local zone. UTC+14 and UTC-12 between them differ from the
    UTC date at every hour, so a local-date anchor fails one of them."""
    import datetime as dt
    import os
    import time

    from mediaplaycounts_spark.api import create_app, http

    anchors, real = [], http.last_n
    monkeypatch.setattr(
        http, "last_n", lambda pc, f, n, today: anchors.append(today) or real(pc, f, n, today)
    )
    app = create_app(playcounts_fixture)
    saved = os.environ.get("TZ")
    try:
        for zone in ("Pacific/Kiritimati", "Etc/GMT+12"):
            os.environ["TZ"] = zone
            time.tzset()
            before = dt.datetime.now(dt.timezone.utc).date().isoformat()
            assert _call(app, "/api/1/FilePlaycount/last_30/a.ogg")[0] == "200 OK"
            after = dt.datetime.now(dt.timezone.utc).date().isoformat()
            assert anchors[-1] in (before, after), (zone, anchors[-1], before)
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()


def test_perfbench_trace_hook_wraps_every_api_name(spark):
    """perfbench/loop.py's traced runs wrap the five API names in
    ``api.http``'s namespace; a missing name would raise AttributeError
    there. Apply the hook and check that each name is wrapped and then
    restored."""
    import importlib
    import pathlib
    import sys

    from mediaplaycounts_spark.api import http

    bench = str(pathlib.Path(__file__).resolve().parent.parent / "perfbench")
    names = ("date_range", "last_n", "category_date_range", "category_last_n",
             "to_api_payload")
    mods = ("loop", "spans", "gen")  # perfbench's top-level module names
    shadowed = {m: sys.modules.pop(m) for m in mods if m in sys.modules}
    sys.path.insert(0, bench)
    try:
        loop = importlib.import_module("loop")
        spans = importlib.import_module("spans")
        before = {n: getattr(http, n) for n in names}
        restore = loop._patch_http(spans.Tracer(spark, enabled=False))
        try:
            assert all(getattr(http, n) is not before[n] for n in names)
        finally:
            restore()
        assert all(getattr(http, n) is before[n] for n in names)
    finally:
        sys.path.remove(bench)
        for m in mods:
            sys.modules.pop(m, None)
        sys.modules.update(shadowed)


def test_http_unexpected_error_returns_json_500(spark, playcounts_fixture):
    """A Spark-side failure inside the query path (e.g. a malformed
    snapshot raising AnalysisException at plan or collect time) must
    come back as a JSON 500, not escape the WSGI callable — the module
    documents an all-JSON response contract."""
    from mediaplaycounts_spark.api import create_app

    # a snapshot missing every expected column breaks the plan build
    bad = playcounts_fixture.select(
        playcounts_fixture.columns[0]
    ).withColumnRenamed(playcounts_fixture.columns[0], "not_a_real_col")
    app = create_app(bad, today="2024-02-10")
    status, out = _call(app, "/api/1/FilePlaycount/last_30/Steady file.ogv")
    assert status == "500 Internal Server Error"
    assert "error" in out and out["error"]
