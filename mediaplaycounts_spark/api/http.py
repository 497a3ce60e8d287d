"""Thin HTTP (WSGI) wrapper over the playcount query API.

Mirrors the reference's served route shapes (REF app.py Flask routes —
mount empty this round, so shapes follow SURVEY.md §3's public-knowledge
anchors, ⚠ re-verify when populated):

    /api/1/FilePlaycount/date_range/<file>/<start>/<end>
    /api/1/FilePlaycount/last_30/<file>
    /api/1/FilePlaycount/last_90/<file>
    /api/1/CategoryPlaycount/date_range/<category>/<start>/<end>
    /api/1/CategoryPlaycount/last_30/<category>
    /api/1/CategoryPlaycount/last_90/<category>

Pure-stdlib WSGI (no web framework dependency): the callable is
testable in-process and servable with ``wsgiref.simple_server`` or any
WSGI container. Dates accept ISO (2024-01-31) and compact (20240131)
forms. Responses are ``to_api_payload`` JSON — {total, counts:
[[date, n], ...]} — the reference's shape.

Each request runs the pruned read in Spark and builds the zero-filled
series on the driver (``api.playcounts``): one job for a file request,
whose collect holds at most one row per day in the span; a category
request adds a broadcast semi-join and a per-day sum, so its collect has
the same bound. A start after the end is a 400. The app calls the
``api.playcounts`` functions through this module's namespace, so they
can be wrapped from outside (the benchmark's tracer does).
"""

from __future__ import annotations

import datetime as _dt
import json
import re
from collections.abc import Callable, Iterable
from urllib.parse import unquote

from pyspark.sql import DataFrame

from mediaplaycounts_spark.api.playcounts import (
    category_date_range,
    category_last_n,
    date_range,
    last_n,
    to_api_payload,
)

_ROUTE = re.compile(
    r"^/api/1/(FilePlaycount|CategoryPlaycount)/"
    r"(date_range|last_30|last_90)/(.+)$"
)


def _parse_date(s: str) -> str:
    """ISO or compact YYYYMMDD -> ISO; raises ValueError on junk."""
    if re.fullmatch(r"\d{8}", s):
        s = f"{s[0:4]}-{s[4:6]}-{s[6:8]}"
    return _dt.date.fromisoformat(s).isoformat()


def create_app(
    playcounts: DataFrame,
    members: DataFrame | None = None,
    today: str | None = None,
) -> Callable:
    """Build the WSGI callable over a playcounts fact table and an
    optional category-membership snapshot.

    ``today`` pins the last_30/last_90 anchor for deterministic tests;
    None means the current UTC date at request time (production
    behavior): the store's days are UTC dump dates.
    """

    def respond(start_response, status: str, body: dict) -> Iterable[bytes]:
        raw = json.dumps(body).encode("utf-8")
        start_response(
            status,
            [
                ("Content-Type", "application/json"),
                ("Content-Length", str(len(raw))),
            ],
        )
        return [raw]

    def app(environ, start_response) -> Iterable[bytes]:
        path = unquote(environ.get("PATH_INFO", ""))
        if environ.get("REQUEST_METHOD", "GET") != "GET":
            return respond(
                start_response, "405 Method Not Allowed",
                {"error": "GET only"},
            )
        m = _ROUTE.match(path)
        if not m:
            return respond(
                start_response, "404 Not Found", {"error": "unknown route"}
            )
        surface, action, rest = m.groups()
        is_category = surface == "CategoryPlaycount"
        if is_category and members is None:
            return respond(
                start_response, "503 Service Unavailable",
                {"error": "no category membership snapshot loaded"},
            )
        try:
            if action == "date_range":
                parts = rest.rsplit("/", 2)
                if len(parts) != 3:
                    raise ValueError("date_range needs <name>/<start>/<end>")
                name, start, end = parts[0], _parse_date(parts[1]), _parse_date(parts[2])
                if is_category:
                    series = category_date_range(
                        playcounts, members, name, start, end
                    )
                else:
                    series = date_range(playcounts, name, start, end)
            else:
                n = 30 if action == "last_30" else 90
                name = rest
                anchor = today or _dt.datetime.now(_dt.timezone.utc).date().isoformat()
                if is_category:
                    series = category_last_n(playcounts, members, name, n, anchor)
                else:
                    series = last_n(playcounts, name, n, anchor)
            payload = to_api_payload(series)
        except ValueError as ex:
            return respond(
                start_response, "400 Bad Request", {"error": str(ex)}
            )
        except Exception as ex:  # keep the all-JSON response contract:
            # a Spark-side failure (e.g. AnalysisException on a malformed
            # snapshot, or an executor error surfacing at the payload
            # collect) must not escape the WSGI callable as a non-JSON 500
            return respond(
                start_response,
                "500 Internal Server Error",
                {"error": f"{type(ex).__name__}: {ex}"},
            )
        return respond(start_response, "200 OK", payload)

    return app


def serve(app: Callable, host: str = "127.0.0.1", port: int = 8000) -> None:
    """Run the app with the stdlib WSGI server (dev/demo entry point)."""
    from wsgiref.simple_server import make_server

    with make_server(host, port, app) as httpd:  # pragma: no cover - manual
        httpd.serve_forever()
