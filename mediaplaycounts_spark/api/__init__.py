"""Reference-API parity layer (REF GetData / app.py surface).

A user of ``harej/mediaplaycounts`` queries it through
``GetData.date_range / last_30 / last_90`` and their Category variants
(Flask routes ``/api/1/FilePlaycount/...``, ``/api/1/CategoryPlaycount/...``).
This package re-expresses that exact query surface over the playcount
fact DataFrame so a reference user can switch engines and keep their
call sites. Spark runs each request's pruned read; the driver sums and
zero-fills the series in ``to_api_payload``, whose one collect holds at
most one row per day in the span (``api.playcounts``).
"""

from mediaplaycounts_spark.api.http import create_app, serve  # noqa: F401
from mediaplaycounts_spark.api.playcounts import (  # noqa: F401
    category_date_range,
    category_last_n,
    date_range,
    last_n,
    to_api_payload,
)
