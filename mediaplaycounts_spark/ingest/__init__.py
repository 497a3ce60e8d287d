"""Ingest path: raw mediacounts dumps -> playcount fact table.

Spark-first re-expression of the reference's daily batch job
(REF LogProcessor::download/parse -> MySQL): a parallel text scan with
one malformed-line rule and corrupt-record routing, extension whitelist,
URL-decode, per-(file, day) aggregation, and idempotent partitioned
sinks.
"""

from mediaplaycounts_spark.ingest.mediacounts import (  # noqa: F401
    MEDIA_EXTENSION_PATTERN,
    corrupt_records,
    daily_playcounts,
    parse_raw,
    read_raw,
)
