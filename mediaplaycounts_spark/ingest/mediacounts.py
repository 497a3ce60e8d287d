"""Mediacounts daily-dump ingest (REF LogProcessor, re-expressed Spark-first).

The reference's daily cron job (REF LogProcessor::download/parse per
SURVEY.md §3.1) downloads a bz2 TSV (one row per media asset path, 26
columns) and loops over its lines in Python: split, whitelist
audio/video extensions, URL-decode the filename, compute
``plays = transfers_original + transcoded_audio + transcoded_video``
(cols 3/16/18), and insert (file, date, count) rows into MySQL.

Here the job is one declarative plan. A text scan split across the
cores feeds one malformed-line rule (:func:`read_raw`); malformed lines
go to an error sink (REF ErrorLog), and both sinks read one narrow
cached projection of the day (:func:`corrupt_records`). An explicit
groupBy (file, date) SUM keeps it correct under duplicate rows
(SURVEY.md §3.1 stage 5); the date comes from the dump filename
(``mediacounts.YYYY-MM-DD.v00``), as the reference names its downloads.

At 100 TB: each day is an independent partition; the only shuffle is the
(file, date) aggregation, which is map-side-combined; the output is
date-partitioned parquet so every downstream date-range query prunes.
"""
from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Audio/video extension whitelist (REF LogProcessor::parse ⚠ SURVEY.md
#: §1 item 2 — exact list to re-verify if the reference mount appears).
MEDIA_EXTENSIONS = ("ogg", "oga", "ogv", "webm", "wav", "flac", "mid")
MEDIA_EXTENSION_PATTERN = r"\.(" + "|".join(MEDIA_EXTENSIONS) + r")$"

#: 26-column mediacounts TSV: base path, response bytes, total
#: transfers, original transfers, 12 reserved, transcoded-audio,
#: reserved, transcoded-video, 7 reserved/referer columns.
_LONGS = {1: "total_response_bytes", 2: "total_transfers", 3: "transfers_original",
          16: "transfers_transcoded_audio", 18: "transfers_transcoded_video"}
_FIELDS = [
    T.StructField(_LONGS[i], T.LongType()) if i in _LONGS
    else T.StructField(f"reserved_{i}" if i else "base_path", T.StringType())
    for i in range(26)
]

#: Per-file open cost of dump reads (Spark's default is 4 MB): an
#: 830 KB bz2 day is read as 4 splits on 4 cores, not 1.
_DUMP_OPEN_COST = str(128 << 10)
_DUMP_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _dump_lines(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.text(path)`` with splits sized by the dump open cost.

    No read option moves the open-cost floor, and on the caller's session
    it would split every single-row-group parquet table too. So a child
    session (one per caller session) plans the file relation, and the
    scan comes back as a frame of ``spark``, with all its other confs.
    """
    child = _DUMP_SESSIONS.get(spark)
    if child is None:
        child = _DUMP_SESSIONS[spark] = spark.newSession()
        child.conf.set("spark.sql.files.openCostInBytes", _DUMP_OPEN_COST)
    plan = child.read.text(path)._jdf.logicalPlan()
    jvm_ds = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(jvm_ds.ofRows(spark._jsparkSession, plan), spark)


def read_raw(spark: SparkSession, path: str) -> DataFrame:
    """Scan dump files (``.tsv`` or ``.tsv.bz2``; globs allowed) into the
    26 ``_FIELDS``, ``_corrupt_record`` and ``dump_date``.

    A line is malformed, and ``_corrupt_record`` holds it verbatim, iff
    it does not split into exactly 26 tab fields, a LONG field is
    non-empty and not ``^[+-]?[0-9]+$`` within a long, its file name is
    not valid percent-encoding, or its ``plays`` sum overflows a long.
    As in Spark's PERMISSIVE CSV reader, an empty field is null and a
    blank line is no record; unlike it, ``"`` is an ordinary character.
    The rule reads the whole line, so the verdict does not depend on the
    columns a plan needs, and one bad line never fails the day's job.
    """
    lines = _dump_lines(spark, path).filter(F.col("value").rlike(r"[^\x00-\x20]"))
    split = lines.select("value", F.split("value", "\t", -1).alias("f"))
    cols, bad = {}, F.size("f") != len(_FIELDS)
    for i, field in enumerate(_FIELDS):
        col = text = F.nullif(F.get("f", i), F.lit(""))
        if i in _LONGS:
            col = text.try_cast("long")
            bad = bad | (text.isNotNull() & (~text.rlike("^[+-]?[0-9]+$") | col.isNull()))
        cols[field.name] = col
    bad = bad | _file(F.get("f", 0)).isNull() | _plays(cols.get).isNull()
    day = F.to_date(F.regexp_extract(F.input_file_name(), r"mediacounts\.(\d{4}-\d{2}-\d{2})", 1))
    corrupt = F.when(bad, F.col("value")).alias("_corrupt_record")
    return split.select(*(c.alias(n) for n, c in cols.items()), corrupt, day.alias("dump_date"))


def _file(base_path: Column) -> Column:
    """URL-decoded last path segment; null if it does not decode. The
    rule runs this on every line, so it cuts at the last ``/`` instead
    of matching ``([^/]+)$``, a regex that retries at every offset."""
    return F.try_url_decode(F.substring_index(base_path, "/", -1))


def _plays(col) -> Column:
    """Original + transcoded audio + transcoded video transfers (cols
    3/16/18, empty = 0) from ``col(name)``; null if the sum overflows."""
    a, b, c = (F.coalesce(col(_LONGS[i]), F.lit(0)) for i in (3, 16, 18))
    return F.try_add(F.try_add(a, b), c)


def _day(raw: DataFrame) -> DataFrame:
    """The one projection both sinks read: the raw line if malformed, the
    dump date, and for kept media rows the URL-decoded file name and
    ``plays`` (REF LogProcessor::parse, with no Python in the path)."""
    kept = F.col("_corrupt_record").isNull() & F.lower("base_path").rlike(MEDIA_EXTENSION_PATTERN)
    return raw.select(
        "_corrupt_record", "dump_date",
        F.when(kept, _file(F.col("base_path"))).alias("file"),
        F.when(kept, _plays(F.col)).alias("plays"),
    )


def corrupt_records(raw: DataFrame) -> DataFrame:
    """Malformed lines (REF ErrorLog): ``raw_line`` + ``dump_date``.

    Caches the day's narrow projection, so a :func:`parse_raw` of the
    same ``raw`` reads that cache instead of scanning the dump again.
    """
    day = _day(raw).cache().filter(F.col("_corrupt_record").isNotNull())
    return day.select(F.col("_corrupt_record").alias("raw_line"), "dump_date")


def parse_raw(raw: DataFrame) -> DataFrame:
    """Kept media rows ``(file, date, plays)``: well-formed lines whose
    path has a whitelisted extension."""
    day = _day(raw).filter(F.col("file").isNotNull())
    return day.select("file", F.col("dump_date").alias("date"), "plays")


def daily_playcounts(spark: SparkSession, path: str) -> DataFrame:
    """Full ingest plan: scan -> parse -> per-(file, date) SUM: the
    playcount fact rows ``(file, date, count)``, the reference's MySQL
    table (SURVEY.md §2.1), safe under duplicate input rows."""
    parsed = parse_raw(read_raw(spark, path))
    return parsed.groupBy("file", "date").agg(F.sum("plays").alias("count"))


def write_daily(df: DataFrame, out_dir: str) -> None:
    """Idempotent materialization: re-running a day replaces that day.

    Dynamic partition overwrite (set session-wide in session.py) is the
    Spark equivalent of the reference's per-date DELETE+INSERT.
    """
    df.write.partitionBy("date").mode("overwrite").parquet(out_dir)
