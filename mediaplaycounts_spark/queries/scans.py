"""§2.A Scan / source / sink operators.

The reference's IO surface: download + parse the daily TSV dump
(REF LogProcessor::download/parse), write rows to MySQL (pymysql), log
rejects (REF ErrorLog). Engine mapping: schema'd CSV scan with corrupt-
record routing, date-partitioned parquet fact sink with dynamic
partition overwrite (idempotent daily re-runs), and a real JDBC
round-trip against embedded Derby (the driver jar Spark ships with).

Sink keys are graded by round-trip: write, read back, return — if the
sink lost or mangled rows the oracle comparison fails, so even sinks
get full SQL oracles.
"""

from __future__ import annotations

import pathlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediaplaycounts_spark.ingest.mediacounts import (
    corrupt_records,
    daily_playcounts,
    parse_raw,
    read_raw,
    write_daily,
)
from mediaplaycounts_spark.queries.expressions import CLEAN_GLOB, DUCK_RAW, FIXTURE_DIR
from mediaplaycounts_spark.session import checkpoint_df
from mediaplaycounts_spark.registry import register
from mediaplaycounts_spark.tables import load_table

SCRATCH = pathlib.Path(__file__).resolve().parents[2] / ".scratch"

CORRUPT_FILE = f"{FIXTURE_DIR}/mediacounts.2024-01-03.v00.tsv"

#: The parsed-and-aggregated ingest output, as DuckDB SQL over the same
#: TSVs — shared by the scan and the sink round-trip oracles.
_PLAYCOUNTS_SQL = f"""
        SELECT replace(regexp_extract(c0, '([^/]+)$', 1), '%20', ' ') AS file,
               CAST(regexp_extract(filename, 'mediacounts\\.(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1)
                    AS DATE) AS d,
               CAST(SUM(CAST(c3 AS BIGINT) + CAST(c16 AS BIGINT)
                        + CAST(c18 AS BIGINT)) AS BIGINT) AS count
        FROM {DUCK_RAW}
        WHERE regexp_matches(lower(c0), '\\.(ogg|oga|ogv|webm|wav|flac|mid)$')
        GROUP BY file, d
"""


@register(
    "scan_parquet",
    oracle="SELECT p_partkey, p_name, p_brand, p_type, CAST(p_size AS BIGINT) AS p_size, p_retailprice FROM part",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar parquet scan with explicit projection."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey", "p_name", "p_brand", "p_type",
        F.col("p_size").cast("long").alias("p_size"), "p_retailprice",
    )


@register(
    "scan_tsv_log",
    oracle=f"SELECT file, CAST(d AS TIMESTAMP) AS date, count FROM ({_PLAYCOUNTS_SQL})",
)
def scan_tsv_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference ingest: TSV dump scan -> parse -> daily counts.

    Spark reads the (optionally bz2) TSVs in parallel with the explicit
    26-column schema; plays = cols 3+16+18 summed per (file, date).
    """
    pc = daily_playcounts(spark, CLEAN_GLOB)
    return pc.select("file", F.col("date").cast("timestamp_ntz").alias("date"), "count")


@register(
    "scan_json_lines",
    oracle="""
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
    """,
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingest: typed extraction + predicate on a JSON
    field (from_json with schema — parsed once, codegen-friendly)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT").getField("k")
    return ev.select("event_id", "event_type", k.alias("k")).filter(F.col("k") > 90)


@register(
    "sink_parquet_partitioned",
    oracle=f"SELECT file, CAST(d AS TIMESTAMP) AS date, count FROM ({_PLAYCOUNTS_SQL})",
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent daily materialization: partitionBy(date) + dynamic
    partition overwrite, graded by write->read-back round-trip.

    Writes day 1, then OVERWRITES day 1 and appends day 2 by re-running
    — proving a re-run replaces exactly its own date partition (the
    reference's per-date idempotency, REF LogProcessor write path).
    """
    out = str(SCRATCH / f"playcounts_{uuid.uuid4().hex[:12]}")
    pc = daily_playcounts(spark, CLEAN_GLOB)
    d1 = "2024-01-01"
    write_daily(pc.filter(F.col("date") == d1), out)          # initial day-1 load
    write_daily(pc, out)                                      # re-run replaces day-1, adds day-2
    back = spark.read.parquet(out)
    return back.select(
        "file", F.col("date").cast("timestamp_ntz").alias("date"), "count"
    )


@register(
    "sink_jdbc",
    oracle=f"""
        SELECT file, count AS total FROM (
            SELECT file, CAST(SUM(count) AS BIGINT) AS count
            FROM ({_PLAYCOUNTS_SQL}) GROUP BY file
        )
    """,
)
def sink_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-side DB load: real JDBC round-trip via embedded Derby.

    The reference's pymysql row loop becomes one bulk df.write.jdbc
    (REF LogProcessor DB-write helper + BASELINE 'JDBC sink'). Derby's
    driver ships inside Spark, so this is a genuine JDBC code path;
    production swaps the URL for MySQL/Postgres and upserts via
    foreachBatch + staging MERGE (see queries/streaming.py).
    """
    db = SCRATCH / f"derby_{uuid.uuid4().hex[:12]}"
    url = f"jdbc:derby:{db};create=true"
    totals = (
        daily_playcounts(spark, CLEAN_GLOB)
        .groupBy("file")
        .agg(F.sum("count").alias("total"))
    )
    totals.write.format("jdbc").option("url", url).option("dbtable", "playcounts").option(
        "driver", "org.apache.derby.jdbc.EmbeddedDriver"
    ).mode("overwrite").save()
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "playcounts")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )
    return back.select(F.col("file"), F.col("total").cast("long").alias("total"))


_DUCK_CORRUPT = (
    f"read_csv('{CORRUPT_FILE}', delim=chr(1), header=false, "
    "columns={'line': 'VARCHAR'})"
)


@register(
    "sink_error_log",
    oracle=f"""
        SELECT line AS raw_line FROM {_DUCK_CORRUPT}
        WHERE len(string_split(line, chr(9))) != 26
           OR NOT regexp_matches(string_split(line, chr(9))[3], '^[0-9]+$')
    """,
)
def sink_error_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record routing (REF ErrorLog): malformed dump lines are
    captured verbatim by the ingest's malformed-line rule and routed to
    a side sink instead of poisoning the day's load."""
    raw = read_raw(spark, CORRUPT_FILE)
    return corrupt_records(raw).select("raw_line")


@register(
    "sink_parquet_bucketed",
    oracle="""
        SELECT l.l_orderkey, o.o_orderpriority,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(round(l.l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS sum_qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_orderkey, o.o_orderpriority
    """,
)
def sink_parquet_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed storage: co-located join + agg with ZERO shuffles.

    At 100 TB the single biggest recurring cost is re-shuffling the fact
    table on its join key for every query. Bucketing pays that shuffle
    ONCE at write time: both tables are written bucketBy(orderkey) with
    the same bucket count, so Catalyst proves matching partitioning and
    plans join AND aggregation without any Exchange (asserted in
    tests/test_plans.py). Graded by round-trip: write both bucketed
    tables, join+aggregate from the bucketed reads, compare to the
    plain-join oracle.
    """
    from mediaplaycounts_spark.queries._helpers import dsum

    SCRATCH.mkdir(exist_ok=True)
    wh = SCRATCH / "warehouse"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS scratch LOCATION '{wh}'")
    tag = uuid.uuid4().hex[:12]
    li_t, o_t = f"scratch.li_{tag}", f"scratch.orders_{tag}"

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").format("parquet").saveAsTable(li_t)
    )
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").format("parquet").saveAsTable(o_t)
    )
    a, b = spark.table(li_t), spark.table(o_t)
    return (
        a.join(b, a.l_orderkey == b.o_orderkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity", "sum_qty"))
    )


# ------------------------------------------------- small-file compaction


@register(
    "sink_compact_small_files",
    oracle="""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_price_cents
        FROM orders GROUP BY o_orderstatus
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a 64-way fragmented table (the classic
    streaming-ingest pathology — one file per micro-batch per key) is
    rewritten into 4 right-sized files with one `repartition`, then the
    compacted copy is re-aggregated to prove no rows were lost or
    duplicated. `test_compaction_reduces_file_count` pins the actual
    file counts.

    At 100 TB compaction is the maintenance job that keeps scan
    parallelism healthy: target file size = `maxPartitionBytes`
    (128 MB), schedule per partition, and use dynamic partition
    overwrite so each date partition compacts idempotently in place."""
    frag = str(SCRATCH / f"frag_orders_{uuid.uuid4().hex[:12]}")
    compact = str(SCRATCH / f"compact_orders_{uuid.uuid4().hex[:12]}")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    back = spark.read.parquet(compact)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "sum_price_cents"
        ),
    )


# ------------------------------------------- incremental partial merge


@register(
    "agg_incremental_daily_merge",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events GROUP BY event_type
    """,
)
def agg_incremental_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: per-(day, type) PARTIAL aggregates
    are materialized day-partitioned (what a nightly job appends), and
    the running per-type totals are computed by merging partials —
    counts sum, cents sums sum — without ever re-scanning raw events.
    Integer-cents partials make the merge exact and order-independent
    (a double partial would drift per merge order).

    At 100 TB this is THE pattern for cross-period rollups: the merge
    reads O(days x types) partial rows instead of the raw fact table
    (same architecture as agg_hll_sketch_merge, with exact sums)."""
    out = str(SCRATCH / f"partials_{uuid.uuid4().hex[:12]}")
    ev = load_table(spark, sf_dir, "events")
    partials = ev.groupBy(
        F.date_trunc("DAY", "ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("p_n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("p_cents"),
    )
    partials.write.mode("overwrite").partitionBy("day").parquet(out)
    merged = spark.read.parquet(out)
    return merged.groupBy("event_type").agg(
        F.sum("p_n").alias("n_events"),
        F.sum("p_cents").alias("sum_value_cents"),
    )


@register(
    "scan_jdbc",
    oracle="""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_price_cents
        FROM orders
        WHERE o_totalprice >= 100000.0
        GROUP BY o_orderstatus
    """,
)
def scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC as a SOURCE with the two features that matter at scale:
    PARALLEL partitioned reads (partitionColumn/numPartitions stripe
    the table into 4 concurrent range queries — a single-connection
    read would bottleneck every executor behind one socket) and
    predicate pushdown (the filter lands in each stripe's WHERE, so
    the database does the filtering, not Spark).

    Embedded Derby again (driver ships with Spark); production swaps
    the URL. Stripes here are o_custkey ranges; pick a clustered,
    evenly-distributed column or the stripes skew."""
    db = SCRATCH / f"derby_src_{uuid.uuid4().hex[:12]}"
    url = f"jdbc:derby:{db};create=true"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.write.format("jdbc").option("url", url).option("dbtable", "orders_src").option(
        "driver", "org.apache.derby.jdbc.EmbeddedDriver"
    ).mode("overwrite").save()
    hi = o.agg(F.max("o_custkey")).head()[0]
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_src")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("partitionColumn", "o_custkey")
        .option("lowerBound", 1)
        .option("upperBound", int(hi) + 1)
        .option("numPartitions", 4)
        .load()
    )
    return (
        back.filter(F.col("o_totalprice") >= 100000.0)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "sum_price_cents"
            ),
        )
    )


# ------------------------------------------- Python DataSource (Spark 4)


@register(
    "scan_python_datasource",
    oracle="""
        WITH days AS (SELECT unnest(generate_series(0, 364)) AS day_idx)
        SELECT CAST(date_trunc('month',
                               DATE '2024-01-01' + day_idx * INTERVAL 1 DAY)
                    AS DATE) AS month,
               COUNT(*) AS n_days,
               CAST(SUM(day_idx) AS BIGINT) AS sum_idx
        FROM days GROUP BY month
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON data source (Spark 4 DataSource API): a calendar
    generator implemented entirely in Python — schema declaration,
    4-way input partitioning, per-partition row iterators — registered
    and consumed through the standard `spark.read.format(...)` surface.
    This is the extension point for bespoke feeds (internal APIs,
    proprietary formats) when no JVM connector exists; partition
    planning keeps the read parallel like any native source.

    The calendar itself is the day list every date_range query
    zero-fills over (REF GetData::date_range, SURVEY.md §3.2)."""
    import datetime as dt

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class CalendarReader(DataSourceReader):
        def __init__(self, options):
            self.start = dt.date.fromisoformat(
                options.get("start", "2024-01-01")
            )
            self.days = int(options.get("days", "365"))
            self.n_parts = 4

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            for i in range(partition.value, self.days, self.n_parts):
                yield (self.start + dt.timedelta(days=i), i)

    class CalendarSource(DataSource):
        @classmethod
        def name(cls):
            return "pycalendar"

        def schema(self):
            return "day date, day_idx bigint"

        def reader(self, schema):
            return CalendarReader(self.options)

    spark.dataSource.register(CalendarSource)
    cal = (
        spark.read.format("pycalendar")
        .option("start", "2024-01-01")
        .option("days", "365")
        .load()
    )
    return (
        cal.groupBy(F.date_trunc("MONTH", "day").cast("date").alias("month"))
        .agg(
            F.count("*").alias("n_days"),
            F.sum("day_idx").alias("sum_idx"),
        )
    )


@register(
    "scan_binary_files",
    oracle=f"""
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
               CAST(size AS BIGINT) AS n_bytes,
               md5(decode(content)) AS content_md5
        FROM read_blob('{FIXTURE_DIR}/*.tsv')
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingest (`binaryFile` source): each dump file
    arrives as one (path, length, content BINARY) row — the ingest
    surface for opaque media payloads (images/audio/video) where the
    file, not the line, is the record. Metadata-only projections
    (path, length) skip reading content entirely; the md5 here forces
    the read on purpose to prove content fidelity vs the oracle.

    At 100 TB: binaryFile is for many-small-opaque-files ingest
    (bounded by `maxPartitionBytes` per task); line-oriented dumps go
    through the splittable CSV path (`scan_tsv_log`) instead."""
    files = (
        spark.read.format("binaryFile")
        .load(f"{FIXTURE_DIR}/*.tsv")
        .select(
            F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
    )
    return files


@register(
    "scan_partition_discovery",
    oracle="""
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE lang = 'en'
    """,
)
def scan_partition_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition discovery + STATIC partition pruning: the
    corpus is laid out as lang=<v>/ directories, the read infers the
    partition column from the paths, and a literal filter on it prunes
    at the DIRECTORY level — `PartitionFilters` in the plan, zero data
    files of other langs opened (asserted in tests/test_plans.py).

    Complements join_dpp_partition_pruned (dynamic, join-driven
    pruning): this is the static form every date-partitioned 100 TB
    fact table lives by — `WHERE day = X` never touches other days'
    files."""
    SCRATCH.mkdir(exist_ok=True)
    out = SCRATCH / f"part_disco_{uuid.uuid4().hex[:12]}"
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.select("doc_id", "n_chars", "lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(str(out))
    )
    back = spark.read.parquet(str(out)).filter(F.col("lang") == "en")
    return back.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


@register(
    "sink_json_lines",
    oracle="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM events GROUP BY event_type
    """,
)
def sink_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink round-trip: events projected to a typed subset,
    written as newline-delimited JSON, read back with an explicit schema
    (no inference pass), re-aggregated. Graded by round-trip: a sink
    that mangled a value or dropped a row fails the oracle equality.
    The interchange format for feeding non-Spark consumers; at scale,
    compressed JSONL with a declared schema on re-read (inference costs
    a full extra scan)."""
    out = SCRATCH / f"jsonl_{uuid.uuid4().hex[:12]}"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    ev.write.mode("overwrite").json(str(out))
    back = spark.read.schema("event_id bigint, event_type string, cents bigint").json(
        str(out)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total_cents"),
    )


@register(
    "sink_merge_upsert",
    oracle="""
        WITH base AS (
            SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS nation,
                   CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
            FROM customer),
        upd AS (
            SELECT o_custkey AS k,
                   CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS delta
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1995-02-01'
            GROUP BY o_custkey)
        SELECT COALESCE(b.k, u.k) AS k,
               COALESCE(b.nation, -1) AS nation,
               CAST(COALESCE(b.bal_cents, 0) + COALESCE(u.delta, 0)
                    AS BIGINT) AS bal_cents
        FROM base b FULL OUTER JOIN upd u ON b.k = u.k
        UNION ALL
        SELECT k + 10000000 AS k, CAST(-1 AS BIGINT) AS nation,
               delta AS bal_cents
        FROM upd
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics without a lakehouse table format: dim
    snapshot + delta batch -> full-outer join upsert (matched rows
    updated, unmatched-left preserved, unmatched-right inserted — the
    insert path exercised via offset keys), materialized to parquet and
    read back. Graded by round-trip: the oracle replays the same merge
    in SQL, so a lost update, dropped row, or double-applied delta
    fails the equality. All money in exact integer cents.

    At 100 TB this is the nightly dim upsert: full-outer joins cannot
    broadcast, so both sides shuffle on the merge key — bucket the
    snapshot on k and the delta co-partitions for free; or hand the
    same plan to a format with real MERGE (Iceberg/Delta) for a managed
    commit.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    base = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").cast("long").alias("nation"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    upd = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1995-02-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("delta"))
    )
    merged = (
        base.alias("b")
        .join(upd.alias("u"), F.col("b.k") == F.col("u.k"), "full_outer")
        .select(
            F.coalesce("b.k", "u.k").alias("k"),
            F.coalesce("b.nation", F.lit(-1)).alias("nation"),
            (
                F.coalesce("b.bal_cents", F.lit(0))
                + F.coalesce("u.delta", F.lit(0))
            ).cast("long").alias("bal_cents"),
        )
        .unionAll(
            upd.select(
                (F.col("k") + 10_000_000).alias("k"),
                F.lit(-1).cast("long").alias("nation"),
                F.col("delta").alias("bal_cents"),
            )
        )
    )
    out = SCRATCH / f"merge_{uuid.uuid4().hex[:12]}"
    merged.write.mode("overwrite").parquet(str(out))
    return spark.read.parquet(str(out))


_DUCK_COLS_SQL = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(26))

CSV_QUOTED = str(pathlib.Path(FIXTURE_DIR).parent / "csv" / "quoted.csv")
BZ2_GLOB = str(
    pathlib.Path(FIXTURE_DIR).parent
    / "mediacounts_bz2"
    / "mediacounts.2024-01-01.v00.tsv.bz2"
)


@register(
    "scan_csv_quoted_multiline",
    oracle=f"""
        SELECT CAST(id AS BIGINT) AS id, title, description,
               CAST(plays AS BIGINT) AS plays
        FROM read_csv('{CSV_QUOTED}', header=true)
    """,
)
def scan_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV edge cases done right: quoted fields containing
    commas, EMBEDDED NEWLINES (multiLine=true — the file is no longer
    line-splittable), doubled-quote escapes, and empty->null fields.
    The oracle parses the identical file with DuckDB's reader, so any
    quoting/escape divergence fails the equality.

    Scale note: multiLine disables input splitting (a record can span
    split boundaries), so one task per file — reserve it for the messy
    minority of inputs and keep bulk dumps in splittable layouts
    (scan_tsv_log)."""
    df = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .schema("id bigint, title string, description string, plays bigint")
        .csv(CSV_QUOTED)
    )
    return df


@register(
    "scan_tsv_bz2_compressed",
    oracle=f"""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(c3 AS BIGINT)) AS BIGINT) AS total_c3
        FROM read_csv('{FIXTURE_DIR}/mediacounts.2024-01-01.v00.tsv',
                      delim='\t', header=false,
                      columns={{{_DUCK_COLS_SQL}}})
    """,
)
def scan_tsv_bz2_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-dump ingest: the same mediacounts TSV day, bz2-packed
    (the codec Wikimedia ships dumps in; Spark decodes by extension).
    The oracle reads the UNCOMPRESSED twin of the identical content, so
    the equality proves lossless codec handling end-to-end.

    Scale note: bz2 is one of the few SPLITTABLE compression codecs —
    unlike gzip, a 100 GB .bz2 dump still fans out across tasks."""
    raw = (
        spark.read.option("sep", "\t")
        .schema(
            " ".join(f"c{i} string," for i in range(25)).rstrip(",") + ", c25 string"
        )
        .csv(BZ2_GLOB)
    )
    return raw.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("c3").cast("long")).alias("total_c3"),
    )


@register(
    "scan_observe_metrics",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS price_cents,
               CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_discounted
        FROM lineitem
    """,
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality METRICS via `Observation`/`observe()`:
    row count, cents-exact price total, and a discount-rate counter are
    accumulated ON THE SCAN while a downstream aggregation consumes it —
    zero extra passes over the data (the production pattern for
    freshness/completeness checks: every pipeline stage reports metrics
    from the work it was already doing). The observed values are then
    graded against the oracle — proving the metric channel reports the
    truth, not an approximation of it.

    Scale: observe() metrics are accumulator-style, merged on the
    driver per task — no shuffle, no second scan, works identically on
    a 1000-executor cluster."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("cast(round(l_extendedprice * 100, 0) as bigint)")).alias(
            "price_cents"
        ),
        F.sum((F.col("l_discount") > 0.05).cast("long")).alias("n_discounted"),
    )
    # the action that drives the scan: an unrelated downstream aggregate
    observed.groupBy("l_returnflag").agg(F.count("*")).collect()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["price_cents"], m["n_discounted"])],
        "n_rows long, price_cents long, n_discounted long",
    )


@register(
    "scan_bucket_pruned_lookup",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_orderstatus
        FROM orders WHERE o_orderkey IN (7, 42, 1337)
    """,
)
def scan_bucket_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET pruning for point lookups — the third pruning tier after
    partition dirs and row groups: an equality/IN filter on the bucket
    column lets Spark open only the matching bucket FILES
    (`SelectedBucketsCount: k out of 8` in the scan node, asserted in
    tests/test_r3_ops). At 100 TB, a key lookup on a bucketed fact
    table touches 1/N of the files with zero index structures — the
    poor man's primary index that also pre-paid the join shuffle
    (`sink_parquet_bucketed`). Graded by value round-trip through the
    bucketed write + pruned read."""
    SCRATCH.mkdir(exist_ok=True)
    wh = SCRATCH / "warehouse"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS scratch LOCATION '{wh}'")
    tag = uuid.uuid4().hex[:12]
    o_t = f"scratch.orders_bp_{tag}"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(o_t)
    )
    # the planner's auto-bucketed-scan heuristic drops the bucketed
    # layout when no join/agg needs the distribution — which also drops
    # bucket-filter pruning; pin it on so the point lookup prunes
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    return spark.table(o_t).filter(F.col("o_orderkey").isin(7, 42, 1337))


@register(
    "scan_table_profile",
    oracle="""
        SELECT 'event_id' AS col_name,
               COUNT(*) - COUNT(event_id) AS n_nulls,
               COUNT(DISTINCT event_id) AS n_distinct,
               CAST(MIN(event_id) AS VARCHAR) AS min_repr,
               CAST(MAX(event_id) AS VARCHAR) AS max_repr
        FROM events
        UNION ALL
        SELECT 'user_id', COUNT(*) - COUNT(user_id),
               COUNT(DISTINCT user_id),
               CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
        FROM events
        UNION ALL
        SELECT 'event_type', COUNT(*) - COUNT(event_type),
               COUNT(DISTINCT event_type), MIN(event_type), MAX(event_type)
        FROM events
        UNION ALL
        SELECT 'value_cents', COUNT(*) - COUNT(value),
               COUNT(DISTINCT CAST(round(value * 100, 0) AS BIGINT)),
               CAST(MIN(CAST(round(value * 100, 0) AS BIGINT)) AS VARCHAR),
               CAST(MAX(CAST(round(value * 100, 0) AS BIGINT)) AS VARCHAR)
        FROM events
        UNION ALL
        SELECT 'ts', COUNT(*) - COUNT(ts), COUNT(DISTINCT ts),
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S'),
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S')
        FROM events
    """,
)
def scan_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PASS TABLE PROFILER: null count, exact distinct count, and
    typed min/max for every events column, emitted as one row per
    column — the ANALYZE/data-quality summary a catalog publishes next
    to each table.

    All 20 statistics come from a SINGLE aggregate over one scan
    (Spark evaluates the multi-distinct agg with one expand, still one
    pass over the data), then a codegen ``stack`` unpivots the 1-row
    summary into the per-column report — the oracle's 5-scan UNION is
    the semantics spec, not the plan. Representations are explicitly
    typed (ints as strings, doubles as exact cents, timestamps
    second-formatted) so min/max compare numerically, never
    lexicographically, and hash identically across engines.
    """
    ev = load_table(spark, sf_dir, "events")
    cents_v = F.round(F.col("value") * 100, 0).cast("long")
    a = ev.agg(
        F.count("*").alias("n"),
        F.count("event_id").alias("c_eid"),
        F.countDistinct("event_id").alias("d_eid"),
        F.min("event_id").cast("string").alias("mn_eid"),
        F.max("event_id").cast("string").alias("mx_eid"),
        F.count("user_id").alias("c_uid"),
        F.countDistinct("user_id").alias("d_uid"),
        F.min("user_id").cast("string").alias("mn_uid"),
        F.max("user_id").cast("string").alias("mx_uid"),
        F.count("event_type").alias("c_et"),
        F.countDistinct("event_type").alias("d_et"),
        F.min("event_type").alias("mn_et"),
        F.max("event_type").alias("mx_et"),
        F.count("value").alias("c_v"),
        F.countDistinct(cents_v).alias("d_v"),
        F.min(cents_v).cast("string").alias("mn_v"),
        F.max(cents_v).cast("string").alias("mx_v"),
        F.count("ts").alias("c_ts"),
        F.countDistinct("ts").alias("d_ts"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("mn_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("mx_ts"),
    )
    return a.selectExpr(
        "stack(5,"
        " 'event_id', n - c_eid, d_eid, mn_eid, mx_eid,"
        " 'user_id', n - c_uid, d_uid, mn_uid, mx_uid,"
        " 'event_type', n - c_et, d_et, mn_et, mx_et,"
        " 'value_cents', n - c_v, d_v, mn_v, mx_v,"
        " 'ts', n - c_ts, d_ts, mn_ts, mx_ts)"
        " AS (col_name, n_nulls, n_distinct, min_repr, max_repr)"
    )


def write_ts_sorted(ev, path: str, n_files: int = 4) -> None:
    """Range-cluster events on ts and sort within partitions before the
    parquet write — every row group's ts min/max stats become tight,
    non-overlapping ranges, which is what lets scan-side predicate
    pushdown skip whole row groups (shared by the graded key and the
    layout-tightness unit test)."""
    (
        ev.repartitionByRange(n_files, "ts")
        .sortWithinPartitions("ts")
        .write.parquet(path)
    )


@register(
    "sink_sorted_rowgroup_prune",
    oracle="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS value_cents
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-11 00:00:00'
        GROUP BY event_type
    """,
)
def sink_sorted_rowgroup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORT-ON-WRITE layout: events are range-clustered on ts
    (repartitionByRange + sortWithinPartitions) before the parquet
    write, then a one-day point query runs against the written layout —
    the single-key complement to `sort_zorder_cluster` (multi-column)
    and the cheapest 100 TB lever there is: with ts-ordered row groups,
    the min/max footer stats of all but ~1/30th of the data exclude the
    predicate, so the scan skips whole row groups and files
    (tests/test_r3c_ops.py asserts the written stats are tight and
    non-overlapping via pyarrow metadata).

    Graded exactly: the read-back day aggregate must equal the oracle's
    answer over the original table — layout changes must never change
    answers, only cost.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    out = str(SCRATCH / f"ts_sorted_{uuid.uuid4().hex[:12]}")
    write_ts_sorted(ev, out)
    back = spark.read.parquet(out)
    day = back.filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-11 00:00:00").cast("timestamp_ntz"))
    )
    return day.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
            "value_cents"
        ),
    )


@register(
    "scan_agg_pushdown_footer",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               MIN(l_partkey) AS min_partkey,
               MAX(l_partkey) AS max_partkey,
               MIN(l_linenumber) AS min_line,
               MAX(l_linenumber) AS max_line
        FROM lineitem
    """,
)
def scan_agg_pushdown_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARQUET AGGREGATE PUSHDOWN: COUNT/MIN/MAX answered from parquet
    FOOTER STATISTICS instead of scanning row data
    (`spark.sql.parquet.aggregatePushdown` — the plan shows
    `PushedAggregation` and reads zero data pages; the unit test
    asserts the marker). At 100 TB this turns full-table health checks
    (row counts, key ranges) from an hours-long scan into a
    metadata-only operation — the same class of win as partition/
    bucket/row-group pruning, applied to aggregates.

    The pushdown only fires for whole-file aggregates over supported
    types with no filter — exactly this query's shape; the DuckDB
    oracle computes the same answer the slow way, proving the
    footer-derived values are the true ones.

    Concurrency caveat (ADVICE r3): the V2-source/pushdown confs are
    session-scoped, flipped here and restored in ``finally``. This
    assumes the SINGLE-THREADED driver the grading harness (and every
    job in this repo) uses — another driver thread planning a query
    inside this window would silently take the V2 source path. A
    multi-tenant driver should instead scope the flip with
    ``SparkSession.newSession()`` (separate conf, shared context);
    kept single-session here because the graded surface guarantees one
    query at a time and a second session would double the catalog/conf
    surface the plan audit inspects.
    """
    import contextlib
    import io

    # The pushdown lives in the DataSource V2 parquet reader; scope both
    # confs to THIS key (execute eagerly, then restore) so every other
    # key keeps its audited V1 plan shape.
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    old_pd = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        li = spark.read.parquet(f"{sf_dir.rstrip('/')}/lineitem.parquet")
        agg = li.agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_partkey"),
            F.max("l_partkey").alias("max_partkey"),
            F.min("l_linenumber").alias("min_line"),
            F.max("l_linenumber").alias("max_line"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain("formatted")
        if "PushedAggregation: [" not in buf.getvalue():
            raise AssertionError(
                "parquet aggregate pushdown did not engage (no "
                "PushedAggregation in the V2 scan plan)"
            )
        # Materialize under the V2 confs (1 row) so the values really
        # come from the footer path even though confs are restored
        # before the driver executes the returned frame.
        return agg.transform(checkpoint_df)
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_pd)


# --------------------------------- hidden file-metadata cols (round 4)


@register(
    "scan_file_metadata_cols",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_rows,
               CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT)
                 AS n_days
        FROM events GROUP BY event_type
    """,
)
def scan_file_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN FILE-METADATA COLUMNS (`_metadata.file_path` /
    `file_name` / `file_size`): write the events to a
    partitioned layout, then answer a per-partition audit purely from
    the files' OWN metadata column — the lineage/debugging surface
    ('which file did this row come from, and is any file
    short-changed?') that every ingest incident investigation starts
    with.

    The partition value is recovered by parsing `_metadata.file_path`
    (NOT by reading the event_type data column — the test of this key
    is that file-derived values agree with data-derived values), and
    the per-type row counts from that parse must equal the original
    table's group counts, which is exactly what the oracle states.
    `_metadata` is populated by the scan itself with zero extra I/O; at
    100 TB this audit touches footers + row counts only.
    """
    import uuid as _uuid

    ev = load_table(spark, sf_dir, "events")
    run_dir = SCRATCH / f"metacols_{_uuid.uuid4().hex[:12]}"
    (
        ev.repartition("event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(str(run_dir))
    )
    back = spark.read.parquet(str(run_dir)).select(
        F.regexp_extract(
            F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1
        ).alias("event_type"),
        F.col("_metadata.file_size").alias("fsize"),
        F.date_trunc("day", "ts").alias("day"),
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("day").cast("long").alias("n_days"),
    )


@register(
    "sink_parquet_zstd",
    oracle="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS value_cents
        FROM events GROUP BY event_type
    """,
)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZSTD-compressed parquet round-trip: write the events fact with
    `compression=zstd`, read it back, aggregate — graded by the same
    write→read-back→oracle contract as every sink key, so a codec that
    corrupted or dropped anything fails the value hash. zstd is the
    modern archival default (snappy-class decode speed at gzip-class
    ratio, splittable inside parquet's row groups by construction) and
    the 100 TB storage-bill lever: same plan, ~35% fewer bytes scanned
    than snappy on text-heavy facts.
    """
    import uuid as _uuid

    ev = load_table(spark, sf_dir, "events")
    out = str(SCRATCH / f"zstd_{_uuid.uuid4().hex[:12]}")
    ev.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )


@register(
    "scan_cache_reuse",
    oracle="""
        WITH f AS (
            SELECT l_orderkey,
                   CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
            FROM lineitem WHERE l_discount >= 0.05),
        a AS (SELECT COUNT(*) AS n_rows,
                     CAST(SUM(cents) AS BIGINT) AS total_cents
              FROM f),
        b AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM f)
        SELECT a.n_rows, a.total_cents, CAST(b.n_orders AS BIGINT)
                 AS n_orders
        FROM a CROSS JOIN b
    """,
)
def scan_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHED-RELATION REUSE: one filtered projection of the fact is
    `.cache()`d and two different aggregations read it — the second
    consumer scans the in-memory columnar store
    (InMemoryTableScan in both plans), not parquet, which is the
    interactive-analytics pattern for a working set queried many
    times. The cache is eagerly populated (count) and EXPLICITLY
    unpersisted in `finally` — a leaked cache silently eats executor
    storage memory for the rest of the session.

    Scale note: caching pays off only when re-reads exceed the
    materialization cost; at 100 TB the same intent is served by
    writing the working set as a temp table / using storage-level
    DISK_ONLY — the plan shape (shared InMemoryRelation) is identical.
    """
    from mediaplaycounts_spark.queries._helpers import cents

    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_discount") >= 0.05).select(
        "l_orderkey", cents("l_extendedprice").alias("cents")
    )
    f = f.cache()
    try:
        f.count()  # eager population
        a = f.agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        b = f.agg(F.count_distinct("l_orderkey").alias("n_orders"))
        out = a.crossJoin(F.broadcast(b)).select(
            "n_rows", "total_cents", F.col("n_orders").cast("long")
            .alias("n_orders")
        )
        rows = out.collect()
    finally:
        f.unpersist()
    return spark.createDataFrame(
        rows, "n_rows long, total_cents long, n_orders long"
    )


_CATSNAP_FIXTURE = str(
    pathlib.Path(FIXTURE_DIR).parent / "categorymembers" / "recorded.jsonl"
)


@register(
    "scan_category_snapshot",
    oracle=f"""
        WITH RECURSIVE edges AS (
          SELECT category AS parent, m.ns AS ns, m.title AS title
          FROM (
            SELECT category, unnest(response.query.categorymembers) AS m
            FROM read_json('{_CATSNAP_FIXTURE}',
                columns={{'category':'VARCHAR',
                         'response':'STRUCT(query STRUCT(categorymembers
                             STRUCT(pageid BIGINT, ns BIGINT,
                                    title VARCHAR)[]))'}},
                format='newline_delimited', ignore_errors=true)
          )
        ), reach AS (
          SELECT 'Category:Root' AS cat
          UNION
          SELECT e.title FROM edges e
          JOIN reach r ON e.parent = r.cat AND e.ns = 14
        )
        SELECT DISTINCT 'Category:Root' AS category,
               regexp_replace(e.title, '^File:', '') AS file
        FROM edges e JOIN reach r ON e.parent = r.cat
        WHERE e.ns = 6
    """,
)
def scan_category_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORY SNAPSHOT INGEST (REF GetData::category_*, VERDICT r4
    missing #2): recorded MediaWiki ``categorymembers`` JSONL ->
    flat (root category, member file) membership table — the producer
    of the snapshot `join_semi_membership` / the serving API consume.

    The reference walks the live API recursively per REQUEST;
    here the recursion happens ONCE at snapshot-build time as bounded
    BFS over the recorded (parent -> member) edge table
    (`ingest/categories.py`): typed `from_json` (no schema inference on
    untrusted recordings, corrupt lines dropped), subcategory descent
    via per-round broadcast semi-joins with a visited-set cycle guard
    (Commons category graphs contain real cycles — the fixture plants
    Root <- Deep), ``cmcontinue`` pagination handled by construction
    (a continued page is just another JSONL line). The DuckDB oracle
    replays the same closure as a recursive CTE with UNION-distinct
    fixpoint semantics.

    Scale: the edge table shuffles once; each BFS round joins a tiny
    broadcast frontier against it, depth-capped — request-time category
    resolution becomes a broadcast semi-join against this table.
    """
    from mediaplaycounts_spark.ingest.categories import (
        build_membership_snapshot,
    )

    return build_membership_snapshot(
        spark, _CATSNAP_FIXTURE, "Category:Root", max_depth=5
    )


# ------------------------------------------- end-to-end daily product loop

#: All three committed dump days — days 1-2 clean, day 3 contains one
#: corrupt-value line ("oops" in total_transfers) and one truncated line.
ALL_DAYS_GLOB = f"{FIXTURE_DIR}/mediacounts.2024-01-0[123].v00.tsv"

#: Probe titles for the serving read-back: two real files (multi-day
#: series + one zero-filled day past the data) and the file whose
#: ONLY appearance is day 3's truncated line — its all-zero series is
#: the end-to-end proof that corrupt routing kept it out of the store.
_E2E_PROBES = ("Accordion solo.ogg", "Dance clip.webm", "Truncated.webm")

_E2E_DAILY_SQL = f"""
    WITH lines AS (
        SELECT line, filename
        FROM read_csv('{ALL_DAYS_GLOB}', delim=chr(1), header=false,
                      columns={{'line': 'VARCHAR'}}, filename=true)
    ),
    fields AS (
        SELECT string_split(line, chr(9)) AS f, filename FROM lines
    ),
    clean AS (
        -- The ingest's malformed-line rule (mediacounts.read_raw): a row
        -- is malformed iff it does not have exactly 26 fields or any LONG
        -- column holds a non-numeric token (day 3's "oops"/truncated
        -- lines). Empty LONG fields would be null (not corrupt) on
        -- Spark and signed numerics would parse — both diverge from
        -- this ^[0-9]+$ guard, so the fixture must contain neither:
        -- pinned by test_e2e_daily_ingest.py::
        -- test_fixture_long_fields_never_diverge_spark_vs_oracle.
        SELECT f, filename FROM fields
        WHERE len(f) = 26
          AND regexp_matches(f[2], '^[0-9]+$')
          AND regexp_matches(f[3], '^[0-9]+$')
          AND regexp_matches(f[4], '^[0-9]+$')
          AND regexp_matches(f[17], '^[0-9]+$')
          AND regexp_matches(f[19], '^[0-9]+$')
    ),
    plays AS (
        SELECT replace(regexp_extract(f[1], '([^/]+)$', 1), '%20', ' ') AS file,
               CAST(regexp_extract(filename,
                    'mediacounts\\.(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1) AS DATE) AS d,
               CAST(SUM(CAST(f[4] AS BIGINT) + CAST(f[17] AS BIGINT)
                        + CAST(f[19] AS BIGINT)) AS BIGINT) AS count
        FROM clean
        WHERE regexp_matches(lower(f[1]), '\\.(ogg|oga|ogv|webm|wav|flac|mid)$')
        GROUP BY file, d
    ),
    probe(file) AS (VALUES {", ".join(f"('{p}')" for p in _E2E_PROBES)}),
    spine AS (
        SELECT p.file, CAST(gs.g AS DATE) AS date
        FROM probe p CROSS JOIN (
            SELECT unnest(generate_series(DATE '2024-01-01',
                          DATE '2024-01-04', INTERVAL 1 DAY)) AS g) gs
    )
    SELECT s.file, CAST(s.date AS TIMESTAMP) AS date,
           CAST(COALESCE(pl.count, 0) AS BIGINT) AS count
    FROM spine s LEFT JOIN plays pl ON pl.file = s.file AND pl.d = s.date
"""


@register("pipeline_e2e_daily_ingest", oracle=_E2E_DAILY_SQL,
          tags=("pipeline", "e2e", "ingest"))
def pipeline_e2e_daily_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference's complete product loop as ONE graded lineage
    (REF LogProcessor daily cron -> MySQL -> GetData API, SURVEY.md
    §3.1-§3.2): raw multi-day dump scan -> corrupt-line routing to the
    error sink (REF ErrorLog) -> parse (extension whitelist, URL
    decode, plays = cols 3+16+18) -> per-(file, date) aggregation ->
    IDEMPOTENT day-partitioned store (day 1 loaded once, then the full
    3-day re-run overwrites it in place — the reference's per-date
    DELETE+INSERT) -> serving-table read-back -> the API's zero-filled
    `date_range` series for three probe titles.

    What only the composition can prove: (a) the corrupt day-3 rows
    never reach the serving store — probe 3 ("Truncated.webm", whose
    sole appearance is the truncated line) comes back as an all-zero
    series; (b) the double write is idempotent under dynamic partition
    overwrite — day 1 is loaded twice yet counts once; (c) the span
    extends one day past the data, so zero-fill is value-checked at
    the API boundary, not just in unit tests.

    Scale: identical posture to the per-stage keys it composes — one
    map-side-combined (file, date) aggregation is the only shuffle on
    the write path; the serving read is partition-pruned per API query
    (asserted in tests/test_api_serving.py); each probe series is the
    API's own payload — one pruned read, zero-filled on the driver —
    so the returned frame is the three payloads as a local table.
    100 TB = more days and files, same plan.
    """
    import datetime as dt

    from mediaplaycounts_spark.api.playcounts import date_range, to_api_payload
    from mediaplaycounts_spark.api.serving import read_serving_parquet
    from mediaplaycounts_spark.session import configure

    configure(spark)  # dynamic partition overwrite for the re-run step
    SCRATCH.mkdir(exist_ok=True)
    out = str(SCRATCH / f"e2e_daily_{uuid.uuid4().hex[:12]}")
    errs = str(SCRATCH / f"e2e_errlog_{uuid.uuid4().hex[:12]}")

    raw = read_raw(spark, ALL_DAYS_GLOB)
    # corrupt_records caches the day's narrow projection (raw line if
    # malformed, date, file, plays); parse_raw below reads that SAME
    # cache, so one pass over the raw dumps feeds both sinks (at 100 TB
    # a second raw scan is the whole day's I/O again).
    corrupt_records(raw).write.mode("overwrite").json(errs)

    pc = parse_raw(raw).groupBy("file", "date").agg(F.sum("plays").alias("count"))
    write_daily(pc.filter(F.col("date") == "2024-01-01"), out)  # initial day-1 load
    write_daily(pc, out)  # nightly re-run: replaces day 1 in place, adds days 2-3

    serving = read_serving_parquet(spark, out)
    rows = [
        (p, dt.datetime.fromisoformat(day), n)
        for p in _E2E_PROBES
        for day, n in to_api_payload(
            date_range(serving, p, "2024-01-01", "2024-01-04")
        )["counts"]
    ]
    return spark.createDataFrame(rows, "file string, date timestamp_ntz, count long")
