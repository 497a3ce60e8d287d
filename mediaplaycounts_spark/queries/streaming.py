"""§2.G Streaming operators (batch twins + real streaming runs).

The driver executes each ``queries()`` callable as a batch DataFrame, so
(per SURVEY.md §2.G) windowed/sessionized keys register their **batch
twin** — the identical windowing expressions over the bounded events
table — while `stream_watermark_late` and `stream_foreachbatch_jdbc`
run REAL Structured Streaming queries to completion
(Trigger.AvailableNow over the bounded replay source) and return the
drained result. Bounded in-order replay makes even those deterministic,
so every key here is SQL-oracled.

Scale notes: tumbling/sliding aggregations are shuffle-once stateful
aggs keyed by (window, type); the watermark bounds state eviction; the
session window uses Spark's native merging-session state store. The
foreachBatch sink is the cron->MySQL replacement: per-micro-batch
idempotent upsert into a serving store.
"""

from __future__ import annotations

import pathlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediaplaycounts_spark.registry import register
from mediaplaycounts_spark.streaming.jobs import (
    read_events_stream,
    rocksdb_state_store,
    run_available_now,
)
from mediaplaycounts_spark.tables import check_events_ts, load_table

SCRATCH = pathlib.Path(__file__).resolve().parents[2] / ".scratch"


@register(
    "stream_tumbling_counts",
    oracle="""
        SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n
        FROM events GROUP BY ws, event_type
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-hour tumbling window — REAL watermarked
    Structured Streaming run drained via AvailableNow (r2 upgrade from
    the batch twin; bounded in-order replay keeps it value-oracled).
    The daily cron of the reference is this with a 24h window."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("ws"), "event_type", "n"
    )


@register(
    "stream_sliding_counts",
    oracle="""
        WITH b AS (
            SELECT time_bucket(INTERVAL '15 minutes', MIN(ts)) AS mn,
                   time_bucket(INTERVAL '15 minutes', MAX(ts)) AS mx
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(mn - INTERVAL '45 minutes', mx,
                                          INTERVAL '15 minutes')) AS ws
            FROM b
        )
        SELECT s.ws, e.event_type, COUNT(*) AS n
        FROM spine s
        JOIN events e ON e.ts >= s.ws AND e.ts < s.ws + INTERVAL '1 hour'
        GROUP BY s.ws, e.event_type
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes (each event in 4 windows)
    — REAL watermarked streaming run drained via AvailableNow (r2
    upgrade from the batch twin). Both engines align slides to the
    epoch (minute-aligned), so window starts agree; the oracle only
    materializes non-empty windows, same as the expand-based plan."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("ws"), "event_type", "n"
    )


@register(
    "stream_session_window",
    oracle="""
        WITH l AS (
            SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
            FROM events
        ),
        f AS (
            SELECT user_id, ts,
                   CASE WHEN pts IS NULL OR ts - pts >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS brk
            FROM l
        ),
        s AS (
            SELECT user_id, ts,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM f
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap — a REAL
    Structured Streaming run (r2 upgrade from the batch twin): the
    events stream is watermarked, sessionized with Spark's native
    merging session-window state store, and drained via AvailableNow in
    complete mode. Bounded in-order replay makes the merge result equal
    the batch sessionization, so the classic lag+cumsum oracle still
    value-checks it. Boundary semantics: a gap of exactly 30 minutes
    starts a NEW session (session end = last_ts + gap, exclusive),
    hence >= in the oracle. Runs under the RocksDB state-store scope —
    merging session state is the highest-cardinality state shape here
    and the first to overflow a heap-backed store at scale.
    """
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    with rocksdb_state_store(spark):
        out = run_available_now(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        "n_events",
    )


@register(
    "stream_watermark_late",
    oracle="""
        SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n
        FROM events GROUP BY ws
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: watermarked hourly counts over bounded replay.

    withWatermark('2 hours') bounds aggregation state; AvailableNow
    drains the parquet source in order, so nothing is actually late and
    the result equals the batch aggregate — which is exactly what the
    oracle asserts. (In production the same query drops events >2h late;
    the replay proves plan + state wiring, the oracle proves values.)
    """
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    result = run_available_now(agg, output_mode="complete")
    return result.select(
        F.col("w.start").cast("timestamp_ntz").alias("ws"), "n"
    )


@register(
    "stream_dedup_stateful",
    oracle="""
        SELECT user_id,
               COUNT(DISTINCT date_trunc('day', ts)) AS n_active_days
        FROM events GROUP BY user_id
    """,
)
def stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful streaming dedup (r2 upgrade from the batch twin):
    withWatermark + dropDuplicates(['user_id','day']) keeps only the
    first occurrence per key within the watermark horizon —
    state-bounded exactly-once dedup — drained in append mode, then the
    tiny distinct (user, day) output is re-aggregated batch-side into
    active-day counts the oracle value-checks. Runs under the RocksDB
    state-store scope: dedup state is one entry per distinct key seen
    inside the watermark horizon — heap-fatal at 100 TB, disk-cheap in
    RocksDB."""
    stream = read_events_stream(spark, sf_dir)
    dedup = (
        stream.select("user_id", "ts", F.date_trunc("DAY", "ts").alias("day"))
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["user_id", "day"])
    )
    with rocksdb_state_store(spark):
        out = run_available_now(dedup, output_mode="append")
    return out.groupBy("user_id").agg(F.count("*").alias("n_active_days"))


@register(
    "stream_foreachbatch_jdbc",
    oracle="""
        SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_foreachbatch_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: foreachBatch micro-batch loads to a serving
    store, then re-aggregation on read-back.

    The reference's cron->MySQL daily load becomes: per micro-batch,
    aggregate and append to the serving store (parquet here; the Derby
    JDBC variant is the graded `sink_jdbc` key — same foreachBatch shape
    with df.write.jdbc + staging MERGE in production). Totals across
    micro-batches are re-aggregated on read, so the result is exact
    regardless of how AvailableNow splits batches.
    """
    run_dir = SCRATCH / f"febatch_{uuid.uuid4().hex[:12]}"
    out_dir, ckpt_dir = str(run_dir / "out"), str(run_dir / "ckpt")

    stream = read_events_stream(spark, sf_dir)

    def load_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("n_part"))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        stream.writeStream.foreachBatch(load_batch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(F.sum("n_part").alias("n"))
    )


_UPSERT_MERGE_SQL = (
    'MERGE INTO playcounts t USING staging s '
    'ON t."event_type" = s."event_type" AND t."day_s" = s."day_s" '
    'WHEN MATCHED AND s."seq" >= t."seq" '
    'THEN UPDATE SET "n" = s."n", "seq" = s."seq" '
    'WHEN NOT MATCHED THEN INSERT ("event_type", "day_s", "n", "seq") '
    'VALUES (s."event_type", s."day_s", s."n", s."seq")'
)

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@register(
    "stream_jdbc_upsert",
    oracle="""
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) AS n
        FROM events GROUP BY event_type, day
    """,
)
def stream_jdbc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming foreachBatch UPSERT into a JDBC store (embedded
    Derby) across two CONFLICTING micro-batches — the SURVEY §2.A
    upsert contract (`sink_jdbc` appends; `sink_merge_upsert` proves
    MERGE on parquet; this key wires the two together).

    Deliveries (staged as one file each; maxFilesPerTrigger=1 makes each
    its own micro-batch): delivery 1 (seq=1) is an early snapshot — full
    counts for the first 7 days but only even-event_id rows for days
    8–15 (a partial mid-ingest read); delivery 2 (seq=2) re-delivers
    days 8+ complete. Every (event_type, day) in days 8–15 therefore
    arrives TWICE with different values; the foreachBatch body stages
    the batch aggregate via df.write.jdbc and applies a Derby MERGE
    keyed on (event_type, day) with a monotonic seq guard
    (WHEN MATCHED AND s.seq >= t.seq), so newer values overwrite, stale
    redeliveries are no-ops, and batch-order flips cannot regress the
    table. Grading re-reads the Derby table: the final state must equal
    the full per-(type, day) counts — the DuckDB oracle — which is only
    true if the MERGE update branch actually applied delivery 2 over
    delivery 1's partial rows.

    Scale: this is the production cron→MySQL replacement — per-batch
    bulk stage + one set-based MERGE (no row loop), idempotent under
    retry by (key, seq), exactly the pattern that serves 100 TB rollups
    behind an API.
    """
    run_dir = SCRATCH / f"upsert_{uuid.uuid4().hex[:12]}"
    stage_in = str(run_dir / "in")
    ckpt_dir = str(run_dir / "ckpt")
    db = run_dir / "derby"
    url = f"jdbc:derby:{db};create=true"

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_format(F.date_trunc("DAY", "ts"), "yyyy-MM-dd").alias("day_s"),
        F.to_date(F.date_trunc("DAY", "ts")).alias("d"),
    )
    d0 = ev.agg(F.min("d").alias("d0"))
    ev = ev.crossJoin(F.broadcast(d0)).withColumn(
        "dn", F.datediff("d", "d0")
    )
    delivery1 = ev.filter(
        (F.col("dn") <= 14) & ((F.col("dn") <= 6) | (F.col("event_id") % 2 == 0))
    ).select("event_type", "day_s", F.lit(1).alias("seq"))
    delivery2 = ev.filter(F.col("dn") >= 7).select(
        "event_type", "day_s", F.lit(2).alias("seq")
    )
    # stage each delivery as ONE file so maxFilesPerTrigger=1 replays
    # them as two ordered micro-batches
    delivery1.coalesce(1).write.mode("append").parquet(stage_in)
    delivery2.coalesce(1).write.mode("append").parquet(stage_in)

    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        'CREATE TABLE playcounts ("event_type" VARCHAR(32), '
        '"day_s" VARCHAR(10), "n" BIGINT, "seq" INT)'
    )
    st.close()
    conn.close()

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # aggregate per (key, seq) then keep the newest seq per key, so
        # the MERGE stays correct even if the source ever coalesced both
        # deliveries into one batch
        from pyspark.sql.window import Window as W

        agg = batch_df.groupBy("event_type", "day_s", "seq").agg(
            F.count("*").alias("n")
        )
        newest = (
            agg.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("event_type", "day_s").orderBy(F.desc("seq"))
                ),
            )
            .filter(F.col("rn") == 1)
            .select("event_type", "day_s", "n", "seq")
        )
        (
            newest.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "staging")
            .option("driver", _DERBY_DRIVER)
            .option(
                "createTableColumnTypes",
                "event_type VARCHAR(32), day_s VARCHAR(10)",
            )
            .mode("overwrite")
            .save()
        )
        c = batch_df.sparkSession._jvm.java.sql.DriverManager.getConnection(url)
        s = c.createStatement()
        s.executeUpdate(_UPSERT_MERGE_SQL)
        s.close()
        c.close()

    stream = (
        spark.readStream.schema("event_type string, day_s string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_in)
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "playcounts")
        .option("driver", _DERBY_DRIVER)
        .load()
    )
    return back.select(
        "event_type",
        F.col("day_s").alias("day"),
        F.col("n").cast("long").alias("n"),
    )


@register(
    "stream_stateful_running_totals",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
        FROM events GROUP BY user_id
    """,
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: CUSTOM stateful operator via
    applyInPandasWithState — per-user running (event count, peak value).

    This is the escape hatch for stateful semantics Spark's built-in
    streaming aggregates can't express (arbitrary per-key state machines;
    here a deliberately simple one so the oracle stays exact). State is a
    (count, max) pair per user_id; each micro-batch updates it via an
    Arrow-batched pandas kernel and emits the running totals. Both
    emitted measures are monotone (count increases, max is a lattice
    join), so re-aggregating the update-mode emissions with MAX yields
    the exact final state regardless of how AvailableNow splits batches
    — and MAX of existing doubles is FP-exact, no summation-order games.

    Scale: state lives in the executor state store partitioned by
    user_id (one shuffle), and the run executes under the ROCKSDB
    provider (`rocksdb_state_store` scope) — per-key state pages to
    executor disk with incremental checkpoints instead of living on the
    JVM heap, which is what survives a 100-TB-scale key cardinality; in
    production a TTL/timeout would evict idle keys — bounded replay
    needs none.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    updates = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id long, n_events long, max_value double",
            "n long, mx double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    with rocksdb_state_store(spark):
        drained = run_available_now(updates, output_mode="update")
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
    )


#: Static dim for the stream-static join: engagement weight per type.
_TYPE_WEIGHTS = (
    ("view", 1),
    ("click", 3),
    ("signup", 5),
    ("purchase", 10),
    ("error", 0),
)


@register(
    "stream_join_static_dim",
    oracle="""
        WITH w(event_type, weight) AS (VALUES
            ('view', 1), ('click', 3), ('signup', 5),
            ('purchase', 10), ('error', 0))
        SELECT date_trunc('day', e.ts) AS ws, e.event_type,
               COUNT(*) AS n,
               CAST(COUNT(*) * w.weight AS BIGINT) AS weighted_n
        FROM events e JOIN w ON e.event_type = w.event_type
        GROUP BY ws, e.event_type, w.weight
    """,
)
def stream_join_static_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events STREAM joins a static
    engagement-weight dim (broadcast — static side never re-scans per
    micro-batch), then aggregates per tumbling day. This is a REAL
    Structured Streaming run drained via Trigger.AvailableNow, not a
    batch twin — stream-static inner joins are stateless, so the
    result is exactly the batch join and stays SQL-oracled.

    At 100 TB the static side is the slowly-changing dim snapshot
    (category membership, user attributes); stateless enrichment adds
    ZERO state-store footprint, unlike stream-stream joins."""
    dim = spark.createDataFrame(list(_TYPE_WEIGHTS), "event_type string, weight int")
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type", "weight")
        .agg(F.count("*").alias("n"))
    )
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        F.col("w.start").alias("ws"),
        "event_type",
        "n",
        (F.col("n") * F.col("weight")).cast("long").alias("weighted_n"),
    )


@register(
    "stream_stream_join",
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               c.user_id,
               CAST(date_diff('second', c.ts, p.ts) AS BIGINT)
                 AS secs_to_purchase
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: the clicks STREAM joins the
    purchases STREAM on user_id with a 1-hour event-time band, both
    sides watermarked so the state store evicts clicks older than the
    bound — a REAL AvailableNow run drained in append mode (inner
    interval joins emit exactly the batch result on bounded replay,
    so the key stays SQL-oracled against a batch self-join).

    At 100 TB this is the attribution pipeline's online form: state
    per side is bounded by watermark x arrival rate, keyed by user_id
    (near-uniform); the time-band predicate is what keeps the join
    from being an unbounded cross of the two streams."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("t_click"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("t_purchase"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("t_purchase") >= F.col("t_click"))
        & (F.col("t_purchase") <= F.col("t_click") + F.expr("interval 1 hour")),
    )
    out = run_available_now(joined, output_mode="append")
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_click")
        ).cast("bigint").alias("secs_to_purchase"),
    )


@register(
    "stream_python_datasource",
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
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python data source (Spark 4 SimpleDataSourceStreamReader):
    a calendar tick source implemented in pure Python — offset
    management (`initialOffset`/`read`/`readBetweenOffsets` for
    replay) — consumed through `spark.readStream.format(...)` and
    drained with Trigger.AvailableNow. The bounded source reports all
    available ticks per poll, so the drain is deterministic and the
    key stays SQL-oracled.

    This is the streaming twin of `scan_python_datasource`: the same
    extension point when the feed is a live API/queue with no JVM
    connector. Offsets checkpoint like any source — `readBetweenOffsets`
    is what makes micro-batch replay exactly-once."""
    import datetime as dt

    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    n_days = 365
    t0 = dt.date(2024, 1, 1)

    class CalReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"idx": 0}

        def read(self, start):
            s = int(start["idx"])
            rows = [(t0 + dt.timedelta(days=i), i) for i in range(s, n_days)]
            return iter(rows), {"idx": n_days}

        def readBetweenOffsets(self, start, end):
            return iter(
                (t0 + dt.timedelta(days=i), i)
                for i in range(int(start["idx"]), int(end["idx"]))
            )

    class CalStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "pycalendar_stream"

        def schema(self):
            return "day date, day_idx bigint"

        def simpleStreamReader(self, schema):
            return CalReader()

    spark.dataSource.register(CalStreamSource)
    cal = spark.readStream.format("pycalendar_stream").load()
    agg = cal.groupBy(
        F.date_trunc("MONTH", "day").cast("date").alias("month")
    ).agg(F.count("*").alias("n_days"), F.sum("day_idx").alias("sum_idx"))
    return run_available_now(agg, output_mode="complete")


@register(
    "stream_restart_idempotent",
    oracle="""
        SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_restart_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run, TWICE on one checkpoint: the second
    AvailableNow start finds the source exhausted in the checkpoint's
    offset log and writes ZERO new rows — exactly-once across restarts,
    proven by the oracle equality (a duplicated replay would double
    every count). This is the property that makes the daily-cron
    replacement safe to re-run after a crash: the parquet sink +
    checkpoint pair, not the operator, carries the idempotence.

    At 100 TB: same shape with a cloud checkpoint location; restart
    cost is reading the offset log, not rescanning the source."""
    run_dir = SCRATCH / f"restart_{uuid.uuid4().hex[:12]}"
    out_dir, ckpt_dir = str(run_dir / "out"), str(run_dir / "ckpt")

    for _ in range(2):  # initial run + restart on the same checkpoint
        q = (
            read_events_stream(spark, sf_dir)
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "stream_watermark_late_drop",
    oracle="""
        WITH m AS (SELECT MAX(ts) - INTERVAL 2 HOURS AS wm FROM events)
        SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n
        FROM events, m
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm
        GROUP BY ws
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL late-data DROP, demonstrated: two checkpointed AvailableNow
    runs. Run 1 ingests the events file; its final watermark
    (max ts − 2 h) persists in the checkpoint. Between runs a second
    file arrives whose every row is 10 DAYS older than the watermark;
    run 2 restores the watermark, drops all of it, and (append mode)
    emits exactly the closed windows of the on-time data. The oracle is
    the batch equivalent of that semantics: hourly counts of windows
    whose end <= max(ts) − 2 h — had one late row leaked into the
    state, the overlapping January windows would be inflated and the
    equality would fail. (stream_watermark_late proves plan+state
    wiring on in-order replay; THIS key proves the eviction semantics.)

    Deterministic by construction: cross-run checkpoint restore, not
    intra-run file listing order, decides what is late."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    run_dir = SCRATCH / f"latedrop_{uuid.uuid4().hex[:12]}"
    src, out_dir, ckpt = run_dir / "src", str(run_dir / "out"), str(run_dir / "ckpt")
    src.mkdir(parents=True)

    a_tbl = pq.read_table(f"{sf_dir.rstrip('/')}/events.parquet")
    pq.write_table(a_tbl, src / "a.parquet")

    schema = spark.read.parquet(str(src / "a.parquet")).schema
    check_events_ts(schema)

    def run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # ingests on-time data; watermark = max(ts) - 2h persisted
    i = a_tbl.schema.get_field_index("ts")
    late = pc.subtract(a_tbl.column("ts"), pa.scalar(dt.timedelta(days=10)))
    pq.write_table(a_tbl.set_column(i, "ts", late), src / "b.parquet")
    run_once()  # restores watermark; every b row is late -> dropped

    return (
        spark.read.parquet(out_dir)
        .groupBy(F.col("ws").cast("timestamp_ntz").alias("ws"))
        .agg(F.sum("n").alias("n"))
    )


@register(
    "stream_stream_left_outer",
    oracle="""
        WITH c AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
             p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             wm AS (SELECT least((SELECT MAX(ts) FROM c),
                                 (SELECT MAX(ts) FROM p))
                           - INTERVAL 2 HOUR AS w),
             j AS (SELECT c.event_id AS click_id, c.user_id,
                          c.ts AS t_click, p.event_id AS purchase_id
                   FROM c JOIN p ON c.user_id = p.user_id
                     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
        SELECT click_id, user_id, purchase_id, CAST(1 AS BIGINT) AS matched
        FROM j
        UNION ALL
        SELECT c.event_id, c.user_id, CAST(NULL AS BIGINT),
               CAST(0 AS BIGINT)
        FROM c, wm
        WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.click_id = c.event_id)
          AND c.ts + INTERVAL 1 HOUR < wm.w
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the semantics inner
    joins hide: an unmatched click can only be emitted (with NULL
    purchase) once the watermark proves no matching purchase can still
    arrive, i.e. when the global watermark (min of both streams' max
    event time − 2 h delay) passes the click's join-window upper bound
    (t_click + 1 h). Clicks newer than that cutoff are CORRECTLY
    withheld — on an unbounded stream they would emit later; on bounded
    replay they never do, and the oracle mirrors exactly that cutoff
    (`c.ts + 1 hour < min(max_c, max_p) − 2 hours`). This key grades
    the eviction boundary itself, the part of outer streaming joins
    that silently drops or double-counts rows when misconfigured.

    State per side is bounded by watermark × arrival rate, keyed by
    user_id — same scale shape as `stream_stream_join`."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("t_click"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("t_purchase"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("t_purchase") >= F.col("t_click"))
        & (F.col("t_purchase") <= F.col("t_click") + F.expr("interval 1 hour")),
        "left_outer",
    )
    out = run_available_now(joined, output_mode="append")
    return out.select(
        "click_id",
        "user_id",
        "purchase_id",
        F.col("purchase_id").isNotNull().cast("bigint").alias("matched"),
    )


@register(
    "stream_statestore_reader",
    oracle="""
        SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n
        FROM events GROUP BY ws, event_type
    """,
)
def stream_statestore_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER (Spark 4 `statestore` data source): run the
    watermarked hourly aggregation as a REAL streaming job, then open
    its checkpoint's state store as a DataFrame and grade THE STATE
    ITSELF against the batch oracle — the observability surface every
    production streaming pipeline eventually needs (debugging skewed
    state, validating migrations, auditing what a stateful operator
    actually holds). The state rows (key.window, key.event_type,
    value.count) must equal the logical aggregation exactly; any
    state-encoding or eviction bug shows up as a value mismatch here
    even when the sink output happens to look right.

    Scale: the reader scans state files partition-parallel (one task
    per state partition) without touching the running query."""
    run_dir = SCRATCH / f"ssreader_{uuid.uuid4().hex[:12]}"
    ckpt = str(run_dir / "ckpt")
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = f"ss_{uuid.uuid4().hex[:12]}"
    with rocksdb_state_store(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # the reader detects the checkpoint's provider from its metadata —
    # this now reads ROCKSDB state files, proving the observability
    # surface survives the provider swap
    st = spark.read.format("statestore").load(ckpt)
    return st.select(
        F.col("key.window.start").cast("timestamp_ntz").alias("ws"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
    )


@register(
    "stream_maxfiles_incremental",
    oracle="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS value_cents,
               TRUE AS multi_batch
        FROM events GROUP BY event_type
    """,
)
def stream_maxfiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited incremental backfill: the events table is laid out
    as FOUR parquet files and drained through a file-source stream with
    ``maxFilesPerTrigger=1`` under Trigger.AvailableNow — so the
    engine provably processes the backlog as MULTIPLE micro-batches
    (the knob that keeps a 100 TB backfill from loading everything
    into one giant batch), while stateful aggregation carries counts
    across batches to the identical final answer.

    The ``multi_batch`` output column is computed from the query's own
    progress telemetry (>= 2 data-carrying micro-batches observed); the
    oracle asserts TRUE, so a silent fallback to single-batch
    processing is a driver-visible value mismatch, and the per-type
    counts/cents grade the cross-batch state exactly.
    """
    from mediaplaycounts_spark.tables import load_table as _lt

    ev = _lt(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    src = SCRATCH / f"maxfiles_src_{uuid.uuid4().hex[:12]}"
    ev.repartition(4).write.parquet(str(src))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
            "value_cents"
        ),
    )
    name = f"mpc_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_data_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    return spark.table(name).withColumn(
        "multi_batch", F.lit(bool(n_data_batches >= 2))
    )


@register(
    "stream_update_mode_final",
    oracle="""
        SELECT event_type, COUNT(*) AS n
        FROM events GROUP BY event_type
    """,
)
def stream_update_mode_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode, graded at the fixed point: the backlog is
    split into multiple micro-batches (4-file source,
    maxFilesPerTrigger=1), the streaming count aggregation emits ONLY
    changed keys per batch into the memory sink, and the final answer
    is recovered as MAX(n) per key over the accumulated update log —
    counts are monotone under updates, so the fixed point equals the
    batch answer, which the oracle asserts exactly.

    This is the mode a serving upsert consumes (emit deltas, not the
    world); `stream_maxfiles_incremental` grades complete-mode state,
    this grades the update-stream view of the same state machine. The
    MAX-per-key fold is itself order-independent, so nondeterministic
    batch boundaries (which rows land in which file) cannot change the
    graded output.
    """
    from mediaplaycounts_spark.tables import load_table as _lt

    ev = _lt(spark, sf_dir, "events").select("event_id", "event_type")
    src = SCRATCH / f"updmode_src_{uuid.uuid4().hex[:12]}"
    ev.repartition(4).write.parquet(str(src))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    name = f"mpc_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    log = spark.table(name)
    return log.groupBy("event_type").agg(F.max("n").alias("n"))


@register(
    "stream_stream_full_outer",
    oracle="""
        WITH c AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
             p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             wm AS (SELECT least((SELECT MAX(ts) FROM c),
                                 (SELECT MAX(ts) FROM p))
                           - INTERVAL 2 HOUR AS w),
             j AS (SELECT c.event_id AS click_id, c.user_id,
                          p.event_id AS purchase_id, p.user_id AS p_uid
                   FROM c JOIN p ON c.user_id = p.user_id
                     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
        SELECT click_id, user_id, purchase_id,
               CAST(1 AS BIGINT) AS matched
        FROM j
        UNION ALL
        SELECT c.event_id, c.user_id, CAST(NULL AS BIGINT),
               CAST(0 AS BIGINT)
        FROM c, wm
        WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.click_id = c.event_id)
          AND c.ts + INTERVAL 1 HOUR < wm.w
        UNION ALL
        SELECT CAST(NULL AS BIGINT), p.user_id, p.event_id,
               CAST(0 AS BIGINT)
        FROM p, wm
        WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.purchase_id = p.event_id)
          AND p.ts < wm.w
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — BOTH eviction
    boundaries graded at once: an unmatched click emits (NULL purchase)
    when the watermark passes t_click + 1h (its join window's upper
    bound), and an unmatched purchase emits (NULL click) when the
    watermark passes t_purchase itself (no click at-or-before it can
    still arrive; the range condition is asymmetric, so the two sides
    evict at DIFFERENT offsets — exactly the subtlety that silently
    drops rows when an outer streaming join is misconfigured). Rows
    newer than their cutoff are correctly withheld on bounded replay,
    and the oracle mirrors both cutoffs against the global watermark
    (min of the two streams' max event time − 2h).

    Completes the stream-stream matrix with `stream_stream_join`
    (inner) and `stream_stream_left_outer`; state per side is
    watermark-bounded, keyed by user_id."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("t_click"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("t_purchase"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("t_purchase") >= F.col("t_click"))
        & (F.col("t_purchase") <= F.col("t_click") + F.expr("interval 1 hour")),
        "full_outer",
    )
    out = run_available_now(joined, output_mode="append")
    return out.select(
        "click_id",
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "purchase_id",
        (
            F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull()
        ).cast("bigint").alias("matched"),
    )
