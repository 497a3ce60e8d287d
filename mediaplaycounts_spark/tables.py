"""Table loaders for the driver-provided parquet testdata.

All graded queries load through :func:`load_table` so two invariants
hold in exactly one place (SURVEY.md §7 watch-list):

- ``events.ts`` is a native microsecond timestamp (parquet
  ``timestamp[us]``, TIMESTAMP_NTZ in Spark), the type DuckDB's naive
  microsecond timestamps compare with. A file whose ``ts`` is an integer
  column (the old TIMESTAMP(NANOS)-as-long layout) raises ``ValueError``
  instead of being converted silently.
- Session timezone pinned UTC before any read.

At 100 TB these loaders are where partition pruning starts: the fact
tables would be date-partitioned parquet/Iceberg and these readers pass
predicates through untouched so Catalyst pushes them into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediaplaycounts_spark.session import configure

#: The ten driver tables (TESTDATA.md:13-15); also the DuckDB view names.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table.

    ``events.ts`` arrives as TIMESTAMP_NTZ (microsecond) — bit-identical
    to what the DuckDB oracle sees; an integer ``ts`` raises
    ``ValueError`` (:func:`check_events_ts`).
    """
    configure(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        check_events_ts(df.schema)
    return df


def check_events_ts(schema) -> None:
    """Raise ``ValueError`` unless ``ts`` in an events schema is a
    timestamp. An integer ``ts`` is the retired TIMESTAMP(NANOS)-as-long
    layout; reading it as a timestamp would shift every event silently."""
    ts = schema["ts"].dataType.simpleString()
    if not ts.startswith("timestamp"):
        raise ValueError(
            f"events.ts is {ts}, expected a microsecond timestamp "
            "(parquet timestamp[us]); the TIMESTAMP(NANOS)-as-long layout "
            "is not supported"
        )


def events_between(
    spark: SparkSession, sf_dir: str, start_day: str, end_day_exclusive: str
) -> DataFrame:
    """Events in [start_day, end_day_exclusive) with REAL scan pruning.

    The range compares the raw parquet ``ts`` column with timestamp
    literals, so it lands in PushedFilters and prunes row groups (and,
    on a date-partitioned fact table, partitions outright).
    """
    return load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit(start_day).cast("timestamp_ntz"))
        & (F.col("ts") < F.lit(end_day_exclusive).cast("timestamp_ntz"))
    )


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; defaults to all ten."""
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can also be phrased in Spark SQL."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Guard EXPENSIVE PER-ROW COMPUTE against input under-splitting.

    A narrow pipeline inherits the scan's partitioning, and a scan's
    split count is governed by file layout and the per-file open cost, not
    by how much work downstream expressions do per row. A 60 MB
    single-file corpus scans as ONE task, so shingle explosion / 128-way
    MinHash projections / per-row vector math serialize onto one core —
    measured at the r5 sf1 decade: the ngram-jaccard production path sat
    >10 min in a single task while 31 cores idled. The same shape bites
    a 1000-executor cluster handed a handful of huge row groups.

    When the input has fewer partitions than ``defaultParallelism``,
    round-robin repartition up to it: one narrow-payload shuffle (the
    raw rows, BEFORE any explode multiplies them) buys full fan-out for
    the heavy projection that follows. When the scan is already split
    properly — every healthy large-scale layout — this is a no-op with
    zero plan change, which is why the guard is conditional instead of
    an unconditional repartition.

    The partition count is probed WITHOUT materializing (ADVICE r5):
    under AQE, touching ``df.rdd`` finalizes the adaptive plan and
    eagerly EXECUTES every upstream shuffle stage — handing a derived
    frame (joins/aggregates upstream) to an operator would run real
    jobs at plan-build time. So the probe applies only to frames whose
    optimized logical plan is a narrow pipeline over leaves (scans /
    local relations — the only shape that can inherit an under-split
    scan in the first place, and the shape where ``.rdd`` finalization
    executes nothing because there are no shuffle stages). Any wide
    node — or any node not on the narrow whitelist — skips the guard:
    post-shuffle partitioning is governed by shuffle.partitions/AQE,
    not file layout, so the scan-under-split failure mode this guard
    exists for cannot apply.
    """
    if not _is_narrow_over_leaves(df):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        return df
    return df.repartition(target)


#: Logical-plan nodes that keep the scan's partitioning and execute
#: nothing when the plan is finalized: pure row-local transforms over a
#: leaf. Anything else (Join/Aggregate/Window/Sort/Repartition/...) is
#: treated as wide — fail-safe: an unknown node merely skips the guard.
_NARROW_PLAN_NODES = frozenset(
    {
        "Relation",
        "LogicalRelation",
        "LogicalRDD",
        "LocalRelation",
        "OneRowRelation",
        "Range",
        "Project",
        "Filter",
        "Generate",
        "SubqueryAlias",
        "View",
        "Expand",
        "SerializeFromObject",
        "DeserializeToObject",
        "MapElements",
        "TypedFilter",
    }
)

#: Nodes KNOWN to be wide (or to finalize/execute work when probed):
#: skipping the guard for these is the designed behavior, silently.
#: A node in NEITHER set is unrecognized — most likely a Spark-version
#: rename of a narrow node (e.g. 'Relation') — and silently skipping
#: would disable the under-split guard everywhere with no signal
#: (ADVICE r6), so those warn once per node name before skipping.
_WIDE_PLAN_NODES = frozenset(
    {
        "Join",
        "Aggregate",
        "Window",
        "WindowGroupLimit",
        "Sort",
        "Repartition",
        "RepartitionByExpression",
        "Union",
        "Distinct",
        "Deduplicate",
        "Intersect",
        "Except",
        "GlobalLimit",
        "LocalLimit",
        "Limit",
        "Offset",
        "Sample",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "FlatMapGroupsWithState",
        "MapInPandas",
        "PythonMapInArrow",
        "ArrowEvalPython",
        "BatchEvalPython",
        "CollectMetrics",
        "WithCTE",
        "CTERelationRef",
        "CTERelationDef",
        "Pivot",
        "Unpivot",
        "ScriptTransformation",
        "RebalancePartitions",
        "Tail",
    }
)

_NODE_NAME_RE = None
_WARNED_UNRECOGNIZED_NODES: set = set()


def _is_narrow_over_leaves(df: DataFrame) -> bool:
    """True iff every node of the optimized logical plan is on the
    narrow whitelist — i.e. the frame is scan-rooted with no exchange
    upstream, so probing ``df.rdd`` cannot execute anything."""
    global _NODE_NAME_RE
    import re

    if _NODE_NAME_RE is None:
        _NODE_NAME_RE = re.compile(r"^[\s:+\-*']*([A-Za-z]+)")
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    for line in plan.splitlines():
        m = _NODE_NAME_RE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node == "Repartition":
            # 'Repartition N, false' is coalesce — narrow, executes
            # nothing when probed, and CAN present an under-split frame
            # (that is literally what coalesce(1) does). 'true' is an
            # explicit shuffle repartition: probing would execute it,
            # and the caller has already chosen a partitioning anyway.
            if ", false" in line:
                continue
            return False
        if node not in _NARROW_PLAN_NODES:
            if node not in _WIDE_PLAN_NODES and node not in _WARNED_UNRECOGNIZED_NODES:
                _WARNED_UNRECOGNIZED_NODES.add(node)
                import warnings

                warnings.warn(
                    f"ensure_min_parallelism: unrecognized logical plan node "
                    f"{node!r}; treating it as wide and skipping the "
                    "under-split guard for this frame. If this is a narrow "
                    "node renamed by a Spark upgrade, add it to "
                    "_NARROW_PLAN_NODES or the guard is silently disabled "
                    "for scan-rooted pipelines containing it.",
                    RuntimeWarning,
                    stacklevel=3,
                )
            return False
    return True


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own sizeInBytes estimate for the OPTIMIZED plan of ``df``
    (post column-pruning / filter-pushdown) — the same statistic the
    auto-broadcast and AQE planners consult. Returns None when the
    estimate is unavailable (then callers must not force a broadcast).
    """
    try:
        jstats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(jstats.sizeInBytes()))
    except Exception:
        return None


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """Size-gated broadcast hint for FACT-ADJACENT dimensions
    (orders/customer-class tables that fit an executor at bench scale but
    NOT at 100 TB).

    An unconditional ``F.broadcast`` hint overrides
    ``autoBroadcastJoinThreshold`` — at 100 TB the driver tries to
    materialize a multi-TB orders table and OOMs instead of degrading.
    This helper applies the hint only when Catalyst's optimized-plan
    sizeInBytes (post-pruning, the same statistic the auto-broadcast
    planner uses) fits under the gate; otherwise it returns ``df``
    unhinted so planning degrades to a shuffle join (SMJ/SHJ, with AQE
    free to re-promote at runtime if actual stats allow).

    Gate: ``spark.sql.autoBroadcastJoinThreshold``, the one size
    threshold Catalyst's own broadcast decisions use, read already
    parsed from the session's SQLConf (Spark rejects a malformed value
    when it is set). A value <= 0 means "never force" (Catalyst/AQE
    decide alone). Truly tiny dims (nation/region/part, 1-row
    aggregates, date spines) should keep the unconditional
    ``F.broadcast`` — they are broadcast-sized at ANY scale factor and
    the gate would only add planning overhead.
    """
    sql_conf = df.sparkSession._jsparkSession.sessionState().conf()
    threshold = sql_conf.autoBroadcastJoinThreshold()
    if threshold <= 0:
        return df
    size = plan_size_bytes(df)
    if size is None or size > threshold:
        return df
    return F.broadcast(df)
