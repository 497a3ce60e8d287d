"""Physical-plan regression tests — the 100 TB posture, enforced.

SURVEY.md §4 claims each operator family gets specific Catalyst
behavior (parquet predicate pushdown, column pruning, broadcast joins
for dims, partial aggregation, TakeOrderedAndProject top-k, raw-nanos
scan pruning). These tests pin those claims to the actual physical
plans so a refactor that silently degrades the plan (e.g. wrapping a
pushable predicate in an opaque expression) fails CI, not a 100 TB run.

Plan shape is checked with `explain("formatted")` text: stable across
local/cluster masters and independent of data volume, except where
noted (auto-broadcast decisions are size-based, so broadcast tests
assert on queries that would broadcast at ANY scale, e.g. hinted or
genuinely tiny dims).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffles(plan: str) -> int:
    """Count data shuffles (hash/range repartitions), not broadcasts."""
    return len(re.findall(r"Arguments: (?:hash|range)partitioning", plan))


def nodes(plan: str, name: str) -> int:
    """Count physical nodes by their numbered detail entries (the tree
    repeats each name, so a plain substring count double-counts)."""
    return len(re.findall(rf"\(\d+\) {name}", plan))


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e

    return e.queries()


# ------------------------------------------------------- scan hygiene


def test_agg_multi_pushdown_pruning_partial_agg(spark, queries):
    plan = plan_of(queries["agg_multi"](spark, SF_SMOKE))
    # Date predicate reaches the parquet reader (row-group skipping).
    assert "LessThanOrEqual(l_shipdate" in plan
    # Column pruning: 16-column lineitem scan reads exactly the 6 needed.
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 6
    assert "l_comment" not in plan
    # Map-side combine before the single shuffle.
    assert "partial_sum" in plan
    assert shuffles(plan) == 1


def test_project_rename_reads_only_selected_columns(spark, queries):
    plan = plan_of(queries["project_rename"](spark, SF_SMOKE))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and sorted(c.split(":")[0] for c in m.group(1).split(",")) == [
        "l_extendedprice",
        "l_linenumber",
        "l_orderkey",
        "l_returnflag",
    ]
    assert shuffles(plan) == 0


def test_filter_predicate_fully_pushed(spark, queries):
    plan = plan_of(queries["filter_predicate"](spark, SF_SMOKE))
    assert "GreaterThan(l_quantity,30.0)" in plan
    assert "In(l_returnflag" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_events_range_prunes_native_us(spark):
    """µs-native events files (the driver's current layout): the ts range
    must reach PushedFilters as timestamp bounds, not a post-scan Filter
    (SURVEY.md §7 watch-list item 0)."""
    from mediaplaycounts_spark.tables import events_between

    plan = plan_of(events_between(spark, SF_SMOKE, "2024-01-10", "2024-01-12"))
    assert re.search(
        r"PushedFilters: \[.*GreaterThanOrEqual\(ts,2024-01-10", plan
    )
    assert re.search(r"PushedFilters: \[.*LessThan\(ts,2024-01-12", plan)


def test_events_range_prunes_on_raw_nanos(spark, tmp_path):
    """Legacy TIMESTAMP(NANOS)-as-long layout: the ts range predicate must
    hit PushedFilters as raw INT64 nanos; filtering after
    timestamp_micros(ts div 1000) would scan everything. The driver
    regenerated testdata as µs-native, so this branch gets its own tiny
    bigint-ts fixture to stay covered (ADVICE r1)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mediaplaycounts_spark.tables import events_between

    t0 = int(
        dt.datetime(2024, 1, 9, tzinfo=dt.timezone.utc).timestamp()
    ) * 1_000_000_000
    rows = [(i, t0 + i * 3_600 * 1_000_000_000) for i in range(96)]
    df = spark.createDataFrame(rows, "event_id bigint, ts bigint")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = events_between(spark, str(tmp_path), "2024-01-10", "2024-01-12")
    plan = plan_of(out)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(ts,17\d+", plan)
    assert re.search(r"PushedFilters: \[.*LessThan\(ts,17\d+", plan)
    # And the conversion is value-correct: 48 hourly rows in [10th, 12th).
    assert out.count() == 48
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"


# ------------------------------------------------------------- joins


def test_dim_joins_broadcast_no_shuffle(spark, queries):
    plan = plan_of(queries["join_broadcast_dim"](spark, SF_SMOKE))
    assert nodes(plan, "BroadcastHashJoin") == 3
    assert shuffles(plan) == 0  # star joins move zero fact-table rows


def test_semi_membership_is_broadcast_semi(spark, queries):
    plan = plan_of(queries["join_semi_membership"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert shuffles(plan) == 0


# ----------------------------------------------------- sort / top-k


def test_global_topk_avoids_total_sort(spark, queries):
    plan = plan_of(queries["sort_limit_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Arguments: rangepartitioning" not in plan  # no global sort


def test_sim_topk_probe_is_scan_then_topk(spark, queries):
    plan = plan_of(queries["sim_topk_probe"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert shuffles(plan) == 0


# ------------------------------------------------------ aggregation


def test_dedup_exact_hash_partial_agg_single_shuffle(spark, queries):
    plan = plan_of(queries["dedup_exact_hash"](spark, SF_SMOKE))
    assert "partial_min" in plan or "partial_count" in plan
    assert shuffles(plan) == 1


def test_rolling_window_single_shuffle(spark, queries):
    """daily rollup + both RANGE frames reuse ONE partitioning: the agg
    shuffles on event_type's hash... then Window runs on co-partitioned
    data without a second exchange per frame."""
    plan = plan_of(queries["win_rolling_30d"](spark, SF_SMOKE))
    assert "Window" in plan
    assert shuffles(plan) <= 2  # agg + window repartition, never per-frame


def test_multimodal_join_prunes_text_column(spark, queries):
    """documents.text (the wide column) must NOT be read when the query
    only touches metadata — at 100 TB that is most of the bytes."""
    plan = plan_of(queries["multimodal_join"](spark, SF_SMOKE))
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    doc_scan = next(s for s in scans if "doc_id" in s and "lang" in s)
    assert "text" not in doc_scan


def test_salted_join_distributes_hot_keys(spark, queries):
    """With broadcast off (the 100 TB regime), the salted join must
    shuffle both sides on (key, salt) — the hot key fans out over
    n_salt partitions instead of pinning one task."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(queries["join_skew_salted"](spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert re.search(r"Arguments: hashpartitioning\(l_orderkey#\d+L, salt#\d+", plan)
    assert re.search(r"Arguments: hashpartitioning\(o_orderkey#\d+L, salt#\d+", plan)


def test_bucketed_join_and_agg_zero_shuffles(spark, queries):
    """Both tables bucketed on the join key: SMJ + groupBy plan with no
    Exchange at all — the write-time shuffle is amortized across every
    subsequent query."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(queries["sink_parquet_bucketed"](spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert nodes(plan, "SortMergeJoin") == 1
    assert "Bucketed: true" in plan
    assert shuffles(plan) == 0


def test_shingle_array_join_sides_never_broadcast(spark, queries):
    """r5 broadcast hardening: every join side that carries shingle-set
    ARRAYS must be hint-pinned away from broadcast. Catalyst's size
    estimate for those sides derives from the compressed parquet scan
    and under-reads the deserialized arrays by 100-1000x — at sf1 it
    broadcast a multi-GB relation into the 8 GB driver and OOM'd. The
    pinned physical shapes: shuffle_hash for the id-keyed verify joins
    (high-cardinality key -> bounded per-partition build), merge for
    the salted within-block self-join (spillable at the block ceiling).
    BroadcastExchange is still fine elsewhere in these plans (1-row
    summary aggregates, dim tables) — the assertion is that NO
    broadcast side carries a shingle-array (or embedding-array)
    column."""
    import pyspark.sql.functions as F

    from mediaplaycounts_spark.operators import dedup as D
    from mediaplaycounts_spark.operators import similarity as Sim

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").withColumn(
        "blk", F.pmod("vec_id", F.lit(3))
    )
    plans = {
        "minhash_lsh_pairs": plan_of(
            D.minhash_lsh_pairs(docs, "doc_id", "text")
        ),
        "ngram_jaccard_pairs": plan_of(
            D.ngram_jaccard_pairs(docs, "doc_id", "text", "lang")
        ),
        "containment_pairs": plan_of(
            D.containment_pairs(docs, "doc_id", "text", "lang")
        ),
        "cosine_pairs_direct": plan_of(
            Sim.cosine_pairs_blocked(em, "vec_id", "embedding", "blk", 0.8)
        ),
        "cosine_pairs_lsh_routed": plan_of(
            Sim.cosine_pairs_blocked(
                em, "vec_id", "embedding", "blk", 0.8, block_ceiling=5
            )
        ),
    }
    # A broadcast side shows up as a BroadcastExchange node whose Input
    # schema includes the shingle-array column (s / sa / sb /
    # shingle_set) or the embedding-array column (v / va / vb).
    # Scan each BroadcastExchange's detail block.
    array_col = re.compile(r"\b(?:s|sa|sb|shingle_set|v|va|vb)#\d+\b")

    def broadcast_array_sides(plan: str) -> list[str]:
        out = []
        for m in re.finditer(
            r"\(\d+\) BroadcastExchange\n((?:.+\n)*?)\n", plan
        ):
            inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", m.group(1))
            cols = inp.group(1) if inp else ""
            if array_col.search(cols):
                out.append(cols)
        return out

    # Self-validation control: the PRE-fix verify-join shape (sets side
    # un-hinted) must trip the detector — otherwise the assertions
    # below are vacuous regex-rot. Rebuilt inline from the same
    # signature table minhash_lsh_pairs uses.
    sigs = D.minhash_signatures(docs, "doc_id", "text", 16, 2)
    bh = F.array(
        *[
            F.xxhash64(
                F.element_at("sig", b * 2 + 1),
                F.element_at("sig", b * 2 + 2),
                F.lit(b),
            )
            for b in range(8)
        ]
    )
    bands = sigs.select(
        "doc_id", F.posexplode(bh).alias("band_idx", "band_hash")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    unhinted = sigs.select("doc_id", "shingle_set")
    prefix_shape = cand.join(
        unhinted.select(
            F.col("doc_id").alias("id_a"), F.col("shingle_set").alias("sa")
        ),
        "id_a",
    )
    assert broadcast_array_sides(plan_of(prefix_shape)), (
        "detector control failed: the un-hinted verify join no longer "
        "broadcasts its array side — update this test's control"
    )

    for name, plan in plans.items():
        bad = broadcast_array_sides(plan)
        assert not bad, (name, "shingle-array column in BroadcastExchange:", bad)


def test_pairwise_blocked_ops_fan_out(spark, queries):
    """Low-cardinality block keys (5 langs / 10 labels) must NOT pin the
    quadratic pairwise work to a handful of tasks.

    sim_cosine_pairs: the probe side is explicitly repartitioned on
    (blk, salt) with a user-specified count (exempt from AQE
    coalescing). Measured 6x on 32 cores at sf0.1.

    dedup_ngram_jaccard (r12 — inverted-index direct path): the pair
    work is keyed by (blk, shingle-hash), a HIGH-cardinality key, so
    fan-out is structural — assert the postings self-join exchanges on
    (blk, gh), never on blk alone."""
    plan = plan_of(queries["sim_cosine_pairs"](spark, SF_SMOKE))
    m = re.search(
        r"Arguments: hashpartitioning\(blk#\d+, salt#\d+L?, (\d+)", plan
    )
    assert m, "sim_cosine_pairs"
    assert int(m.group(1)) >= 32, ("sim_cosine_pairs", m.group(1))

    plan = plan_of(queries["dedup_ngram_jaccard"](spark, SF_SMOKE))
    # The pair join must be keyed by the high-cardinality shingle hash
    # (at smoke scale the tiny int posting side may legitimately
    # BROADCAST — zero exchange — so accept either shape) …
    assert re.search(r"hashpartitioning\(blk#\d+, gh#\d+L", plan) or (
        "BroadcastHashJoin" in plan and re.search(r"gh#\d+L", plan)
    ), "postings self-join must be keyed by (blk, shingle-hash)"
    # … and NOTHING may exchange on the low-cardinality block alone.
    assert not re.search(
        r"hashpartitioning\(blk#\d+, \d+\)", plan
    ), "no exchange may be keyed by the low-cardinality block alone"


def test_partition_discovery_prunes_directories(spark, queries):
    """Static partition pruning: the lang filter must appear as a
    PartitionFilter (directory-level skip), not a data Filter."""
    plan = plan_of(queries["scan_partition_discovery"](spark, SF_SMOKE))
    assert re.search(r"PartitionFilters: \[.*\(lang.*= en\)", plan) or re.search(
        r"PartitionFilters: \[.*equals\(lang,en\)", plan
    ), plan[plan.find("PartitionFilters"):][:200]
    assert shuffles(plan) == 0
