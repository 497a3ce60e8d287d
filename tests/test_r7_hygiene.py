"""Round-7 hygiene fixes (VERDICT r6 #2/#3, ADVICE r6 items 1-4).

Covers: (a) partial explicit banding override raises instead of being
silently discarded; (b) _split_oversized_blocks evaluates the
count-per-block aggregate exactly once (the flagged table is
checkpointed, so the routing joins scan a materialized RDD, not a
re-planned Aggregate); (c) ensure_min_parallelism warns once — and only
once — when it skips the guard for an unrecognized logical-plan node,
while known-wide nodes skip silently; (d) checkpoint-dir authority
comparison is normalized (host case, scheme-default port), not literal.
"""

from __future__ import annotations

import warnings

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------- (a)


def test_partial_banding_override_raises(spark):
    """ADVICE r6 #1: minhash_lsh_pairs(num_hashes=32) without
    rows_per_band must raise, not silently re-derive both knobs."""
    from mediaplaycounts_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="together"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=32)
    with pytest.raises(ValueError, match="together"):
        minhash_lsh_pairs(df, "doc_id", "text", rows_per_band=2)
    # both given together still overrides fine
    out = minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=16, rows_per_band=2, threshold=0.0
    )
    assert out.count() >= 0


# ---------------------------------------------------------------- (b)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_split_oversized_blocks_single_aggregate_pass(spark):
    """VERDICT r6 #2: the flagged-block table must be materialized once
    (checkpoint), so neither routing join re-plans the full-corpus
    groupBy-count. Plan-level proof: the anti/semi join trees contain a
    LogicalRDD scan for the flagged side and ZERO Aggregate nodes."""
    from mediaplaycounts_spark.operators.similarity import _split_oversized_blocks

    rows = [(i, "hot", f"w{i} common tokens {i % 3}") for i in range(40)]
    rows += [(100 + i, "cold", f"x{i} other stuff") for i in range(5)]
    sh = (
        spark.createDataFrame(rows, "doc_id long, blk string, text string")
        .select("doc_id", "blk", F.split("text", " ").alias("s"))
    )
    small, big = _split_oversized_blocks(sh, ceiling=10)
    assert big is not None, "hot block (40 rows > 10) must be flagged"
    for part in (small, big):
        plan = _optimized(part)
        assert "Aggregate" not in plan, (
            "routing join re-plans the count-per-block aggregate instead "
            f"of scanning the checkpointed flagged table:\n{plan}"
        )
        assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan
    # rows route correctly and partition the input
    assert small.count() == 5 and big.count() == 40


def test_split_oversized_blocks_no_flag_returns_input_unchanged(spark):
    """When nothing exceeds the ceiling the first element must be the
    INPUT frame object (exact old plan shape preserved)."""
    from mediaplaycounts_spark.operators.similarity import _split_oversized_blocks

    sh = spark.createDataFrame(
        [(1, "en", ["a"]), (2, "fr", ["b"])],
        "doc_id long, blk string, s array<string>",
    )
    small, big = _split_oversized_blocks(sh, ceiling=10)
    assert big is None and small is sh


# ---------------------------------------------------------------- (c)


def test_unrecognized_plan_node_warns_once(spark, monkeypatch):
    """ADVICE r6 #2: a plan node in NEITHER the narrow whitelist nor the
    known-wide set (the Spark-renamed-node hazard) must emit a
    RuntimeWarning the first time — and only the first time — it causes
    the guard to be skipped."""
    from mediaplaycounts_spark import tables as T

    # Simulate a Spark rename by removing 'Project' from the whitelist.
    monkeypatch.setattr(
        T, "_NARROW_PLAN_NODES", T._NARROW_PLAN_NODES - {"Project"}
    )
    monkeypatch.setattr(T, "_WARNED_UNRECOGNIZED_NODES", set())
    df = spark.range(10).select((F.col("id") + 1).alias("v")).coalesce(1)
    with pytest.warns(RuntimeWarning, match="unrecognized logical plan node"):
        assert T._is_narrow_over_leaves(df) is False
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any second warning -> test failure
        assert T._is_narrow_over_leaves(df) is False


def test_known_wide_node_skips_silently(spark):
    """Join/Aggregate shapes are DESIGNED to skip the guard — no warning."""
    from mediaplaycounts_spark import tables as T

    df = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert T._is_narrow_over_leaves(df) is False


# ---------------------------------------------------------------- (d)


def test_checkpoint_authority_comparison_normalized():
    """ADVICE r6 #3: JVM-canonicalized authorities (lowercased host,
    scheme-default port appended) must still match the configured form."""
    from mediaplaycounts_spark.session import _checkpoint_parent_matches as m

    # JVM appends the hdfs default port / lowercases the host
    assert m("hdfs://nn:8020/ck/u1", "hdfs://nn/ck")
    assert m("hdfs://nn/ck/u1", "hdfs://nn:8020/ck")
    assert m("hdfs://NameNode:8020/ck/u1", "hdfs://namenode/ck")
    assert m("https://host:443/ck/u1", "https://HOST/ck")
    # a NON-default port is load-bearing — must not be stripped
    assert not m("hdfs://nn:9000/ck/u1", "hdfs://nn/ck")
    assert not m("hdfs://nn:9000/ck/u1", "hdfs://nn:8020/ck")
    # unrelated hosts still never match
    assert not m("hdfs://other:8020/ck/u1", "hdfs://nn/ck")
