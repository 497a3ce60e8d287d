"""Conf-routing gate (VERDICT r8 next #1): every registered key whose
plan ROUTES on a ``spark.mediaplaycounts.*`` conf is pinned
routed-path-vs-default-path at the REGISTERED-KEY level — the level the
r8 near-minhash twin bug lived at (operator-level pins in
test_skew/test_band_cap/test_broadcast_gate all passed while the
composed key silently graded against a recall<1 twin under the
production conf).

Each test (a) proves the route FIRES (plan divergence or an observable
side effect — never just "the result still matched"), then (b) asserts
the route's documented contract:

- exact routes -> routed == default, value-identical;
- approximate routes -> precision 1.0 (routed ⊆ default with identical
  scores) + the constructed recall floor.

The exact n-gram pair keys have a single route, so for them the pin is
the opposite: a firing ceiling must change neither plan nor rows.

sf0.001 keys fire with a tiny ceiling/cap; the full-matrix sweep at
sf0.1 (tools/conf_matrix.py) runs the same contracts under the
DOCUMENTED production values.
"""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"

CEILING = "spark.mediaplaycounts.pairBlockCeiling"
BANDCAP = "spark.mediaplaycounts.bandBucketCap"
CKDIR = "spark.mediaplaycounts.checkpointDir"
MAXDF = "spark.mediaplaycounts.invertedIndexMaxDf"


@pytest.fixture
def conf(spark):
    """Set confs for one test, always restore."""
    touched = []

    def setter(**kv):
        for k, v in kv.items():
            touched.append(k)
            spark.conf.set(k, str(v))

    yield setter
    for k in touched:
        try:
            spark.conf.unset(k)
        except Exception:
            pass


def _plan(df) -> str:
    """Optimized plan with expression ids and lambda-variable suffixes
    masked: both come from global counters, so two builds of the same
    query would otherwise never compare equal."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"(x_\d+)?#\d+L?", "#", plan)


def _pairs(df, score):
    return {
        (r["id_a"], r["id_b"]): r[score] for r in df.collect()
    }


def _rows(df):
    return sorted(map(tuple, df.collect()))


# -------------------------------------------------------- knob census


def test_library_reads_exactly_four_knobs():
    """Every ``spark.mediaplaycounts.*`` name the library mentions is
    one of the four routing/deployment knobs above: each knob doubles
    the conf cells this file and tools/conf_matrix.py must cover, so a
    new one has to be added here on purpose."""
    from pathlib import Path

    lib = Path(__file__).resolve().parents[1] / "mediaplaycounts_spark"
    found = {
        m
        for f in lib.rglob("*.py")
        for m in re.findall(r"spark\.mediaplaycounts\.[A-Za-z]+", f.read_text())
    }
    assert found == {CEILING, BANDCAP, CKDIR, MAXDF}


# ------------------------------------------------------------- ceiling


def test_unset_ceiling_default_100k_routes(spark):
    """With NO conf set, the unset default is 100k and a 100k+1-row
    block routes cosine_pairs_blocked to its LSH fallback — the
    oversized split actually fires, while a small corpus keeps the
    input frame for the direct join."""
    from pyspark.sql import functions as F

    from mediaplaycounts_spark.operators import similarity as S

    dummy = spark.range(1)
    assert S._resolve_block_ceiling(dummy, None) == 100_000
    assert S._PAIR_BLOCK_CEILING_DEFAULT == 100_000
    big = spark.range(100_001).select(
        F.col("id").alias("doc_id"), F.lit("hot").alias("blk"), F.lit("x")
    )
    under, over = S._split_oversized_blocks(
        big.select("doc_id", "blk"), S._resolve_block_ceiling(dummy, None)
    )
    assert over is not None, "100k+1 block did not flag at the unset default"
    small = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("hot").alias("blk")
    )
    u2, o2 = S._split_oversized_blocks(small, 100_000)
    assert o2 is None and u2 is small  # direct path keeps the input frame


def _plan_and_rows(spark, key):
    df = key(spark, SF)
    return _plan(df), _rows(df)


def test_ngram_jaccard_key_routed_contract(spark, conf):
    """dedup_ngram_jaccard runs one exact route, the inverted shingle
    index, at every block size: a ceiling far below its en block (193
    rows at sf0.001) must leave every row and jaccard value as under
    the unset conf."""
    from mediaplaycounts_spark.queries.llm import dedup_ngram_jaccard

    default = _pairs(dedup_ngram_jaccard(spark, SF), "jaccard")
    conf(**{CEILING: 50})
    routed = _pairs(dedup_ngram_jaccard(spark, SF), "jaccard")
    assert default
    assert routed == default


def test_ngram_jaccard_plan_diverges_under_ceiling(spark, conf):
    """The ceiling no longer reroutes dedup_ngram_jaccard, so its
    optimized plan must not diverge from the unset conf's."""
    from mediaplaycounts_spark.queries.llm import dedup_ngram_jaccard

    p_default = _plan(dedup_ngram_jaccard(spark, SF))
    conf(**{CEILING: 50})
    p_routed = _plan(dedup_ngram_jaccard(spark, SF))
    assert p_routed == p_default, "ceiling conf changed the plan"


def test_containment_key_routed_exact(spark, conf):
    """text_containment_pairs has one exact route: under a firing
    ceiling, plan and rows must equal the unset conf's."""
    from mediaplaycounts_spark.queries.llm import text_containment_pairs

    default = _plan_and_rows(spark, text_containment_pairs)
    conf(**{CEILING: 50})
    plan, rows = _plan_and_rows(spark, text_containment_pairs)
    assert rows
    assert plan == default[0], "ceiling conf changed the plan"
    assert rows == default[1]


def test_e2e_curation_key_routed_exact(spark, conf):
    """pipeline_e2e_curation composes the exact pair stage with
    connected components; its survivor blocks exceed a ceiling of 30,
    and the END-TO-END plan and manifest must still equal the unset
    conf's."""
    from mediaplaycounts_spark.queries.curation import pipeline_e2e_curation

    default = _plan_and_rows(spark, pipeline_e2e_curation)
    conf(**{CEILING: 30})
    plan, rows = _plan_and_rows(spark, pipeline_e2e_curation)
    assert rows
    assert plan == default[0], "ceiling conf changed the plan"
    assert rows == default[1]


def test_cosine_pairs_key_routed_contract(spark, conf):
    """sim_cosine_pairs routes through RH-LSH: precision 1.0 HARD;
    recall is low by design at the 0.3 threshold (documented: the route
    targets high-cosine pairs) — identical vectors share every bucket,
    so cos~1 pairs must all survive."""
    from mediaplaycounts_spark.queries.llm import sim_cosine_pairs

    default = _pairs(sim_cosine_pairs(spark, SF), "cos_sim")
    conf(**{CEILING: 40})  # label blocks are 40-63 rows at sf0.001
    routed_df = sim_cosine_pairs(spark, SF)
    routed = _pairs(routed_df, "cos_sim")
    spark.conf.unset(CEILING)
    assert _plan(sim_cosine_pairs(spark, SF)) != _plan(routed_df)
    assert set(routed) <= set(default)
    assert all(abs(routed[k] - default[k]) < 1e-12 for k in routed)
    hi = {k for k, v in default.items() if v >= 0.999999}
    assert hi <= set(routed)


# ------------------------------------------------------------- band cap


def test_minhash_clusters_key_capped_exact(spark, conf):
    """bandBucketCap star-links over-cap buckets: pairwise completeness
    is sacrificed (documented) but CLUSTER connectivity is preserved,
    so the registered dedup_minhash_clusters output must be
    value-identical under a firing cap."""
    from mediaplaycounts_spark.queries.llm import (
        _minhash_pairs_raw,
        dedup_minhash_clusters,
    )

    default = _rows(dedup_minhash_clusters(spark, SF))
    conf(**{BANDCAP: 8})  # max band bucket at sf0.001 measured 30
    routed_pairs_plan = _plan(_minhash_pairs_raw(spark, SF))
    routed = _rows(dedup_minhash_clusters(spark, SF))
    spark.conf.unset(BANDCAP)
    assert _plan(_minhash_pairs_raw(spark, SF)) != routed_pairs_plan
    assert routed == default


def test_near_minhash_twin_conf_independent(spark, conf):
    """THE r8 regression pin at key level: dedup_near_minhash's exact
    twin count must not move under ANY production conf combination —
    the old twin routed through recall<1 LSH under pairBlockCeiling and
    silently under-counted."""
    from mediaplaycounts_spark.queries.llm import dedup_near_minhash

    base = dedup_near_minhash(spark, SF).collect()[0]
    conf(**{CEILING: 50, BANDCAP: 8, MAXDF: 4096})
    routed = dedup_near_minhash(spark, SF).collect()[0]
    assert routed["n_exact_pairs_j03"] == base["n_exact_pairs_j03"]
    # the pairs the capped LSH emits are still exact-verified, so the
    # precision half of within_bound can never break; recall may
    # legitimately drop under a firing cap — at this SF/cap it holds.
    assert routed["within_bound"] == base["within_bound"] == True  # noqa: E712


# ---------------------------------------------------- broadcast gate


def test_broadcast_gate_keys_invariant(spark, conf):
    """The maybe_broadcast gate is plan-only: a closed gate
    (autoBroadcastJoinThreshold=-1) must keep every gated key
    value-identical while the gated join demonstrably flips strategy
    against an open one (1g)."""
    from mediaplaycounts_spark.queries.joins import join_broadcast_dim

    def sparkplan(df):
        return df._jdf.queryExecution().sparkPlan().toString()

    default = _rows(join_broadcast_dim(spark, SF))
    conf(**{"spark.sql.autoBroadcastJoinThreshold": "-1"})
    closed_df = join_broadcast_dim(spark, SF)
    n_closed = sparkplan(closed_df).count("BroadcastHashJoin")
    closed = _rows(closed_df)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1g")
    open_df = join_broadcast_dim(spark, SF)
    n_open = sparkplan(open_df).count("BroadcastHashJoin")
    opened = _rows(open_df)
    assert n_open > n_closed, (n_open, n_closed)
    assert closed == default == opened


# ------------------------------------------------------- checkpoints


def test_checkpoint_dir_key_invariant(spark, conf, tmp_path):
    """checkpointDir flips localCheckpoint -> reliable checkpoint inside
    connected components: results identical, dir demonstrably used."""
    import os

    from mediaplaycounts_spark.queries.llm import dedup_minhash_clusters

    default = _rows(dedup_minhash_clusters(spark, SF))
    ck = str(tmp_path / "ck")
    conf(**{CKDIR: ck})
    routed = _rows(dedup_minhash_clusters(spark, SF))
    n_files = sum(len(fs) for _, _, fs in os.walk(ck))
    assert n_files > 0, "reliable checkpoint dir never written"
    assert routed == default
