"""LSH band-bucket cap (VERDICT r5 #3 / r6 next #2): the boilerplate
pathology where one near-identical doc family fills a
(band_idx, band_hash) bucket in every band and all-pairs candidate
generation goes quadratic in CORPUS size. The cap routes over-cap
buckets through star candidates (bucket-min rep vs member, still
exact-verified). tools/bench_skew.py --band measures the payoff and
gates it; these tests pin the semantics.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mediaplaycounts_spark.operators import dedup as D


@pytest.fixture(scope="module")
def boiler(spark):
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.bench_skew import build_boilerplate_corpus

    docs, n_hot = build_boilerplate_corpus(spark, 400, 0.3)
    return docs.localCheckpoint(), n_hot


def _pairs(docs, cap):
    return D.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.05, recall_point=0.3,
        band_bucket_cap=cap,
    )


def test_capped_pairs_subset_and_rep_connected(spark, boiler):
    """Capped output is a subset of the uncapped exact-verified pairs
    (same precision contract), and every hot-family member stays linked
    to the family rep (doc 0) — clustering is lossless."""
    docs, n_hot = boiler
    uncapped = {(r.id_a, r.id_b) for r in _pairs(docs, None).collect()}
    capped = {(r.id_a, r.id_b) for r in _pairs(docs, 16).collect()}
    assert capped <= uncapped
    assert len(capped) < len(uncapped)  # the quadratic family collapsed
    linked_to_rep = {b for (a, b) in capped if a == 0}
    assert linked_to_rep >= set(range(1, n_hot)), "star links missing"


def test_cap_off_plan_identical(spark, boiler):
    """Default (cap unset, conf unset) must keep the exact old plan —
    no bucket aggregate, no anti/star joins."""
    docs, _ = boiler
    on = _pairs(docs, 16)._jdf.queryExecution().optimizedPlan().toString()
    off = _pairs(docs, None)._jdf.queryExecution().optimizedPlan().toString()
    # the input fixture is itself a localCheckpoint (one LogicalRDD in
    # both); the CAP adds the checkpointed hot-bucket table and the
    # anti/star routing joins — none of which may appear when off
    assert on.count("LogicalRDD") > off.count("LogicalRDD")
    assert "LeftAnti" in on and "LeftAnti" not in off


def test_cap_via_conf(spark, boiler):
    """spark.mediaplaycounts.bandBucketCap engages the cap without a
    param — the production deployment path."""
    docs, _ = boiler
    explicit = {(r.id_a, r.id_b) for r in _pairs(docs, 16).collect()}
    spark.conf.set(D.BAND_BUCKET_CAP_CONF, "16")
    try:
        via_conf = {(r.id_a, r.id_b) for r in _pairs(docs, None).collect()}
    finally:
        spark.conf.unset(D.BAND_BUCKET_CAP_CONF)
    assert via_conf == explicit


def test_chain_repair_reconnects_stranger_rep_bucket(spark):
    """VERDICT r9 #3 loss class, unit-pinned: a mixed bucket whose MIN
    doc is a stranger used to orphan the whole family (every star pair
    fails the verify). Chain-repair must re-star the failed members
    against the lowest failed co-member, reconnecting the family."""
    keys = ["band_idx", "band_hash"]
    bands = spark.createDataFrame(
        [(d, 0, 7) for d in (1, 2, 3, 4)],
        "doc_id long, band_idx int, band_hash long",
    )
    buckets = spark.createDataFrame(
        [(0, 7, 1)], "band_idx int, band_hash long, _rep long"
    )
    fam = list(range(100, 110))
    sets = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, fam), (3, fam), (4, fam + [200])],
        "doc_id long, s array<long>",
    )
    out = {
        (r.id_a, r.id_b)
        for r in D._star_candidates_with_repair(
            bands, buckets, keys, sets, 0.5
        ).collect()
    }
    # star pairs still emitted (the caller's uniform verify drops them)
    assert {(1, 2), (1, 3), (1, 4)} <= out
    # the repair round: rep2 = min failed member (2) re-starred
    assert {(2, 3), (2, 4)} <= out


def _stacked_bucket(spark, n_strangers=4, n_families=4, fam_size=4):
    """One over-cap bucket = ``n_strangers`` mutually-dissimilar docs
    (ids 1..s, so the bucket MIN is always a stranger until all are
    peeled) stacked on ``n_families`` cohesive families (ids 10f+10 ..):
    the >=4-deep stack VERDICT r10 next #2 demands, beyond the old
    3-round bound."""
    keys = ["band_idx", "band_hash"]
    ids, sets = [], []
    for s in range(1, n_strangers + 1):
        ids.append(s)
        sets.append((s, [1000 * s + k for k in range(5)]))
    for f in range(n_families):
        fam = [7000 + 100 * f + k for k in range(6)]
        for m in range(fam_size):
            d = 10 * (f + 1)
            ids.append(d + m)
            sets.append((d + m, fam))
    bands = spark.createDataFrame(
        [(d, 0, 7) for d in ids], "doc_id long, band_idx int, band_hash long"
    )
    buckets = spark.createDataFrame(
        [(0, 7, min(ids))], "band_idx int, band_hash long, _rep long"
    )
    sdf = spark.createDataFrame(sets, "doc_id long, s array<long>")
    return bands, buckets, keys, sdf, ids


def test_chain_repair_unconditional_stacked_families(spark):
    """VERDICT r10 next #2 done-criterion: a 4-family + 4-stranger
    bucket (8 peeling rounds — far beyond the old 3-round bound) loses
    ZERO nodes: after the caller-side exact verify, every family is
    internally connected."""
    bands, buckets, keys, sets, ids = _stacked_bucket(spark)
    cand = {
        (r.id_a, r.id_b)
        for r in D._star_candidates_with_repair(
            bands, buckets, keys, sets, 0.5
        ).collect()
    }
    shingle = {r.doc_id: set(r.s) for r in sets.collect()}

    def jac(a, b):
        i = len(shingle[a] & shingle[b])
        return i / len(shingle[a] | shingle[b])

    verified = {(a, b) for a, b in cand if jac(a, b) >= 0.5}
    # connectivity: union-find over verified pairs
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in verified:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for f in range(4):
        fam = [10 * (f + 1) + m for m in range(4)]
        roots = {find(d) for d in fam}
        assert len(roots) == 1, f"family {f} split into {roots}"


def test_chain_repair_round_ceiling_raises_loudly(spark):
    """With the all-pairs tail DISABLED (cap=0), exhausting the peel
    rounds RAISES naming the residue instead of silently returning
    partial candidates."""
    bands, buckets, keys, sets, _ = _stacked_bucket(spark)
    with pytest.raises(ValueError, match="chain-repair exceeded"):
        D._star_candidates_with_repair(
            bands, buckets, keys, sets, 0.5, max_rounds=2, allpairs_cap=0
        ).collect()


def test_chain_repair_peel_then_tail_path(spark):
    """Force the PEEL phase to actually run (cap below the round-0
    residue) before the tail fires: connectivity must still be total,
    proving the two phases compose."""
    bands, buckets, keys, sets, ids = _stacked_bucket(spark)
    cand = {
        (r.id_a, r.id_b)
        for r in D._star_candidates_with_repair(
            bands, buckets, keys, sets, 0.5, allpairs_cap=6
        ).collect()
    }
    shingle = {r.doc_id: set(r.s) for r in sets.collect()}
    verified = {
        (a, b)
        for a, b in cand
        if len(shingle[a] & shingle[b])
        / len(shingle[a] | shingle[b])
        >= 0.5
    }
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in verified:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for f in range(4):
        fam = [10 * (f + 1) + m for m in range(4)]
        assert len({find(d) for d in fam}) == 1


def test_chain_repair_stranger_pile_uses_tail_not_rounds(spark):
    """The defect the r11 bandcap_fire conf cell measured: a bucket of
    mutually-dissimilar docs peels ONE rep per round, so
    peel-until-empty needs O(bucket) Spark jobs. The all-pairs tail
    must absorb such a pile immediately — tiny max_rounds, no raise —
    and emit the full within-bucket pair set so nothing cohesive could
    ever be missed."""
    keys = ["band_idx", "band_hash"]
    n = 120
    ids = list(range(1, n + 1))
    bands = spark.createDataFrame(
        [(d, 0, 7) for d in ids], "doc_id long, band_idx int, band_hash long"
    )
    buckets = spark.createDataFrame(
        [(0, 7, 1)], "band_idx int, band_hash long, _rep long"
    )
    sets = spark.createDataFrame(
        [(d, [1000 * d + k for k in range(5)]) for d in ids],
        "doc_id long, s array<long>",
    )
    cand = D._star_candidates_with_repair(
        bands, buckets, keys, sets, 0.5, max_rounds=1
    )
    # star (n-1) + tail C(n-1, 2) over the failed members, distinct
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert len(pairs) >= (n - 1) * (n - 2) // 2


def test_malformed_maxdf_conf_raises(spark):
    """ADVICE r9: a malformed invertedIndexMaxDf conf must raise, not
    silently disable the df guard it configures."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    spark.conf.set(D.INVERTED_MAX_DF_CONF, "4k")
    try:
        with pytest.raises(ValueError, match="invertedIndexMaxDf"):
            D.ngram_jaccard_pairs(docs, "doc_id", "text")
    finally:
        spark.conf.unset(D.INVERTED_MAX_DF_CONF)


def test_signature_two_step_projection_values(spark):
    """r7 signature-stage fix: materializing the shingle array in its
    own Project (9.3x faster) must not change a single signature."""
    rows = [(i, " ".join(f"t{i}w{j}" for j in range(12))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(df, "doc_id", "text", num_hashes=16)
    out = sigs.select("doc_id", F.element_at("sig", 1).alias("m0")).collect()
    # signatures are xxhash64 minima over the doc's own shingles —
    # recompute one doc's first hash by hand
    import itertools

    r0 = [r for r in out if r.doc_id == 0][0]
    toks = rows[0][1].split(" ")
    gram = [f"{a} {b}" for a, b in itertools.pairwise(toks)]
    expect = (
        df.sparkSession.createDataFrame([(g,) for g in set(gram)], "g string")
        .select(F.min(F.xxhash64("g", F.lit(0))).alias("m"))
        .head()
        .m
    )
    assert r0.m0 == expect
