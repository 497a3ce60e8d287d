"""Conf-matrix correctness sweep (VERDICT r8 next #1 — the
generalization of the r8 near-minhash twin defect).

The r8 bug CLASS: a ``spark.mediaplaycounts.*`` conf changes which
physical route a registered key's plan takes, and the routed path is
silently different from the default path — invisible to the driver
because graded SFs under the default conf never trigger the route.
This sweep enumerates every conf-sensitive registered key and runs the
full oracle harness under a matrix of production conf cells AT AN
SF/CONF COMBINATION WHERE EACH ROUTE PROVABLY FIRES, asserting:

1. the ROUTE (optimized-plan difference vs the default-conf build,
   plus a data-level witness: block rows > ceiling, bucket rows > cap,
   BroadcastHashJoin present/absent, checkpoint dir populated,
   df-guard ValueError) — not just the result. For the exact n-gram
   pair keys, which have one route, the witness is the opposite: a
   block over the ceiling and an UNCHANGED plan;
2. the RESULT, against the key's documented routing CONTRACT:
   - exact routes (n-gram Jaccard/containment pairs and their
     clusters, broadcast gate, reliable checkpoints, inverted-index df
     guard): routed == default == DuckDB oracle, value-exact;
   - approximate routes (band-bucket star cap, random-hyperplane
     cosine fallback): precision 1.0 HARD (routed pairs ⊆ default
     pairs with identical scores) + the route's constructed recall
     floor HARD + full divergence REPORTED (so "approximate" is a
     measured number, never a shrug).

Cells: `production` (the documented production conf — at sf0.1 the en
lang block, 2059 rows, exceeds pairBlockCeiling=2000);
`ceiling_fire` (ceiling=100: every lang AND label block exceeds it, so
the cosine fallback fires); `bandcap_fire` (cap=64 < measured max
bucket 136); `broadcast_off`/`broadcast_all`; `checkpoint`;
`maxdf_guard`.

Usage:
    python tools/conf_matrix.py [--sf /root/testdata/sf0.1] [--cells a,b]
Exit nonzero on any HARD contract violation or unproven route.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402

from tools.check_correctness import compare, duck_con  # noqa: E402

CKPT_DIR = os.path.join(REPO, ".scratch", "conf_matrix_ckpt")

#: The production conf (BASELINE.md / SCALE.md), defined only here:
#: ``paired_decade.py --prod`` and ``profile_key.py --prod`` apply it.
PRODUCTION_CONF = {
    "spark.mediaplaycounts.pairBlockCeiling": "2000",
    "spark.mediaplaycounts.bandBucketCap": "256",
    "spark.mediaplaycounts.checkpointDir": CKPT_DIR,
    "spark.mediaplaycounts.invertedIndexMaxDf": "4096",
}

CEILING_KEYS = [
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "text_containment_pairs",
    "sim_cosine_pairs",
    "dedup_embedding_cosine",
    "sim_threshold_sweep",
    "pipeline_e2e_curation",
]
BANDCAP_KEYS = ["dedup_near_minhash", "dedup_minhash_clusters"]
BROADCAST_KEYS = [
    "join_broadcast_dim",
    "join_star_multi_dim",
    "win_rank_movers",
    "agg_price_volume_mix",
    "agg_shipping_sla",
]
CHECKPOINT_KEYS = [
    "graph_pagerank_int",
    "graph_bfs_hops",
    "graph_sssp_weighted",
    "graph_link_prediction",
    "graph_hits_int",
    "graph_kcore_peel",
    "dedup_clusters",
    "dedup_minhash_clusters",
    "pipeline_e2e_curation",
]
MAXDF_KEYS = ["dedup_near_minhash", "dedup_simhash", "pipeline_split_leakage_guard"]


# ------------------------------------------------------------ contracts
# Each contract: (routed_pd, default_pd, oracle_pd|None) -> (hard_ok,
# msg). `exact` is the default for keys whose route is exact by
# construction; the approximate routes get precision/recall contracts
# derived from their banding/hyperplane parameters (floors documented
# at each entry).


def _pair_sets(df: pd.DataFrame, score: str) -> dict:
    return {
        (int(a), int(b)): float(s)
        for a, b, s in zip(df["id_a"], df["id_b"], df[score])
    }


def c_exact(routed, default, oracle):
    ok_d, msg_d = compare(routed, default)
    if not ok_d:
        return False, f"routed != default: {msg_d}"
    if oracle is not None:
        ok_o, msg_o = compare(routed, oracle)
        if not ok_o:
            return False, f"routed != oracle: {msg_o}"
    return True, "exact (== default == oracle)"


def c_pairs(score: str, recall_floor: float, hi_cut: float):
    """Approximate pair route: precision 1.0 HARD (subset + identical
    scores), overall recall >= recall_floor HARD, recall 1.0 HARD on
    pairs with score >= hi_cut (where the route's collision probability
    is ~1 by construction)."""

    def check(routed, default, oracle):
        r, d = _pair_sets(routed, score), _pair_sets(default, score)
        extra = set(r) - set(d)
        if extra:
            return False, f"PRECISION violated: {len(extra)} non-default pairs"
        bad = [k for k in r if abs(r[k] - d[k]) > 1e-9]
        if bad:
            return False, f"score mismatch on {len(bad)} routed pairs"
        rec = len(r) / len(d) if d else 1.0
        if rec < recall_floor:
            return False, f"recall {rec:.4f} < floor {recall_floor}"
        hi = {k for k, v in d.items() if v >= hi_cut}
        hi_missed = hi - set(r)
        if hi_missed:
            return False, (
                f"high-score recall violated: {len(hi_missed)}/{len(hi)} "
                f"pairs with {score}>={hi_cut} missed"
            )
        return True, (
            f"precision 1.0 ({len(r)} pairs); recall {rec:.4f} "
            f"(floor {recall_floor}); hi({score}>={hi_cut}) {len(hi)}/{len(hi)}"
            + ("; EXACT match" if len(r) == len(d) else "")
        )

    return check


def c_dup_assign(routed, default, oracle):
    """dedup_embedding_cosine: (vec_id, dup_of=min close neighbor).
    Routed pair set ⊆ default ⇒ routed vec_ids ⊆ default AND each
    routed dup_of >= the default one (min over a subset). Both HARD."""
    r = dict(zip(routed["vec_id"], routed["dup_of"]))
    d = dict(zip(default["vec_id"], default["dup_of"]))
    extra = set(r) - set(d)
    if extra:
        return False, f"PRECISION violated: {len(extra)} non-default vec_ids"
    bad = [k for k in r if r[k] < d[k]]
    if bad:
        return False, f"{len(bad)} dup_of below default min (phantom pair)"
    return True, (
        f"assignments ⊆ default ({len(r)}/{len(d)} vec_ids, "
        f"{sum(1 for k in r if r[k] == d[k])} identical)"
        + ("; EXACT" if r == d else "")
    )


def c_counts_le(routed, default, oracle):
    """sim_threshold_sweep: (label, thr_ppm, n_pairs) — routed counts
    must be <= default per cell (aggregate precision), HARD."""
    key = ["label", "thr_ppm"]
    m = default.merge(routed, on=key, how="outer", suffixes=("_d", "_r"))
    m["n_pairs_r"] = m["n_pairs_r"].fillna(0)
    if m["n_pairs_d"].isna().any():
        return False, "routed emitted a (label, thr) cell default lacks"
    over = m[m["n_pairs_r"] > m["n_pairs_d"]]
    if len(over):
        return False, f"{len(over)} cells exceed default counts"
    tot_r, tot_d = int(m["n_pairs_r"].sum()), int(m["n_pairs_d"].sum())
    return True, (
        f"counts ⊆ default ({tot_r}/{tot_d} total pairs across cells)"
        + ("; EXACT" if tot_r == tot_d else "")
    )


def c_minhash_summary(routed, default, oracle):
    """dedup_near_minhash: n_exact_pairs_j03 comes from the
    conf-INDEPENDENT inverted twin (the r8 fix) — HARD-equal to the
    DuckDB oracle under every conf. within_bound is the LSH recall
    grade: REPORTED (a firing band cap legitimately sacrifices pairwise
    recall; that trade is documented at the operator)."""
    n_r = int(routed["n_exact_pairs_j03"].iloc[0])
    n_o = int(oracle["n_exact_pairs_j03"].iloc[0])
    if n_r != n_o:
        return False, f"twin drifted under conf: {n_r} != oracle {n_o}"
    wb = bool(routed["within_bound"].iloc[0])
    return True, f"twin exact ({n_r} pairs == oracle); within_bound={wb}"


CONTRACTS = {
    # one exact route (inverted shingle index) at every block size
    "dedup_ngram_jaccard": c_exact,
    "dedup_clusters": c_exact,
    "text_containment_pairs": c_exact,
    # RH-LSH fallback (8 tables x 8 planes, Hamming<=2 MULTI-PROBE as
    # of r11 — VERDICT r10 next #1): per-table collision at cos c with
    # q = 1-acos(c)/pi is sum_{k<=2} C(8,k) q^(8-k) (1-q)^k; recall =
    # 1-(1-that)^8 = 0.95 theoretical at the 0.3 threshold (the r10
    # H=1 route measured 0.62 vs 0.58 theory, so measured tracks
    # theory from above on this corpus), ~1 at cos ~= 1 (identical
    # vectors share every bucket -> hi_cut). Floor 0.85 = theory minus
    # margin for the at-threshold mass this corpus concentrates there
    # (raised 0.5 -> 0.85 per the r10 done-criterion).
    "sim_cosine_pairs": c_pairs("cos_sim", 0.85, 0.999999),
    "dedup_embedding_cosine": c_dup_assign,
    "sim_threshold_sweep": c_counts_le,
    # its near-dedup stage is the exact ngram_jaccard_pairs route
    "pipeline_e2e_curation": c_exact,
    "dedup_near_minhash": c_minhash_summary,
    # star cap preserves cluster connectivity by construction
    "dedup_minhash_clusters": c_exact,
    "dedup_simhash": c_exact,
    "pipeline_split_leakage_guard": c_exact,
}


# ----------------------------------------------------------- route proofs


def _plan(df) -> str:
    """Optimized plan with expression ids and lambda-variable suffixes
    masked (global counters), so two builds of one query compare equal."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"(x_\d+)?#\d+L?", "#", plan)


def _sparkplan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


def _with_conf(spark, confs: dict):
    class _Ctx:
        def __enter__(self):
            for k, v in confs.items():
                spark.conf.set(k, v)

        def __exit__(self, *a):
            for k in confs:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass

    return _Ctx()


def _ngram_plan_unchanged(spark, sf, qs, confs) -> tuple[bool, str]:
    """Witness for the exact n-gram pair keys: a doc block exceeds the
    ceiling, yet the dedup_ngram_jaccard plan is the default one."""
    from pyspark.sql import functions as F

    ceiling = int(confs["spark.mediaplaycounts.pairBlockCeiling"])
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    dmax = docs.groupBy("lang").count().agg(F.max("count")).head()[0]
    if dmax <= ceiling:
        return False, f"no doc block over ceiling {ceiling} (max {dmax})"
    p_def = _plan(qs["dedup_ngram_jaccard"](spark, sf))
    with _with_conf(spark, confs):
        p_rt = _plan(qs["dedup_ngram_jaccard"](spark, sf))
    if p_rt != p_def:
        return False, "ngram optimized plan CHANGED under ceiling conf"
    return True, f"doc max block {dmax} > {ceiling}, ngram plan unchanged"


def prove_ceiling(spark, sf, qs, confs) -> tuple[bool, str]:
    from pyspark.sql import functions as F

    ok, msg = _ngram_plan_unchanged(spark, sf, qs, confs)
    if not ok:
        return ok, msg
    ceiling = int(confs["spark.mediaplaycounts.pairBlockCeiling"])
    em = spark.read.parquet(f"{sf}/embeddings.parquet")
    emax = em.groupBy("label").count().agg(F.max("count")).head()[0]
    if emax <= ceiling:
        return False, f"no label block over ceiling {ceiling} (max {emax})"
    c_def = _plan(qs["sim_cosine_pairs"](spark, sf))
    with _with_conf(spark, confs):
        c_routed = _plan(qs["sim_cosine_pairs"](spark, sf))
    if c_routed == c_def:
        return False, "cosine plan UNCHANGED though label block fires"
    return True, (
        f"{msg}; emb max block {emax} > {ceiling}, cosine plan diverged"
    )


def prove_bandcap(spark, sf, qs, confs) -> tuple[bool, str]:
    from pyspark.sql import functions as F

    from mediaplaycounts_spark.operators import dedup as D
    from mediaplaycounts_spark.queries import llm as L
    from mediaplaycounts_spark.tables import load_table

    cap = int(confs["spark.mediaplaycounts.bandBucketCap"])
    docs = load_table(spark, sf, "documents")
    nh, r = D._banding_params(0.3)
    sigs = D.minhash_signatures(docs, "doc_id", "text", nh, 2)
    nb = nh // r
    bh = F.array(
        *[
            F.xxhash64(
                *[F.element_at("sig", b * r + k + 1) for k in range(r)], F.lit(b)
            )
            for b in range(nb)
        ]
    )
    bmax = (
        sigs.select(F.posexplode(bh).alias("i", "h"))
        .groupBy("i", "h")
        .count()
        .agg(F.max("count"))
        .head()[0]
    )
    if bmax <= cap:
        return False, f"no band bucket over cap {cap} (max {bmax})"
    p_def = _plan(L._minhash_pairs_raw(spark, sf))
    with _with_conf(spark, confs):
        p_rt = _plan(L._minhash_pairs_raw(spark, sf))
    if p_rt == p_def:
        return False, "minhash plan UNCHANGED under cap conf"
    return True, f"max band bucket {bmax} > cap {cap}, minhash plan diverged"


def prove_broadcast(spark, sf, qs, confs) -> tuple[bool, str]:
    off = CELLS["broadcast_off"][0]
    on = CELLS["broadcast_all"][0]
    # Differential, not absence: the key also joins truly-tiny dims with
    # UNCONDITIONAL F.broadcast (correct at any SF — see maybe_broadcast
    # docstring), so some BroadcastHashJoin survives a closed gate. The
    # proof is that the GATED join flips strategy: strictly more BHJs
    # with the gate open than closed.
    with _with_conf(spark, off):
        p_off = _sparkplan(qs["join_broadcast_dim"](spark, sf))
    with _with_conf(spark, on):
        p_on = _sparkplan(qs["join_broadcast_dim"](spark, sf))
    n_on = p_on.count("BroadcastHashJoin")
    n_off = p_off.count("BroadcastHashJoin")
    if n_on <= n_off:
        return False, (
            f"gate open did not add a BroadcastHashJoin "
            f"(open={n_on}, closed={n_off})"
        )
    return True, (
        f"gated join flips: {n_on} BHJs open vs {n_off} closed "
        "(residual BHJs are the unconditional tiny-dim hints)"
    )


def prove_checkpoint(spark, sf, qs, confs) -> tuple[bool, str]:
    import os
    import shutil

    shutil.rmtree(CKPT_DIR, ignore_errors=True)
    with _with_conf(spark, confs):
        qs["graph_pagerank_int"](spark, sf).count()
    n = sum(len(fs) for _, _, fs in os.walk(CKPT_DIR))
    if n == 0:
        return False, "checkpoint dir EMPTY after an iterative key ran"
    return True, f"reliable checkpoint dir populated ({n} files)"


def prove_maxdf(spark, sf, qs, confs) -> tuple[bool, str]:
    # The guard consumes the conf at plan-build: a 1-shingle ceiling must
    # raise on this corpus (max df 338) — proves the conf is LIVE, then
    # the cell's real value (4096) must be a no-op.
    with _with_conf(
        spark, {"spark.mediaplaycounts.invertedIndexMaxDf": "1"}
    ):
        try:
            qs["dedup_near_minhash"](spark, sf)
            return False, "maxDf=1 did not raise — guard conf not consumed"
        except ValueError as ex:
            if "df ceiling violated" not in str(ex):
                return False, f"unexpected error under maxDf=1: {ex}"
    return True, "maxDf=1 raises the df guard (conf live); cell value 4096 no-op"


def prove_production(spark, sf, qs, confs) -> tuple[bool, str]:
    ok, msg = _ngram_plan_unchanged(spark, sf, qs, confs)
    if not ok:
        return ok, msg + (
            " — run at an SF where the production ceiling fires "
            "(sf0.1: en=2059)"
        )
    return True, msg + " (cap/cosine/maxdf routes covered by their fire cells)"


# ----------------------------------------------------------------- cells

CELLS = {
    "production": (PRODUCTION_CONF, sorted(set(
        CEILING_KEYS + BANDCAP_KEYS + BROADCAST_KEYS + CHECKPOINT_KEYS + MAXDF_KEYS
    )), prove_production),
    "ceiling_fire": (
        {"spark.mediaplaycounts.pairBlockCeiling": "100"},
        CEILING_KEYS,
        prove_ceiling,
    ),
    "bandcap_fire": (
        {"spark.mediaplaycounts.bandBucketCap": "64"},
        BANDCAP_KEYS,
        prove_bandcap,
    ),
    "broadcast_off": (
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
        BROADCAST_KEYS,
        prove_broadcast,
    ),
    "broadcast_all": (
        {"spark.sql.autoBroadcastJoinThreshold": "1g"},
        BROADCAST_KEYS,
        prove_broadcast,
    ),
    "checkpoint": (
        {"spark.mediaplaycounts.checkpointDir": CKPT_DIR},
        CHECKPOINT_KEYS,
        prove_checkpoint,
    ),
    "maxdf_guard": (
        {"spark.mediaplaycounts.invertedIndexMaxDf": "4096"},
        MAXDF_KEYS,
        prove_maxdf,
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cells", default=",".join(CELLS))
    args = ap.parse_args()

    import __spark_entry__ as e
    from mediaplaycounts_spark.session import get_spark

    qs, oracles = e.queries(), e.oracle_sql()
    spark = get_spark("conf-matrix")
    con = duck_con(args.sf)

    default_cache: dict[str, pd.DataFrame] = {}
    oracle_cache: dict[str, pd.DataFrame] = {}

    def default_of(k):
        if k not in default_cache:
            default_cache[k] = qs[k](spark, args.sf).toPandas()
        return default_cache[k]

    def oracle_of(k):
        if k not in oracle_cache:
            oracle_cache[k] = (
                con.execute(oracles[k]).fetchdf() if k in oracles else None
            )
        return oracle_cache[k]

    n_pass = n_fail = 0
    for cell in args.cells.split(","):
        confs, keys, prove = CELLS[cell]
        print(f"\n=== cell {cell}: {confs}")
        ok, msg = prove(spark, args.sf, qs, confs)
        print(f"{'✓' if ok else '✗'} route-proof: {msg}")
        if not ok:
            n_fail += 1
            continue
        for k in keys:
            t0 = time.time()
            try:
                with _with_conf(spark, confs):
                    routed = qs[k](spark, args.sf).toPandas()
                d = default_of(k)
                o = oracle_of(k)
                contract = CONTRACTS.get(k, c_exact)
                ok, msg = contract(routed, d, o)
            except Exception as ex:
                ok, msg = False, f"ERROR {type(ex).__name__}: {str(ex)[:300]}"
            mark = "✓" if ok else "✗"
            print(
                f"{mark} {cell}/{k}: {msg} ({time.time() - t0:.1f}s)",
                flush=True,
            )
            n_pass += ok
            n_fail += not ok
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
