"""Skew-join benchmark: salted vs plain equi-join on a Zipfian key.

VERDICT r2 #5: `join_skew_salted` is registered and correct, but its
value was never MEASURED against its unsalted twin on data where skew
actually bites. This harness builds a deliberately skewed join (80% of
fact rows share one hot key — the Zipfian media-file pathology from
SURVEY.md §4.2), disables dim broadcast (at 100 TB the dim side of this
join does not fit in an executor — broadcast would define the skew away)
and times three strategies, warm best-of-3 into the noop sink:

- plain         : hash-partitioned SMJ, AQE skew-join splitting OFF —
                  the naive plan; the hot key pins one task.
- plain_aqe_skew: same join with AQE skew-join ON and the split
                  thresholds scaled to the local data size (defaults
                  target 256 MB partitions) — what a tuned modern
                  engine does automatically.
- salted        : explicit (key, salt) fan-out, hot key spread over
                  N_SALT tasks — the portable fix that works on any
                  engine and for the aggregation-after-join case AQE
                  skew-split does not cover.

All three produce identical results (asserted). Prints ONE JSON line;
numbers are recorded per-round in BASELINE.md.

Run: python tools/bench_skew.py  [--rows 6000000 --dim 200000]

GATE MODE (VERDICT r3 #7, epoch-aware since r10 per VERDICT r9 #6):
``--gate`` asserts the defenses actually defend, on the
load-insensitive signal — the within-stage max/p50 task-runtime
ratio: plain must stay detectably skewed (>= 3.0, the built-in
negative control) while salted and AQE-split must land under half of
plain's imbalance, with a 3x executorCpuTime guard so distribution
is not bought with a work blow-up. Wall speedups (salted/naive,
AQE/naive — measured 1.81x / 2.62x idle) are still REPORTED but no
longer asserted: r9 measured the salted wall ratio compressing to
1.24x purely under machine load (1.81x isolated, identical plans),
because parallelism is exactly what background load contends for.
tests/test_skew_gate.py runs this mode per-round.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from mediaplaycounts_spark.profile import profile, rest_json

N_SALT = 32


def build_tables(spark, n_rows: int, n_dim: int):
    """Deterministic skewed fact (80% hot key) + non-broadcastable dim."""
    fact = spark.range(n_rows).select(
        F.when(F.col("id") % 10 < 8, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_dim)))
        .alias("key"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(n_dim).select(
        F.col("id").alias("key"),
        (F.col("id") % 1000).alias("grp"),
    )
    return fact, dim


def plain_join(fact, dim):
    j = fact.join(dim, "key")
    return j.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    )


def salted_join(fact, dim):
    f = fact.withColumn(
        "salt", F.pmod(F.xxhash64("payload"), F.lit(N_SALT)).cast("int")
    )
    d = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)]))
    )
    j = f.join(d, ["key", "salt"])
    return j.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    )


def timed(df) -> float:
    df.write.mode("overwrite").format("noop").save()  # warm-up
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def build_boilerplate_corpus(spark, n_docs: int, hot_share: float):
    """Boilerplate pathology for the LSH BAND join (VERDICT r5 #3):
    ``hot_share`` of docs are near-identical (shared 40-word template +
    one unique trailing token), so they land in the same
    (band_idx, band_hash) bucket in ~every band and all-pairs candidate
    generation inside that bucket is (hot_share*n)^2/2 — quadratic in
    corpus size. The remaining docs are unique filler. Deterministic."""
    n_hot = int(n_docs * hot_share)
    template = " ".join(f"boiler{j} common{j % 7}" for j in range(20))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < n_hot,
            F.concat(F.lit(template + " uniq"), F.col("id").cast("string")),
        )
        .otherwise(
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"w{j}x"), F.col("id").cast("string"))
                    for j in range(41)
                ],
            )
        )
        .alias("text"),
    )
    return docs, n_hot


def _task_quantiles(sc, stage: dict, quantiles: str) -> list[float]:
    """Task executorRunTime quantiles of one profiled stage attempt."""
    path = f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles={quantiles}"
    return rest_json(sc, path)["executorRunTime"]


def _window_task_stats(sc, prof) -> dict:
    """Task-distribution stats over one strategy's profiled timing
    window: the BOTTLENECK stage's max/p50 task executorRunTime — the
    LOAD-INSENSITIVE skew signal (VERDICT r9 #6) — plus the window's
    total executorCpuTime as the work-volume guard. Background load
    slows every task of a stage roughly uniformly, so the WITHIN-STAGE
    max/p50 ratio survives machine epochs that compress wall-clock
    speedups (r9: salted 1.24x mid-suite vs 1.81x isolated — same
    plans, same defense).

    Bottleneck = the stage whose LONGEST SINGLE TASK is the window
    maximum. Picking by total executorRunTime instead (first build)
    lands on the uniform 32-task exchange-write stage, whose summed
    runtime dwarfs the skewed join stage's one hot task — the metric
    read 1.48 on the undefended plain join. Wall-clock critical paths
    follow the longest task, not the biggest stage sum.

    Empty when the UI is off, so gate mode reaches its own 'task stats
    unavailable' diagnostic (ADVICE r10)."""
    best = None
    for s in prof.per_stage or []:
        if s["numCompleteTasks"] < 2:
            continue
        p50, mx = _task_quantiles(sc, s, "0.5,1.0")
        if best is None or mx > best["task_run_ms_max"]:
            best = {
                "stage_id": s["stageId"],
                "num_tasks": s["numCompleteTasks"],
                "task_run_ms_p50": p50,
                "task_run_ms_max": mx,
                "max_over_p50": round(mx / p50, 2) if p50 else None,
            }
    if best is None:
        return {}
    best["window_cpu_s"] = round(prof.cpu_s, 3)
    return best


def _task_skew_summary(sc, prof) -> dict:
    """p50/p99 executorRunTime of the profiled window's longest stage
    (the band self-join under the boilerplate corpus) — the direct
    task-skew measurement VERDICT r6 next #2 asks for."""
    if not prof.per_stage:
        return {}
    heaviest = max(prof.per_stage, key=lambda s: s["executorRunTime"])
    p50, p99 = _task_quantiles(sc, heaviest, "0.5,0.99")
    return {
        "stage_id": heaviest["stageId"],
        "num_tasks": heaviest["numCompleteTasks"],
        "task_run_ms_p50": p50,
        "task_run_ms_p99": p99,
        "task_p99_over_p50": round(p99 / p50, 2) if p50 else None,
    }


def band_join_bench(spark, n_docs: int, hot_share: float, cap: int, gate: bool):
    """Band-bucket cap gate: on the boilerplate corpus the capped run
    must (a) emit a SUBSET of the uncapped exact-verified pairs, (b)
    keep every hot doc connected to the family representative (star
    links — clustering is lossless), (c) beat the uncapped wall-clock
    by >= 1.5x (the quadratic-to-linear payoff). Also reports the
    uncapped band-join stage's task p50/p99 for the record."""
    from mediaplaycounts_spark.operators import dedup as D

    docs, n_hot = build_boilerplate_corpus(spark, n_docs, hot_share)
    docs = docs.localCheckpoint()

    def pairs(cap_value):
        return D.minhash_lsh_pairs(
            docs,
            "doc_id",
            "text",
            threshold=0.05,
            recall_point=0.3,
            band_bucket_cap=cap_value,
        )

    uncapped = {(r.id_a, r.id_b) for r in pairs(None).collect()}
    capped = {(r.id_a, r.id_b) for r in pairs(cap).collect()}
    assert capped <= uncapped, "capped pairs must be a subset (same verify)"
    hot_linked = {b for (a, b) in capped if a == 0} | {
        a for (a, b) in capped if b == 0
    }
    connectivity = len(hot_linked) / max(n_hot - 1, 1)

    prof = profile(spark, "bench_skew:band_uncapped", lambda: timed(pairs(None)))
    t_uncapped = prof.result
    skew = _task_skew_summary(spark.sparkContext, prof)
    t_capped = timed(pairs(cap))

    out = {
        "metric": "lsh_band_join_boilerplate",
        "unit": "sec",
        "n_docs": n_docs,
        "hot_share": hot_share,
        "band_bucket_cap": cap,
        "uncapped_pairs": len(uncapped),
        "capped_pairs": len(capped),
        "hot_family_rep_connectivity": round(connectivity, 4),
        "uncapped": t_uncapped,
        "capped": t_capped,
        "speedup_capped_vs_uncapped": round(t_uncapped / t_capped, 2),
        "uncapped_heaviest_stage": skew,
    }
    print(json.dumps(out))
    if gate:
        problems = []
        if connectivity < 1.0:
            problems.append(
                f"hot family not fully rep-connected ({connectivity:.4f})"
            )
        if t_uncapped / t_capped < 1.5:
            problems.append(
                f"cap speedup {t_uncapped / t_capped:.2f}x < 1.5x gate"
            )
        if problems:
            print("BAND GATE FAILED: " + "; ".join(problems), file=sys.stderr)
            raise SystemExit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=6_000_000)
    ap.add_argument("--dim", type=int, default=200_000)
    ap.add_argument(
        "--gate",
        action="store_true",
        help="exit non-zero unless salted>=1.3x and AQE-split>=1.5x vs naive"
        " (and, with --band, the band-bucket-cap gate)",
    )
    ap.add_argument(
        "--band",
        action="store_true",
        help="ALSO run the LSH band-join boilerplate benchmark/gate",
    )
    ap.add_argument("--band-docs", type=int, default=4000)
    ap.add_argument("--band-hot-share", type=float, default=0.35)
    ap.add_argument("--band-cap", type=int, default=64)
    args = ap.parse_args()

    from mediaplaycounts_spark.session import get_spark

    # UI on: the band bench reads task p50/p99 from the monitoring REST
    # API (no-op for the equi-join bench).
    spark = get_spark("bench-skew", extra_conf={"spark.ui.enabled": "true"})
    if args.band:
        band_join_bench(
            spark, args.band_docs, args.band_hot_share, args.band_cap, args.gate
        )
    # The dim must NOT broadcast: at target scale it does not fit.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    fact, dim = build_tables(spark, args.rows, args.dim)
    fact = fact.localCheckpoint()  # freeze inputs so runs time the JOIN
    dim = dim.localCheckpoint()

    # correctness: all strategies agree (one row per grp; compare sums)
    want = {
        r.grp: (r.n, r.s) for r in plain_join(fact, dim).collect()
    }
    got = {
        r.grp: (r.n, r.s) for r in salted_join(fact, dim).collect()
    }
    assert want == got, "salted join result diverges from plain join"

    sc = spark.sparkContext

    def window(name: str, df) -> tuple[float, dict]:
        prof = profile(spark, f"bench_skew:{name}", lambda: timed(df))
        return prof.result, _window_task_stats(sc, prof)

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t_plain, stats_plain = window("plain", plain_join(fact, dim))
    t_salted, stats_salted = window("salted", salted_join(fact, dim))

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # scale the skew-split thresholds to local data (defaults: 256 MB)
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    t_aqe, stats_aqe = window("aqe", plain_join(fact, dim))

    print(
        json.dumps(
            {
                "metric": "skew_join_warm_best3",
                "unit": "sec",
                "rows": args.rows,
                "dim": args.dim,
                "hot_key_share": 0.8,
                "n_salt": N_SALT,
                "plain": t_plain,
                "plain_aqe_skew": t_aqe,
                "salted": t_salted,
                "speedup_salted_vs_plain": round(t_plain / t_salted, 2),
                "speedup_aqe_vs_plain": round(t_plain / t_aqe, 2),
                "task_stats": {
                    "plain": stats_plain,
                    "salted": stats_salted,
                    "aqe": stats_aqe,
                },
            }
        )
    )
    if args.gate:
        # EPOCH-AWARE gate (VERDICT r9 #6): wall-clock speedups are
        # REPORTED above but no longer asserted — salting's wall win
        # is parallelism, exactly the resource background load
        # contends for, so the ratio compresses on a busy box while
        # the defense is perfectly intact (r9: 1.24x mid-suite, 1.81x
        # isolated, identical plans). What the defenses actually
        # change is the per-task WORK DISTRIBUTION, and the
        # within-stage max/p50 task-runtime ratio measures it
        # load-insensitively. The plain run doubles as the built-in
        # NEGATIVE CONTROL: it is what a lost defense looks like, and
        # it must stay detectably skewed or the whole gate is vacuous.
        imb_plain = (stats_plain or {}).get("max_over_p50")
        imb_salted = (stats_salted or {}).get("max_over_p50")
        imb_aqe = (stats_aqe or {}).get("max_over_p50")
        cpu_plain = (stats_plain or {}).get("window_cpu_s")
        cpu_salted = (stats_salted or {}).get("window_cpu_s")
        problems = []
        if None in (imb_plain, imb_salted, imb_aqe):
            problems.append("task stats unavailable (UI off?)")
        else:
            if imb_plain < 3.0:
                problems.append(
                    f"negative control lost: plain join task max/p50 "
                    f"{imb_plain:.2f} < 3.0 — fixture no longer skewed"
                )
            if imb_salted > imb_plain / 2:
                problems.append(
                    f"salted task max/p50 {imb_salted:.2f} not under "
                    f"half of plain's {imb_plain:.2f} — salting lost"
                )
            if imb_aqe > imb_plain / 2:
                problems.append(
                    f"AQE-split task max/p50 {imb_aqe:.2f} not under "
                    f"half of plain's {imb_plain:.2f} — skew-split lost"
                )
        # Work-volume guard: distribution must not be bought with a
        # work blow-up (executorCpuTime is scheduling-insensitive).
        if cpu_plain and cpu_salted and cpu_salted > 3.0 * cpu_plain:
            problems.append(
                f"salted CPU {cpu_salted:.1f}s > 3x plain {cpu_plain:.1f}s"
            )
        if problems:
            print("SKEW GATE FAILED: " + "; ".join(problems), file=sys.stderr)
            raise SystemExit(1)


if __name__ == "__main__":
    main()
