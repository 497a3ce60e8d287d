"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Method (BASELINE.md): one warm-up execution per query, then best-of-3
timed runs. Queries execute end-to-end into the `noop` sink (full plan
runs, no collect/serialization cost measured). Baseline reference
numbers in BASELINE.md were measured the same way.

OUTPUT CONTRACT (r12, VERDICT r11 next #2): stdout carries EXACTLY ONE
compact JSON line — metric, value, unit, queries, extended, production,
drift_alerts, sf. The grading driver keeps only a bounded TAIL of
stdout and BENCH_r10 already broke on this (its single line grew past
the tail buffer and the front was clipped mid-JSON, so the driver's
round-over-round table came up empty). The verbose measurement blob
(per-key executor-CPU floors, calibration probes, the dual-anchor
calibrated arm) moved OFF stdout: it is written to
``bench_verbose.json`` next to this file (override with
$SPARK_GRAFT_BENCH_VERBOSE) and echoed to stderr. Timed region, query
set, methodology and the raw ``value`` metric are UNCHANGED — this is
a reporting-surface fix only, gated by a clipped-tail simulation test
(tests/test_bench_contract.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Per-query drift gate (VERDICT r2 #7): recorded reference timings for
#: BOTH the headline and extended sets live in bench_reference.json;
#: any query slower than DRIFT_FACTOR x its recorded time is reported
#: in the output JSON's "drift_alerts" (and on stderr) — pagerank's r1
#: regression was caught by eyeball, this makes it a gate. Refresh the
#: recording after an intentional change: python bench.py --record.
REFERENCE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_reference.json"
)
DRIFT_FACTOR = 1.5

#: Where the verbose measurement blob (cpu floors, calibration probes,
#: calibrated arm) goes instead of stdout — see the module docstring.
VERBOSE_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_VERBOSE",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_verbose.json"),
)

#: The driver keeps a bounded tail of stdout; the contract line must
#: survive front-clipping to this many bytes (BENCH_r10 regression —
#: its tail buffer was ~2 KB). Enforced at runtime (loud stderr
#: warning) and by tests/test_bench_contract.py.
TAIL_SAFE_BYTES = 2000


def contract_line(
    total: float,
    timings: dict,
    extended: dict,
    prod: dict,
    drift_alerts: dict,
    sf,
) -> str:
    """The single compact stdout line — everything else is verbose-file
    material. Key order puts metric/value first so even a human tail
    read starts at the headline."""
    return json.dumps(
        {
            "metric": "headline_total_warm_best3",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "extended": extended,
            "production": prod,
            "drift_alerts": drift_alerts,
            "sf": sf,
        },
        separators=(",", ":"),
    )

#: CPU drift gate (VERDICT r7 #2/#7): wall time on this box mode-flips
#: 1.4-3.6x for identical plans under machine load (measured r7, the
#: three r7 driver drift alerts were exactly this), so a wall-only gate
#: cannot tell load bands from plan regressions. Executor-CPU floors
#: measure WORK: a key now alerts only when BOTH its wall exceeds
#: DRIFT_FACTOR x recorded wall AND its CPU floor exceeds
#: CPU_DRIFT_FACTOR x the recorded CPU floor (when a CPU recording
#: exists — wall-only for pre-r8 references). CPU_ABS_SLACK_S guards
#: the sub-second keys: the REST stage metrics carry tens-of-ms
#: per-stage jitter (task launch, GC attribution), so a 60 ms floor vs
#: a 40 ms recording is measurement noise, not 1.5x more work — a key
#: must exceed the factor AND the recording by the absolute slack.
CPU_DRIFT_FACTOR = 1.4
#: Documented jitter guard (ADVICE r8 accepted trade): on sub-100 ms
#: keys the absolute slack dominates the 1.4x factor (a 0.04 s recording
#: tolerates up to 0.14 s), which can mute a real plan regression on the
#: smallest keys. Deliberate: REST stage-metric jitter (task launch, GC
#: attribution) on this box is tens of ms per stage — a factor-only gate
#: on 40 ms keys alerted on pure noise every epoch. A regression big
#: enough to matter on a 40 ms key either shows up at decade SFs
#: (SCALE.md gates) or grows the key past the slack's reach.
CPU_ABS_SLACK_S = 0.1

#: Headline set: the reference-shaped core (daily rollup, date-range,
#: rolling windows, category semi-join), the relational workhorses, and
#: the LLM-pipeline ops that dominate at 100 TB.
HEADLINE = [
    "agg_multi",            # TPC-H Q1-style scan+agg (q1_pricing twin)
    "agg_daily_playcount",  # the reference's core op (daily_counts twin)
    "join_shuffle_equi",    # big-big SMJ (join_topk twin)
    "join_broadcast_dim",   # star-schema broadcast path
    "win_rolling_30d",      # reference flagship rolling totals
    "agg_pivot",            # wide pivot aggregate
    "dedup_exact_hash",     # content-hash dedup
    "text_tokenize_wordcount",
    "sim_topk_probe",       # brute-force ANN baseline
    "join_asof",            # union+window as-of
]

#: Timed and reported alongside, but NOT part of the headline total —
#: the headline composition stays fixed so `value` is comparable across
#: rounds against BASELINE.md.
EXTENDED = [
    "dedup_paragraphs",     # corpus-wide paragraph dedup + reassembly
    "text_tfidf_topterms",  # explode -> two aggs -> vocab join + window
    "agg_heavy_hitters",    # Misra-Gries candidates + exact recount
    "graph_pagerank_int",   # 3 iterative shuffles
    "ts_gapfill_interpolate",
    # r2 additions (new ops; not in any prior round's numbers)
    "text_perplexity_unigram",   # unigram LM scoring, 6-shuffle ladder
    "pipeline_pack_sequences",   # Arrow grouped-map packing kernel
    "multimodal_embedding_quantize",  # zero-shuffle array lambdas
    # r3 additions
    "agg_kll_quantile_merge",    # sketch-blob quantile rollup + exact twin
    "dedup_substring_spans",     # cross-doc span dedup signal
    # r3 continuation additions
    "join_star_multi_dim",       # 5-dim broadcast star cube, one exchange
    "graph_hits_int",            # 2-round HITS, checkpoint at the fork
    "join_geo_grid",             # grid-blocked spatial pairs
    "text_bpe_merge_rounds",     # BPE merge training rounds
    "sim_rerank_rrf",            # hybrid RRF fusion
]


def _production_paths():
    """PRODUCTION entry points for keys whose REGISTERED plan embeds an
    exact grading twin (VERDICT r4 next #3): those registry numbers
    include the cost of the exact-verification harness that exists only
    so the driver can value-check recall; at 100 TB only the raw path
    would run. Since r9 the twin/production split is FIRST-CLASS
    registry metadata (`Production` tags on dedup_near_minhash /
    dedup_simhash / sim_ann_* / pipeline_e2e_curation) — this reads the
    tags instead of a hardcoded list, so a new twin-bearing key is
    benched the moment it declares its raw path. Returns
    ({bench_label: fn}, {labels needing build-inclusive timing}).
    Build-inclusive = the callable does eager work (checkpoint_df
    lineage cuts) at CONSTRUCTION time, so best-of-3 must time fn-call
    + write together or the recorded number is only the final join's
    write (measured 0.45 s of an 8.9 s run at sf0.1)."""
    from mediaplaycounts_spark import registry

    prods = registry.production_paths()
    return (
        {label: p.fn for label, p in prods.items()},
        {label for label, p in prods.items() if p.time_build},
    )


def _calibration(spark) -> dict[str, float]:
    """Machine-epoch fingerprint (VERDICT r8 next #7): consecutive
    idle-box sessions mode-flip 2.38<->4.64 s on the identical headline
    (commit bf699be), so every bench artifact carries a 3-probe
    calibration — engine-independent, plan-stable jobs whose cost can
    only move with the MACHINE, never with repo code — letting
    cross-round wall comparisons normalize by epoch instead of
    guessing. Probes: pure codegen CPU (range+xxhash fold), one small
    exchange (groupBy on a synthetic key), and a parquet scan+sum of
    the benched dataset's largest table. Warm best-of-3 each, same
    method as the queries."""
    from pyspark.sql import functions as F

    # shiftright(,32) before SUM: raw xxhash64 sums overflow long under
    # the session's ANSI mode; 30M values < 2^32 sum < 2^57.
    def cal_cpu():
        return spark.range(30_000_000).select(
            F.sum(F.shiftright(F.xxhash64("id"), 32)).alias("h")
        )

    def cal_shuffle():
        return (
            spark.range(2_000_000)
            .groupBy(F.pmod(F.xxhash64("id"), F.lit(1000)).alias("k"))
            .count()
            .agg(F.sum("count").alias("n"))
        )

    def cal_scan():
        return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").agg(
            F.sum(F.shiftright(F.xxhash64("l_orderkey"), 32)).alias("h")
        )

    out = {}
    for name, thunk in (
        ("cal_cpu", cal_cpu),
        ("cal_shuffle", cal_shuffle),
        ("cal_scan", cal_scan),
    ):
        thunk().write.mode("overwrite").format("noop").save()  # warm-up
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            thunk().write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 4)
    return out


def _headline_total(queries: dict) -> float | None:
    vals = [queries.get(k) for k in HEADLINE]
    if any(v is None for v in vals):
        return None
    return round(sum(vals), 4)


def _normalize(total: float, timings: dict, calibration: dict, ref: dict):
    """Epoch normalization, DUAL-ANCHOR as of r11 (VERDICT r10 next #5;
    r9 next #1 for the original single anchor). The r10 protocol hole:
    the committed anchor was recorded on a fast epoch only, so the
    calibrated arm was never validated against the slow epoch class —
    a true regression masked by a fast epoch, or a slow-epoch run's
    calibration, both extrapolated across classes on probe ratios
    alone. Now `ref["anchors"]` carries one anchor per epoch class,
    each with its probe vector AND the headline it co-measured, and
    the transform is two-stage:

    1. WITHIN-CLASS: pick the anchor whose probe vector is nearest
       this run's (min Σ|log(anchor_cal/run_cal)|) — ratios between
       same-class epochs are interpolation, not extrapolation. The
       applied epoch_ratio stays the most conservative single probe
       (closest to 1.0), as before.
    2. ACROSS-CLASS: convert to the fast-anchor frame (where the
       BASELINE.md band was measured) by the ratio of co-recorded
       HEADLINES — measured on the real workload in each class, not
       inferred from probes.

    For a fast-epoch run this degrades to exactly the r10 formula
    (nearest anchor = fast, class_factor = 1). Back-compat: a ref with
    only the legacy top-level ``calibration`` becomes a single
    anchor."""
    import math

    anchors = list(ref.get("anchors") or [])
    if not anchors and ref.get("calibration"):
        anchors = [
            {
                "label": "recorded",
                "calibration": ref["calibration"],
                "headline": _headline_total(ref.get("queries", {})),
            }
        ]
    usable = []
    for a in anchors:
        cal = a.get("calibration") or {}
        ratios = {
            k: round(cal[k] / calibration[k], 4)
            for k in ("cal_cpu", "cal_shuffle", "cal_scan")
            if cal.get(k) and calibration.get(k)
        }
        if ratios:
            dist = sum(abs(math.log(r)) for r in ratios.values())
            usable.append((dist, a, ratios))
    if not usable:
        return None
    usable.sort(key=lambda t: t[0])
    _, anchor, ratios = usable[0]
    epoch_ratio = min(ratios.values(), key=lambda r: abs(math.log(r)))
    primary = next(
        (a for a in anchors if a.get("label") == "fast"), anchors[0]
    )
    class_factor = 1.0
    if (
        anchor is not primary
        and anchor.get("headline")
        and primary.get("headline")
    ):
        class_factor = primary["headline"] / anchor["headline"]
    scale = epoch_ratio * class_factor
    return {
        "anchor_label": anchor.get("label"),
        "epoch_ratio": epoch_ratio,
        "class_factor": round(class_factor, 4),
        "probe_ratios": ratios,
        "anchor": anchor.get("calibration"),
        "value": round(total * scale, 4),
        "queries": {k: round(t * scale, 4) for k, t in timings.items()},
    }


def main() -> None:
    from mediaplaycounts_spark.profile import profile
    from mediaplaycounts_spark.session import get_spark
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    production, time_build_keys = _production_paths()
    # The UI is the only source of executor-CPU stage metrics; bounded
    # retention so long runs don't evict stages mid-diff (ADVICE r7).
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
        },
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    def run(key: str, table=None) -> tuple[float, float | None]:
        """(best wall, best cpu) over 3 runs — floors taken independently
        (identical plans mode-flip 1.4-3.6x in CPU under memory
        pressure; each metric's floor is its closest true-cost
        observable, same rule as tools/paired_decade.py). The profiled
        region is the fn call plus the write for time_build keys, the
        write alone otherwise. CPU is None when the UI is off."""
        table = table or qs

        def write(df) -> None:
            df.write.mode("overwrite").format("noop").save()

        write(table[key](spark, SF_DIR))  # warm-up
        profs = []
        for _ in range(3):
            if key in time_build_keys:
                profs.append(profile(spark, key, lambda: write(table[key](spark, SF_DIR))))
            else:
                df = table[key](spark, SF_DIR)
                profs.append(profile(spark, key, lambda: write(df)))
        best = round(min(p.wall_s for p in profs), 4)
        cpus = [p.cpu_s for p in profs]
        return best, (None if None in cpus else round(min(cpus), 4))

    calibration = _calibration(spark)
    timings, cpu = {}, {}
    for k in HEADLINE:
        if k in qs:
            timings[k], cpu[k] = run(k)
    extended = {}
    for k in EXTENDED:
        if k in qs:
            extended[k], cpu[k] = run(k)
    prod = {}
    for k in sorted(production):
        prod[k], cpu[k] = run(k, production)
    total = round(sum(timings.values()), 4)

    record = "--record" in sys.argv
    if record:
        # Preserve the dual-anchor set across recordings (VERDICT r10
        # next #5): a `--record` is only accepted by tools/epoch_poll.py
        # on a FAST epoch, so it refreshes the "fast" anchor in place;
        # the slow-class anchor (recorded once from a real slow-epoch
        # artifact) survives untouched.
        old_anchors = []
        if os.path.exists(REFERENCE_PATH):
            try:
                with open(REFERENCE_PATH) as f:
                    old_anchors = json.load(f).get("anchors") or []
            except (OSError, ValueError):
                old_anchors = []
        new_fast = {
            "label": "fast",
            "calibration": calibration,
            "headline": total,
        }
        anchors = [new_fast] + [
            a for a in old_anchors if a.get("label") != "fast"
        ]
        with open(REFERENCE_PATH, "w") as f:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "queries": {**timings, **extended, **prod},
                    "cpu": cpu,
                    "calibration": calibration,
                    "anchors": anchors,
                },
                f,
                indent=2,
                sort_keys=True,
            )
    drift_alerts = {}
    calibrated = None
    if not record and os.path.exists(REFERENCE_PATH):
        with open(REFERENCE_PATH) as f:
            ref = json.load(f)
        # Epoch normalization — see _normalize (dual-anchor, nearest
        # probe vector, cross-class conversion on co-recorded
        # headlines). Adjudication rule (BASELINE.md): headline passes
        # the 2x gate if raw <= 2x OR calibrated <= 2x with the chosen
        # anchor in the artifact. cal_scan reads the benched dataset,
        # so anchors are only comparable at the SAME sf_dir
        # (like-for-like, as the drift gate below).
        if ref.get("sf_dir") == SF_DIR:
            calibrated = _normalize(total, timings, calibration, ref)
        if ref.get("sf_dir") == SF_DIR:  # only compare like-for-like
            ref_cpu = ref.get("cpu", {})
            for k, t in {**timings, **extended, **prod}.items():
                r = ref["queries"].get(k)
                if not (r and t > DRIFT_FACTOR * r):
                    continue
                rc, c = ref_cpu.get(k), cpu.get(k)
                # `is not None`, not truthiness (ADVICE r8): a measured
                # CPU of 0.0 is the STRONGEST no-extra-work evidence a
                # trivially-cheap key can give — truthiness would treat
                # it as "no CPU data" and fall back to wall-only
                # alerting exactly where wall is noisiest.
                if rc is not None and c is not None and c <= max(
                    CPU_DRIFT_FACTOR * rc, rc + CPU_ABS_SLACK_S
                ):
                    # wall over gate but WORK within gate: load band,
                    # not a plan regression — record, don't alert
                    continue
                drift_alerts[k] = {"now": t, "recorded": r}
                if rc and c:
                    drift_alerts[k].update(
                        {"now_cpu": c, "recorded_cpu": rc}
                    )
    if drift_alerts:
        print(
            f"DRIFT >%{int((DRIFT_FACTOR-1)*100)}: {drift_alerts}",
            file=sys.stderr,
        )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    line = contract_line(total, timings, extended, prod, drift_alerts, sf_val)
    if len(line) > TAIL_SAFE_BYTES:
        # Never trim data silently — but say loudly that the driver's
        # tail buffer may clip this line (the BENCH_r10 failure mode).
        print(
            f"WARNING: contract line {len(line)} B exceeds the "
            f"{TAIL_SAFE_BYTES} B tail-safety budget",
            file=sys.stderr,
        )
    verbose = {
        "cpu": cpu,
        "calibration": calibration,
        "calibrated": calibrated,
        "value": total,
        "queries": timings,
        "extended": extended,
        "production": prod,
        "sf": sf_val,
    }
    try:
        with open(VERBOSE_PATH, "w") as f:
            json.dump(verbose, f, indent=2, sort_keys=True)
    except OSError as ex:
        print(f"WARNING: could not write {VERBOSE_PATH}: {ex}", file=sys.stderr)
    print(f"VERBOSE: {json.dumps(verbose)}", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
