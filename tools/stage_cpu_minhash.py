"""Per-stage CPU + volume attribution for dedup_near_minhash's
COMPOSITION — the r8 replacement open item (SCALE.md best-of-3 table:
6.3x CPU per 3x data vs 3.9x allowed, fresh-legs protocol, so the
growth is real work, not JVM history).

The registered key stacks four plan families in one lineage:
  lsh      production MinHash path (threshold=0.05, recall_point=0.3
           -> 64 hashes / r=2 / b=32), the thing that runs at 100 TB
  exact05  grading twin: blockless ngram_jaccard_pairs(t=0.05) — the
           exact inverted shingle index, the same route under any conf
  exact03  grading twin at t=0.3, same route
  grading  n_fp anti-join, n_hit semi-join, crossJoin summary

This probe runs ONE sf per process invocation (fresh JVM per leg — the
r8 protocol; invoke twice and diff), timing each family in isolation
with best-of-N wall/CPU floors (monitoring REST) plus deterministic
volume counters, so the superlinear stage is identified by both work
and volume, not narrative.

Usage (one leg per process):
    SPARK_GRAFT_DRIVER_MEM=48g python tools/stage_cpu_minhash.py \
        --sf .scratch/sf1 [--best-of 2]
Prints one JSON line per stage.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def _stage_totals(sc) -> dict[str, float]:
    base = sc.uiWebUrl
    app = sc.applicationId
    stages = json.load(
        urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete"
        )
    )
    return {
        "cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "spill_disk": sum(s.get("diskBytesSpilled", 0) for s in stages),
    }


def _measure(sc, spark, thunk, best_of: int):
    """Best-of-N floors for wall and CPU, taken independently (the
    paired_decade rule). gc/spill are NOT floored: they come from the
    SAME repetition that produced the min CPU, so one emitted record
    never mixes metrics from different runs (ADVICE r8 — the old form
    reported the LAST rep's gc/spill next to cross-rep minima)."""
    walls, cpus, gcs, spills, out = [], [], [], [], None
    for _ in range(best_of):
        b = _stage_totals(sc)
        t0 = time.perf_counter()
        out = thunk()
        walls.append(time.perf_counter() - t0)
        a = _stage_totals(sc)
        cpus.append(a["cpu_s"] - b["cpu_s"])
        gcs.append(a["gc_s"] - b["gc_s"])
        spills.append(a["spill_disk"] - b["spill_disk"])
        try:
            spark._jvm.System.gc()
            time.sleep(2)
        except Exception:
            pass
    i = cpus.index(min(cpus))
    return min(walls), cpus[i], gcs[i], spills[i], out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--best-of", type=int, default=2)
    ap.add_argument("--cap", type=int, default=256)
    args = ap.parse_args()

    from mediaplaycounts_spark.session import get_spark
    from mediaplaycounts_spark.queries import llm as L

    spark = get_spark(
        "stage-cpu-minhash", extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
        }
    )
    spark.conf.set("spark.mediaplaycounts.bandBucketCap", str(args.cap))
    # Loud-failure linearity guard on the exact twins (ADVICE r8): the
    # probe runs beyond graded SFs, exactly where a df-skewed corpus
    # would make the inverted-index twin silently quadratic. Measured
    # max df(g) is 338 at sf0.1..sf1 (constant across SFs); 4096 leaves
    # honest headroom while still firing orders below all-pairs.
    spark.conf.set("spark.mediaplaycounts.invertedIndexMaxDf", "4096")
    sc = spark.sparkContext
    sf = args.sf
    label = sf.rstrip("/").rsplit("/", 1)[-1]

    def s_lsh():
        return {"lsh_pairs": L._minhash_pairs_raw(spark, sf).count()}

    def s_exact05():
        return {
            "exact05_pairs": L._exact_allpairs_jaccard(spark, sf, 0.05).count()
        }

    def s_exact03():
        return {
            "exact03_pairs": L._exact_allpairs_jaccard(spark, sf, 0.3).count()
        }

    def s_full():
        r = L.dedup_near_minhash(spark, sf).collect()[0]
        return {
            "n_exact_pairs_j03": r["n_exact_pairs_j03"],
            "within_bound": bool(r["within_bound"]),
        }

    stages = [
        ("lsh_prod", s_lsh),
        ("exact05_twin", s_exact05),
        ("exact03_twin", s_exact03),
        ("full_composition", s_full),
    ]
    # JVM/JIT warm-up: one full pass of the cheapest family
    s_exact03()
    for name, thunk in stages:
        wall, cpu, gc, spill, out = _measure(sc, spark, thunk, args.best_of)
        rec = {
            "sf": label,
            "stage": name,
            "wall_s": round(wall, 1),
            "cpu_s": round(cpu, 1),
            "gc_s": round(gc, 1),
            "spill_disk_mb": round(spill / 1e6),
        }
        rec.update(out)
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
