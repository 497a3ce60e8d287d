"""Warm-PAIRED per-key decade measurement (the flagged-key protocol
SCALE.md mandates): one JVM per invocation, per key — warm-up run at
the small SF (untimed), then timed runs at the small and big SFs
back-to-back. Batch-position effects in long sweep sessions are
±30-70% at these run lengths (measured r5); any ratio used to justify
or test a complexity bound must come from THIS protocol, not from sweep
logs.

Usage:
    python tools/paired_decade.py --small /root/testdata/sf0.1 \
        --big .scratch/sf1 --factor 10 [--prod] [--best-of 1] key [key..]

--prod applies tools/conf_matrix.PRODUCTION_CONF, the one definition of
the production conf (pair-block ceiling, band-bucket cap, inverted-index
maxDf guard and reliable checkpoints).
Prints one JSON line per key:
  {"key": ..., "small_sec": ..., "big_sec": ..., "ratio": ...,
   "small_rows": ..., "big_rows": ..., "bound": ..., "allowed": ...,
   "flag": bool}
where bound comes from tools/scale_ratios.COMPLEXITY_BOUNDS (default
1.0 = linear) and allowed = factor * bound; plus the CPU fields with
--cpu and the spill fields with --spill. Each run is profiled by
mediaplaycounts_spark.profile.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mediaplaycounts_spark.profile import profile  # noqa: E402


def _run(qs, key, sf_dir, spark):
    """One profiled run: the build and a count(). Timed from BEFORE the
    callable: keys with eager checkpoint_df lineage cuts do most of
    their work at construction time, and a count()-only timer would
    measure a scan of the materialized RDD."""
    return profile(spark, key, lambda: qs[key](spark, sf_dir).count())


def _leg(qs, key, sf_dir, spark, best_of) -> dict:
    """best_of timed runs of one leg: {"wall": min wall, "rows", "cpu":
    min executor CPU, "spill": (memory, disk) spill bytes summed over
    the runs}. CPU and spill are None when the UI is off.

    Wall and CPU floors are taken INDEPENDENTLY across the repeats:
    r7 measured identical back-to-back runs of an identical plan on
    identical data varying 1.4-3.6x in executor CPU in one JVM
    (memory-pressure-dependent execution paths — hash-agg/sort
    fallbacks, GC interaction; rows and shuffle bytes identical), so
    the floor of each metric is the closest observable to that
    metric's true cost.
    """
    profs = []
    for _ in range(best_of):
        profs.append(_run(qs, key, sf_dir, spark))
        # GC between repeats, not only between legs/keys: a best-of-3
        # big leg otherwise accumulates 4 runs' shuffle dirs (~28 GB
        # each on the sf3 pair keys) in one JVM and dies on disk —
        # ContextCleaner reaps a run's shuffles only after its RDDs are
        # GC'd. Outside the timed region; floors unaffected.
        try:
            spark._jvm.System.gc()
            time.sleep(2)
        except Exception:
            pass
    if profs[0].totals is None:
        cpu = spill = None
    else:
        cpu = min(p.cpu_s for p in profs)
        spill = tuple(
            sum(p.totals[f] for p in profs)
            for f in ("memoryBytesSpilled", "diskBytesSpilled")
        )
    return {
        "wall": min(p.wall_s for p in profs),
        "rows": profs[-1].result,
        "cpu": cpu,
        "spill": spill,
    }


def _report(args, key: str, small: dict, big: dict) -> bool:
    """Print one key's JSON line from its two legs ({"wall", "rows",
    "cpu", "spill"}); return its flag."""
    from tools.scale_ratios import COMPLEXITY_BOUNDS

    bound = COMPLEXITY_BOUNDS.get(key, 1.0)
    # identical charge rule to scale_ratios.py: an operator whose
    # OUTPUT grows faster than the input is charged for its output
    rows_growth = (big["rows"] / small["rows"]) if small["rows"] else 1.0
    allowed = bound * max(args.factor, rows_growth)
    ratio = big["wall"] / small["wall"] if small["wall"] else float("inf")
    flag = ratio > allowed and big["wall"] >= 2.0
    # With --cpu, the flag is adjudicated on whichever of the wall
    # or executor-CPU (work) ratio is LOWER: r7 established that
    # wall on this box mode-flips 1.4-3.6x for identical runs while
    # rows/bytes stay constant, so a key whose WORK scales within
    # bound is not super-linear no matter which mode the big leg
    # drew. A key over bound on BOTH metrics still flags.
    cpu_ratio = None
    if args.cpu and small["cpu"] and big["cpu"]:
        cpu_ratio = big["cpu"] / small["cpu"]
        flag = flag and (cpu_ratio > allowed)
    elif args.cpu:
        # No CPU reading (UI unreachable) or a zero one: the gate
        # silently falling back to wall-only is exactly how a
        # load-band flag masquerades as a regression (ADVICE r7).
        print(
            f"WARNING: {key}: CPU adjudication SKIPPED "
            f"(small_cpu={small['cpu']}, big_cpu={big['cpu']} — "
            "flag is wall-only)",
            file=sys.stderr,
        )
    rec = {
        "key": key,
        "small_sec": round(small["wall"], 1),
        "big_sec": round(big["wall"], 1),
        "ratio": round(ratio, 1),
        "small_rows": small["rows"],
        "big_rows": big["rows"],
        "rows_growth": round(rows_growth, 2),
        "bound": bound,
        "allowed": round(allowed, 1),
        "flag": flag,
        "conf": ("prod" if args.prod else "default")
        + ("".join(" " + c for c in args.conf)),
        "factor": args.factor,
    }
    if args.fresh_legs:
        rec["protocol"] = f"fresh-legs best-of-{args.best_of}"
    if cpu_ratio is not None:
        rec["small_cpu_s"] = round(small["cpu"], 1)
        rec["big_cpu_s"] = round(big["cpu"], 1)
        rec["cpu_ratio"] = round(cpu_ratio, 1)
    if args.spill:
        for leg, d in (("small", small), ("big", big)):
            mem, disk = d["spill"] or (None, None)
            rec[f"{leg}_spill_mem"] = mem
            rec[f"{leg}_spill_disk"] = disk
    print(json.dumps(rec))
    sys.stdout.flush()
    return flag


def _fresh_legs_parent(args) -> None:
    """--fresh-legs driver: one child JVM per (key, leg); ratio math and
    flag rule identical to the one-JVM path. Child stdout is one JSON
    line; child stderr passes through for progress visibility."""
    import subprocess

    def leg(key: str, sf_dir: str) -> dict:
        cmd = [
            sys.executable, __file__, "--_one-leg", sf_dir,
            "--best-of", str(args.best_of),
        ]
        for flag in ("prod", "cpu", "spill"):
            if getattr(args, flag):
                cmd.append(f"--{flag}")
        for kv in args.conf:
            cmd += ["--conf", kv]
        if args.io_codec:
            cmd += ["--io-codec", args.io_codec]
        if args.shuffle_partitions:
            cmd += ["--shuffle-partitions", str(args.shuffle_partitions)]
        cmd.append(key)
        out = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO
        )
        if out.returncode != 0:
            tail = "\n".join(out.stderr.splitlines()[-15:])
            raise RuntimeError(
                f"child leg failed ({key} @ {sf_dir}, rc={out.returncode}):\n{tail}"
            )
        return json.loads(out.stdout.strip().splitlines()[-1])

    any_flag = False
    for key in args.keys:
        any_flag |= _report(args, key, leg(key, args.small), leg(key, args.big))
    if args.gate and any_flag:
        raise SystemExit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default=os.path.join(REPO, ".scratch", "sf1"))
    ap.add_argument("--factor", type=float, default=10.0)
    ap.add_argument("--prod", action="store_true",
                    help="apply tools/conf_matrix.PRODUCTION_CONF")
    ap.add_argument("--best-of", type=int, default=1)
    ap.add_argument("--gate", action="store_true",
                    help="exit non-zero if any key exceeds its allowed ratio")
    ap.add_argument("--spill", action="store_true",
                    help="report per-leg memory/disk spill bytes (REST)")
    ap.add_argument("--cpu", action="store_true",
                    help="also record per-leg executor-CPU floors and a "
                         "cpu_ratio (REST; implies spark.ui.enabled). "
                         "The flag then requires BOTH the wall and the "
                         "work (CPU) ratio over bound — wall alone "
                         "mode-flips 1.4-3.6x on this box for identical "
                         "runs (r7 measurement, SCALE.md)")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions override for BOTH "
                         "legs (VERDICT r9 #7): the sf10 minhash leg's "
                         "36 GB disk / 1 TB page spill is 32 partitions "
                         "each external-sorting ~1.2 GB of exchange in "
                         "bounded execution memory; more partitions = "
                         "smaller per-task sorts = less paging. Applied "
                         "to both legs so the ratio stays "
                         "conf-consistent.")
    ap.add_argument("--io-codec", default=None,
                    help="spark.io.compression.codec override for BOTH "
                         "legs (e.g. zstd: ~40%% smaller shuffle files "
                         "than the lz4 default — the knob that fits a "
                         "~65 GB-shuffle big leg onto this box's 77 GB "
                         "disk; ratio stays conf-consistent because the "
                         "small leg pays the same codec)")
    ap.add_argument("--fresh-legs", action="store_true",
                    help="run each LEG in its own subprocess JVM "
                         "(warm-up at that leg's own SF inside the "
                         "child, then best-of-N). The one-JVM protocol "
                         "systematically biases the BIG leg: it always "
                         "runs in a JVM aged by the warm-up + small "
                         "leg, and r8 measured the aged-JVM penalty at "
                         "2.5-2.8x CPU on the array-heavy verify joins "
                         "(evidence/verify_fix_r8.jsonl: same sf3 plan "
                         "896 s CPU fresh vs 2171-2535 s aged — three "
                         "independent aged sessions). Fresh legs hold "
                         "JVM state CONSTANT across legs, so the ratio "
                         "measures the ENGINE's scaling, not HotSpot "
                         "code-cache history. Shuffle dirs are also "
                         "reaped at child exit (no cross-leg disk "
                         "accumulation).")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra k=v session conf applied to BOTH legs "
                         "(repeatable) — e.g. "
                         "spark.mediaplaycounts.pairBlockCeiling=100 to "
                         "force the LSH ceiling route at every SF (r11, "
                         "the multiprobe decade row)")
    ap.add_argument("--_one-leg", default=None, help=argparse.SUPPRESS)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    if args.fresh_legs and not args._one_leg:
        _fresh_legs_parent(args)
        return

    from mediaplaycounts_spark.session import get_spark
    import __spark_entry__ as entrymod

    extra_conf = {}
    if args.spill or args.cpu:
        extra_conf["spark.ui.enabled"] = "true"
        # REST stage metrics are bounded by retainedStages (default
        # 1000): big keys run thousands of stages across best-of
        # repeats, and a stage evicted before its run is read is lost.
        extra_conf["spark.ui.retainedStages"] = "100000"
    if args.io_codec:
        # must land in the session builder: the codec is read from the
        # core SparkConf at shuffle-writer construction, not per-query
        extra_conf["spark.io.compression.codec"] = args.io_codec
    if args.shuffle_partitions:
        extra_conf["spark.sql.shuffle.partitions"] = str(
            args.shuffle_partitions
        )
    spark = get_spark("paired-decade", extra_conf=extra_conf or None)
    if args.prod:
        from tools.conf_matrix import PRODUCTION_CONF

        for k, v in PRODUCTION_CONF.items():
            spark.conf.set(k, v)
    for kv in args.conf:
        k, _, v = kv.partition("=")
        if not v:
            raise SystemExit(f"--conf expects k=v, got {kv!r}")
        spark.conf.set(k, v)
    qs = entrymod.queries()

    if args._one_leg:
        # child mode (--fresh-legs): warm-up + best-of-N at ONE sf in
        # this fresh JVM, print one JSON, exit (shuffle dirs reaped by
        # JVM shutdown)
        key = args.keys[0]
        _run(qs, key, args._one_leg, spark)  # warm-up at the leg's own SF
        print(json.dumps(_leg(qs, key, args._one_leg, spark, args.best_of)))
        return

    any_flag = False
    for key in args.keys:
        _run(qs, key, args.small, spark)  # warm-up (JVM/JIT/code cache)
        small = _leg(qs, key, args.small, spark, args.best_of)
        # GC between the legs too (not just between keys): the warm-up
        # + small-leg shuffle dirs (~12 GB on the triangle decade) are
        # otherwise still on disk when the big leg starts, and a big
        # leg that peaks near the disk ceiling dies on exactly that
        # margin (measured: triangle sf10 completed at a ~62 GB peak in
        # one attempt and hit "No space left" in the next, the diff
        # being ContextCleaner timing). Outside both timed regions, so
        # the ratio is unaffected.
        try:
            spark._jvm.System.gc()
            time.sleep(3)
        except Exception:
            pass
        big = _leg(qs, key, args.big, spark, args.best_of)
        any_flag |= _report(args, key, small, big)
        # Force a JVM GC between keys: shuffle files are reaped by the
        # ContextCleaner only when their RDDs are collected, and a big
        # heap GCs rarely — a multi-key big-SF session otherwise
        # accumulates every key's shuffle dirs until the DISK fills
        # (measured: 37 GB of blockmgr-* killed the r7 sf10 sweep).
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
    if args.gate and any_flag:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
