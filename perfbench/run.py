"""Product-loop benchmark: nightly ingest and API serving.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_daily --seed 1 --seconds 15 --trace 0

Inputs are generated from ``--seed`` (see ``gen.py``), the program is
measured for ``--seconds``, every output is checked, and the last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones
of ``BENCHMARK.json``; with ``--trace 1`` they are its per-layer ones,
measured in a traced pass of the named workload and a shorter one of
the other, and the spans go to ``.perfbench_out/``. Spark runs as the
program's ``get_spark`` sets it up, with its UI off unless tracing
needs the REST API.
Everything the run writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ingest_daily", "api_serving")
#: Timed seconds of the other workload's pass in a traced run.
SIDE_SECONDS = 8


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _session(work: pathlib.Path, trace: bool):
    """The program's own session bootstrap, with every scratch path
    inside ``work``."""
    from mediaplaycounts_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    return get_spark("perfbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(out) -> dict[str, float]:
    ms = [1e3 * x for x in out.op_s]
    return {
        "setup_s": statistics.median(out.setup_s),
        "p50_ms": statistics.median(ms),
        # CPU is a cost, so this is the timed operations' total over their
        # count: background threads (GC, Spark's listeners) count in full.
        "cpu_ms_per_op": 1e3 * statistics.mean(out.cpu_s),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expected value, so the checks must fail")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import mediaplaycounts_spark.api.http  # noqa: F401
        import mediaplaycounts_spark.ingest.mediacounts  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the program is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    spec = _spec()
    import loop
    from spans import Tracer

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    try:
        t0 = time.perf_counter()
        spark = _session(work, bool(args.trace))
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        loop.note("session")
        try:
            tracer = Tracer(spark, bool(args.trace))

            def run(workload: str, seconds: float):
                ctx = loop.Ctx(spark, work / workload, args.seed, seconds, args.size, tracer,
                               args.plant_wrong)
                return getattr(loop, workload)(ctx), ctx

            out, ctx = run(args.workload, args.seconds)
            if args.trace:
                # A traced run reports every layer, so the other workload
                # gets a short traced pass too; its checks count.
                for other in WORKLOADS:
                    if other != args.workload:
                        side, _ = run(other, SIDE_SECONDS)
                        out.layers = {**side.layers, **out.layers}
                        out.attempted += side.attempted
                        out.failed += side.failed
            rss = ctx.jvm_peak_rss_mb()
            loop.note("measure")
        finally:
            _stop(spark)
        if args.trace:
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            values = {**out.layers, "session.start_s": session_s,
                      "session.jvm_peak_rss_mb": rss}
            missing = sorted({n for n, _ in names} - values.keys())
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {missing}")
            outdir = ROOT / ".perfbench_out"
            outdir.mkdir(exist_ok=True)
            tracer.dump(outdir / f"spans-{args.workload}-seed{args.seed}.jsonl")
        else:
            names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
            values = end_to_end(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed={args.seed} session_s={session_s:.2f} "
          f"setup_s={[round(s, 3) for s in out.setup_s]} "
          f"ops={len(out.op_s)} ops_per_s={len(out.op_s) / sum(out.op_s):.3f} "
          f"op_s={[round(s, 3) for s in out.op_s]} "
          f"cpu_s={[round(s, 3) for s in out.cpu_s]} "
          f"jit_s={[round(s, 3) for s in out.jit_s]}", file=sys.stderr)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
