"""Dump explain("formatted") plans for registry keys / production labels
to plans/<dir>/<key>_<suffix>.txt (r12 evidence tooling).

Usage:
  python tools/dump_plans.py OUTDIR SUFFIX KEY [KEY ...] [--runtime]

With --runtime, each key is also EXECUTED into the noop sink and the
AQE-final plan (isFinalPlan=true) is fetched from the SQL REST endpoint
into <key>_<suffix>_runtime.txt — static explain cannot show runtime
exchange reuse.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        print(__doc__)
        raise SystemExit(1)
    outdir, suffix = sys.argv[1], sys.argv[2]
    runtime = "--runtime" in sys.argv
    keys = [a for a in sys.argv[3:] if a != "--runtime"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mediaplaycounts_spark.session import get_spark
    from mediaplaycounts_spark import registry
    from mediaplaycounts_spark.profile import rest_json
    import __spark_entry__ as entrymod

    spark = get_spark(
        "dump-plans",
        extra_conf={"spark.ui.enabled": "true"} if runtime else None,
    )
    qs = entrymod.queries()
    prods = registry.production_paths()
    os.makedirs(outdir, exist_ok=True)
    for key in keys:
        fn = prods[key].fn if key in prods else qs[key]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        if runtime:
            df.write.mode("overwrite").format("noop").save()
            sql = rest_json(
                spark.sparkContext,
                "sql?details=true&planDescription=true&length=10000",
            )
            final = [
                q
                for q in sql
                if "isFinalPlan=true" in (q.get("planDescription") or "")
            ]
            if final:
                rt = final[-1]["planDescription"]
                rpath = os.path.join(outdir, f"{key}_{suffix}_runtime.txt")
                with open(rpath, "w") as f:
                    f.write(rt)
                print(f"wrote {rpath} ({len(rt)} bytes)")


if __name__ == "__main__":
    main()
