"""Profile one registry key or production label: wall, executor CPU,
shuffle, spill and the stages that cost the most.

One warm-up write to the ``noop`` sink, then one profiled build and
write (:func:`mediaplaycounts_spark.profile.profile`). Prints the record
as one JSON line, then the top stages by executor CPU, one per line.
Run one key per invocation: a fresh JVM keeps keys from warming each
other up.

Usage:
    python tools/profile_key.py KEY [--sf DIR] [--prod]

``--prod`` applies ``tools/conf_matrix.PRODUCTION_CONF``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOP_STAGES = 16


def main() -> None:
    from mediaplaycounts_spark import registry
    from mediaplaycounts_spark.profile import profile
    from mediaplaycounts_spark.session import get_spark
    from mediaplaycounts_spark.tables import DEFAULT_SF_DIR
    import __spark_entry__ as entrymod

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("key", help="registry key or production label")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--prod", action="store_true", help="apply PRODUCTION_CONF")
    args = ap.parse_args()

    spark = get_spark(
        "profile-key",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.retainedStages": "100000"},
    )
    if args.prod:
        from tools.conf_matrix import PRODUCTION_CONF

        for k, v in PRODUCTION_CONF.items():
            spark.conf.set(k, v)
    prods = registry.production_paths()
    fn = prods[args.key].fn if args.key in prods else entrymod.queries()[args.key]

    def build_and_write() -> None:
        fn(spark, args.sf).write.mode("overwrite").format("noop").save()

    build_and_write()  # warm-up
    rec = profile(spark, args.key, build_and_write).record()
    stages = rec.pop("per_stage") or []
    print(json.dumps({**rec, "sf": args.sf, "prod": args.prod}))
    for st in sorted(stages, key=lambda s: -s["executorCpuTime"])[:TOP_STAGES]:
        print(json.dumps(st))


if __name__ == "__main__":
    main()
