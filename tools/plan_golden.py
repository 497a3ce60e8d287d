"""Golden physical-plan shapes for the headline bench keys.

VERDICT r2 #3: the bench gate only catches >2x wall-time blowups; a
Spark-version or config change that flips a broadcast join to SMJ or
drops a parquet filter pushdown can cost real time at 100 TB while
staying inside the 2x band at sf0.1. This module snapshots the plan
FEATURES that matter for scale — shuffle count, join strategy mix,
filter/limit pushdown, Python-eval nodes — into a golden JSON asserted
by tests/test_plan_golden.py, so a plan regression fails CI before it
costs wall-clock.

Regenerate (a reviewed act — justify shape changes in the commit):

    python tools/plan_golden.py --regen

Features are extracted from ``df.explain("formatted")`` of the UNRUN
DataFrame (the AQE initial plan — deterministic for a fixed Spark
version + session config + input stats) at the test SF (sf0.001).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import pathlib
import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN_PATH = pathlib.Path(__file__).resolve().parents[1] / "tests" / "golden_plans.json"

#: The bench headline set (bench.py HEADLINE) — the queries whose plan
#: shape is frozen. Kept in sync by test_golden_covers_headline.
KEYS = [
    "agg_multi",
    "agg_daily_playcount",
    "join_shuffle_equi",
    "join_broadcast_dim",
    "win_rolling_30d",
    "agg_pivot",
    "dedup_exact_hash",
    "text_tokenize_wordcount",
    "sim_topk_probe",
    "join_asof",
]

_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def extract_features(df) -> dict:
    """Scale-relevant plan-shape features from a DataFrame's formatted
    explain output."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    joins = {}
    for node in _JOIN_NODES:
        n = len(re.findall(rf"\b{node}\b", plan))
        if n:
            joins[node] = n
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "shuffles": len(
            re.findall(r"Arguments: (?:hash|range)partitioning", plan)
        ),
        "joins": joins,
        "has_pushed_filters": any(p.strip() for p in pushed),
        "n_scans": len(re.findall(r"Scan parquet", plan)),
        "row_wise_python": "BatchEvalPython" in plan,
        "has_limit_pushdown": "TakeOrderedAndProject" in plan,
    }


def compute_all(spark, sf_dir: str) -> dict[str, dict]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    return {k: extract_features(qs[k](spark, sf_dir)) for k in KEYS}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--regen", action="store_true")
    args = ap.parse_args()

    from mediaplaycounts_spark.session import get_spark

    spark = get_spark("plan-golden")
    got = compute_all(spark, args.sf)
    if args.regen:
        GOLDEN_PATH.write_text(json.dumps(got, indent=2, sort_keys=True) + "\n")
        print(f"wrote {GOLDEN_PATH}")
        return
    want = json.loads(GOLDEN_PATH.read_text())
    bad = {k: (want.get(k), got[k]) for k in got if want.get(k) != got[k]}
    if bad:
        for k, (w, g) in bad.items():
            print(f"DRIFT {k}:\n  golden {w}\n  actual {g}")
        sys.exit(1)
    print(f"{len(got)} headline plans match golden")


if __name__ == "__main__":
    main()
