"""Join-condition expense audit (VERDICT r8 next #3).

r8 measured (evidence/aged_fix_probe*, verify_variants_sf3_r8.jsonl)
that EXPENSIVE EXPRESSIONS INSIDE JOIN CONDITIONS are the one plan
shape with catastrophic aged-JVM sensitivity: the same arithmetic costs
2.5-2.8x more CPU in long-lived sessions when it sits in a join
condition vs in a Project/Aggregate above the join (896 s fresh vs
1126-2535 s aged at sf3 for the pair verify). Long-lived 100 TB
executors age exactly like that, so the repo rule is: nothing heavier
than scalar comparisons/arithmetic on the join keys in a condition —
heavy eval goes behind an algebraic guard + aggregate barrier
(operators/dedup.py::_jaccard_verify).

This tool audits the rule MECHANICALLY at the optimized-plan level —
the level where the hazard actually lives, because Catalyst PUSHES
innocent-looking post-join filters into conditions (the r8 bug's source
looked clean): for every registered key (plus the raw production
paths), build the plan, extract every Join node's condition, and flag
conditions containing expensive expression classes (higher-order
lambdas, array set ops, regex, string-distance, crypto hashes,
array-constructing ops).

Known blind spot (documented, inherent): keys that EAGERLY checkpoint
(connected components, e2e pipelines) truncate lineage at build time,
so pre-checkpoint joins do not appear in their final plan. Those
segments are covered through the non-checkpointing keys built from the
same operators (the pair generators, verifies, and candidate joins all
register standalone).

Usage:
    python tools/join_condition_audit.py [--sf /root/testdata/sf0.001]
Prints one line per flagged (key, join condition); exits nonzero if
any flag is not in the documented allowlist.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Expression classes that must not appear inside a join condition.
#: Lowercase substring match against the condition text.
EXPENSIVE = [
    "lambdafunction",   # any higher-order function (transform/filter/...)
    "array_intersect",
    "array_union",
    "array_except",
    "arrays_overlap",
    "array_contains",
    "regexp",
    "rlike",
    " like(",
    "levenshtein",
    "sha2",
    "sha1",
    "md5(",
    "aes_",
    "sequence(",
    "explode",
    "from_json",
    "get_json",
    "split(",
]

#: (key, condition-substring) pairs reviewed and accepted, with the
#: reason. Keep this SHORT — the rule is to fix, not allowlist.
_GUARD_WHY = (
    "the r8 algebraic guard of the MinHash verify"
    " (operators/dedup.py::_jaccard_verify): deliberately ONE intersect"
    " occurrence in the"
    " condition pruning ~80% of candidates before the barrier exchange;"
    " the exact division runs above the aggregate barrier. Measured"
    " aged-JVM-stable: sf3 aged CPU 2535->792 s after this exact shape"
    " (evidence/aged_fix_r8.jsonl, verify_fix_r8.jsonl); a guard-free"
    " variant re-ships the unpruned candidate stream."
)
ALLOWLIST: dict[tuple[str, str], str] = {
    ("dedup_near_minhash", "array_intersect"): _GUARD_WHY,
    ("prod_minhash_pairs", "array_intersect"): _GUARD_WHY,
}


def _join_conditions(plan_str: str) -> list[str]:
    conds = []
    for line in plan_str.splitlines():
        m = re.search(r"\bJoin\s+\w+(?:\s*,\s*(.*))?$", line.strip())
        if m and m.group(1):
            conds.append(m.group(1))
    return conds


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as e
    from mediaplaycounts_spark import registry
    from mediaplaycounts_spark.session import get_spark

    qs = dict(e.queries())
    for label, p in registry.production_paths().items():
        qs[label] = p.fn
    keys = args.keys or sorted(qs)
    spark = get_spark("join-cond-audit")

    n_joins = n_flagged = n_err = 0
    flags = []
    for k in keys:
        try:
            df = qs[k](spark, args.sf)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as ex:
            print(f"~ {k}: BUILD ERROR {type(ex).__name__}: {str(ex)[:120]}")
            n_err += 1
            continue
        for cond in _join_conditions(plan):
            n_joins += 1
            low = cond.lower()
            hits = [p for p in EXPENSIVE if p in low]
            if not hits:
                continue
            allowed = next(
                (
                    why
                    for (ak, sub), why in ALLOWLIST.items()
                    if ak == k and sub in cond
                ),
                None,
            )
            if allowed:
                print(f"~ {k}: allowlisted [{','.join(hits)}] — {allowed}")
                continue
            n_flagged += 1
            flags.append(k)
            print(f"✗ {k}: [{','.join(hits)}] in join condition: {cond[:240]}")
    print(
        f"\n{len(keys)} keys, {n_joins} join conditions inspected, "
        f"{n_flagged} flagged, {n_err} build errors"
    )
    return 1 if n_flagged else 0


if __name__ == "__main__":
    sys.exit(main())
