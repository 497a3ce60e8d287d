"""Dual-anchor epoch calibration (VERDICT r10 next #5).

The r10 protocol hole: bench_reference.json carried a FAST-epoch anchor
only, so the calibrated arm was never validated on the slow epoch
class. These tests replay the committed r10 slow-run artifact
(evidence/bench_r10_local.json, raw 4.1657 s) through bench._normalize
and require it to land back in the baseline band — plus the fast-frame
identity and legacy-schema back-compat. Pure-function tests: no Spark
session, no benchmark run.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _ref():
    with open(os.path.join(REPO, "bench_reference.json")) as f:
        return json.load(f)


def test_committed_ref_carries_both_anchor_classes():
    ref = _ref()
    labels = {a["label"] for a in ref.get("anchors", [])}
    assert {"fast", "slow"} <= labels
    for a in ref["anchors"]:
        assert set(a["calibration"]) == {"cal_cpu", "cal_shuffle", "cal_scan"}
        assert a["headline"] > 0


def test_slow_epoch_replay_lands_in_baseline_band():
    """The r10 done-criterion: replaying the slow-run artifact
    (raw 4.17 s) must calibrate to ~the baseline band (the fast
    anchor's own 2.03 s headline; BASELINE.md band 1.9-2.2, judge
    bound 2.1-2.3 — assert the union with measurement slack)."""
    ref = _ref()
    with open(os.path.join(REPO, "evidence", "bench_r10_local.json")) as f:
        slow_run = json.load(f)
    cal = bench._normalize(
        slow_run["value"], slow_run["queries"], slow_run["calibration"], ref
    )
    assert cal is not None
    assert cal["anchor_label"] == "slow", (
        "nearest-anchor pick failed: a slow-epoch probe vector must "
        f"select the slow anchor, got {cal['anchor_label']}"
    )
    # within-class probe ratio ~1 (the artifact IS the anchor's epoch)
    assert 0.9 <= cal["epoch_ratio"] <= 1.1
    # cross-class conversion via co-recorded headlines
    assert cal["class_factor"] < 0.7
    assert 1.9 <= cal["value"] <= 2.35, cal


def test_fast_epoch_replay_is_identity():
    """A run whose probes equal the fast anchor's gets ratio 1 and
    class_factor 1 — the r10 single-anchor formula, unchanged."""
    ref = _ref()
    fast = next(a for a in ref["anchors"] if a["label"] == "fast")
    cal = bench._normalize(
        2.0, {"agg_multi": 0.3}, dict(fast["calibration"]), ref
    )
    assert cal["anchor_label"] == "fast"
    assert cal["epoch_ratio"] == 1.0
    assert cal["class_factor"] == 1.0
    assert cal["value"] == 2.0
    assert cal["queries"]["agg_multi"] == 0.3


def test_mid_epoch_run_never_overclaims():
    """A run halfway between classes (log-space) picks whichever
    anchor is nearer, and the applied epoch_ratio stays the most
    conservative probe — never more credit than every probe
    supports."""
    ref = _ref()
    fast = next(a for a in ref["anchors"] if a["label"] == "fast")
    # 10% slower than fast on every probe: nearest = fast, and the
    # correction is bounded by the single most conservative probe.
    cal_run = {k: v * 1.1 for k, v in fast["calibration"].items()}
    cal = bench._normalize(2.2, {}, cal_run, ref)
    assert cal["anchor_label"] == "fast"
    assert cal["class_factor"] == 1.0
    assert 0.89 <= cal["epoch_ratio"] <= 0.92
    # value is rounded to 4 decimals in the artifact
    assert abs(cal["value"] - 2.2 * cal["epoch_ratio"]) < 1e-3


def test_legacy_single_calibration_ref_still_normalizes():
    """Back-compat: a ref with only the top-level calibration section
    (no anchors list) behaves as a single recorded anchor."""
    ref = _ref()
    legacy = {
        "sf_dir": ref["sf_dir"],
        "queries": ref["queries"],
        "calibration": ref["calibration"],
    }
    cal = bench._normalize(2.0, {}, dict(ref["calibration"]), legacy)
    assert cal is not None
    assert cal["anchor_label"] == "recorded"
    assert cal["epoch_ratio"] == 1.0
    assert cal["class_factor"] == 1.0
