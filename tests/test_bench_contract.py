"""Bench stdout contract: the one JSON line must survive the driver's
bounded tail buffer (VERDICT r11 next #2 — BENCH_r10's single line grew
past the tail and was front-clipped mid-JSON, so PERF_r11 had no
round-over-round table).

Pure-function tests against bench.contract_line: no Spark session, no
benchmark run. The clipped-tail simulation takes the LAST
TAIL_SAFE_BYTES of a realistic full stdout (contract line at current
query-set volume) and requires the contract to parse back out of it —
exactly what a tail-buffer capture does.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _realistic_payload():
    """Contract-line inputs at the CURRENT query-set volume, with
    worst-case-width values (4-decimal floats, like a real run)."""
    timings = {k: 0.1234 for k in bench.HEADLINE}
    extended = {k: 12.3456 for k in bench.EXTENDED}
    prod = {
        k: 123.4567
        for k in (
            "prod_ann_ivf",
            "prod_ann_lsh",
            "prod_ann_lsh_multiprobe",
            "prod_ann_pq",
            "prod_e2e_curation",
            "prod_minhash_pairs",
            "prod_simhash_pairs",
        )
    }
    return timings, extended, prod


def test_contract_line_fits_tail_budget():
    timings, extended, prod = _realistic_payload()
    line = bench.contract_line(1.2345, timings, extended, prod, {}, 0.1)
    assert len(line) <= bench.TAIL_SAFE_BYTES, (
        f"contract line is {len(line)} B > {bench.TAIL_SAFE_BYTES} B — "
        "the driver tail buffer would clip it (the BENCH_r10 failure)"
    )


def test_contract_line_survives_clipped_tail():
    """Simulate the driver: keep only the last TAIL_SAFE_BYTES of
    stdout, then parse the last {-starting line."""
    timings, extended, prod = _realistic_payload()
    line = bench.contract_line(1.2345, timings, extended, prod, {}, 0.1)
    stdout = line + "\n"
    tail = stdout[-bench.TAIL_SAFE_BYTES:]
    candidates = [l for l in tail.splitlines() if l.startswith("{")]
    assert candidates, "no parseable line survived the tail clip"
    parsed = json.loads(candidates[-1])
    assert parsed["metric"] == "headline_total_warm_best3"
    assert parsed["value"] == 1.2345
    assert parsed["unit"] == "sec"
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert set(parsed["extended"]) == set(bench.EXTENDED)
    assert parsed["sf"] == 0.1


def test_contract_keys_and_query_set_unchanged():
    """The driver's comparison contract: same metric name, same headline
    composition, value = sum of headline queries (unchanged from every
    prior round)."""
    timings, extended, prod = _realistic_payload()
    parsed = json.loads(
        bench.contract_line(9.9, timings, extended, prod, {}, 0.1)
    )
    assert list(parsed)[:4] == ["metric", "value", "unit", "queries"]
    assert bench.HEADLINE == [
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
