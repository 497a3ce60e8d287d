"""Semantics tests for the advanced-surface operators: each query is
cross-checked against an independent brute-force implementation
(pandas / pure python) on sf0.001 — not just the DuckDB oracle, so an
error shared by both SQL formulations would still be caught."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from mediaplaycounts_spark.registry import all_queries
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_pd():
    df = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    # events.ts is timestamp[us]; floor keeps any finer unit pandas picks
    # at microsecond precision, as tables.load_table sees it
    df["ts"] = df["ts"].dt.floor("us")
    return df


def _run(spark, key):
    return all_queries()[key](spark, SF_SMOKE).toPandas()


def test_recursive_cte_depths_are_heap_depths(spark):
    out = _run(spark, "sql_recursive_cte")
    assert len(out) == 20
    for _, row in out.iterrows():
        k = int(row["source"][3:])
        assert row["depth"] == int(math.floor(math.log2(k + 1)))


def test_rolling_distinct_matches_bruteforce(spark, events_pd):
    out = _run(spark, "win_rolling_distinct").set_index("day")["u7"]
    pairs = events_pd.assign(day=events_pd["ts"].dt.normalize())
    days = sorted(pairs["day"].unique())
    for d in (days[0], days[6], days[-1]):
        lo = d - pd.Timedelta(days=6)
        expect = pairs[(pairs["day"] >= lo) & (pairs["day"] <= d)][
            "user_id"
        ].nunique()
        assert out[pd.Timestamp(d).date()] == expect


def test_peak_concurrency_matches_bruteforce(spark, events_pd):
    out = _run(spark, "agg_peak_concurrency").set_index("event_type")
    for etype, grp in events_pd.groupby("event_type"):
        bounds = []
        for _, r in grp.iterrows():
            dur = int(round(r["value"]))
            bounds.append((r["ts"], 1))
            bounds.append((r["ts"] + pd.Timedelta(seconds=dur), -1))
        bounds.sort(key=lambda b: (b[0], b[1]))
        run = peak = 0
        for _, delta in bounds:
            run += delta
            peak = max(peak, run)
        assert out.loc[etype, "peak"] == peak
        assert out.loc[etype, "n_events"] == len(grp)


def test_triangle_count_matches_bruteforce(spark):
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_partkey", "l_suppkey"]
    ).drop_duplicates()
    by_part: dict[int, set[int]] = {}
    for pk, sk in li.itertuples(index=False):
        by_part.setdefault(pk, set()).add(sk)
    edges = set()
    for sks in by_part.values():
        ss = sorted(sks)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                edges.add((ss[i], ss[j]))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    tri = sum(
        1
        for a, b in edges
        for c in adj.get(b, ())
        if c in adj.get(a, ())
    )
    out = _run(spark, "graph_triangle_count").iloc[0]
    assert out["n_edges"] == len(edges)
    assert out["n_triangles"] == tri


def test_mode_exact_tiebreak_lexicographic(spark, events_pd):
    out = _run(spark, "agg_mode_exact").set_index("user_id")
    counts = (
        events_pd.groupby(["user_id", "event_type"]).size().reset_index(name="n")
    )
    for uid, grp in counts.groupby("user_id"):
        best = grp.sort_values(["n", "event_type"], ascending=[False, True]).iloc[0]
        assert out.loc[uid, "mode_type"] == best["event_type"]
        assert out.loc[uid, "n_mode"] == best["n"]


def test_skewness_matches_scipy_style_formula(spark, events_pd):
    out = _run(spark, "agg_skewness_exact").set_index("event_type")
    for etype, grp in events_pd.groupby("event_type"):
        raw = grp["value"].to_numpy(dtype="float64")
        # Spark/DuckDB round() is half-away-from-zero; numpy rounds half-even
        v = (np.sign(raw) * np.floor(np.abs(raw) + 0.5)).astype("float64")
        m2 = (v**2).mean() - v.mean() ** 2
        m3 = (v**3).mean() - 3 * v.mean() * (v**2).mean() + 2 * v.mean() ** 3
        expect = m3 / m2**1.5
        assert abs(out.loc[etype, "skew"] - expect) < 1e-4


def test_count_if_filtered_sentinels(spark, events_pd):
    out = _run(spark, "agg_count_if_filtered")
    assert (out["n"] >= out["n_purchase"]).all()
    day0 = events_pd[events_pd["ts"].dt.normalize() == events_pd["ts"].dt.normalize().min()]
    row0 = out.sort_values("day").iloc[0]
    assert row0["n"] == len(day0)
    assert row0["n_purchase"] == (day0["event_type"] == "purchase").sum()
    expect_cents = (
        (day0[day0["event_type"] == "purchase"]["value"] * 100).round(0).astype("int64").sum()
    )
    assert row0["purchase_cents"] == expect_cents


def test_xml_roundtrip_fidelity(spark):
    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "lang", "n_chars"]
    )
    out = _run(spark, "scan_xml").set_index("lang")
    for lang, grp in docs.groupby("lang"):
        assert out.loc[lang, "n_docs"] == len(grp)
        assert out.loc[lang, "sum_chars"] == grp["n_chars"].sum()
        assert out.loc[lang, "min_doc_id"] == grp["doc_id"].min()
