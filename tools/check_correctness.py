"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, then compares row count, column names, and
values (order-insensitive, exact — with a tiny float tolerance reported
separately so near-misses are visible before they become hash
mismatches).

Usage:
    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [keys...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize dtypes, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif s.dtype == object:
            import datetime as _dt

            non_null = s.dropna()
            if len(non_null) and isinstance(
                non_null.iloc[0], (_dt.date, _dt.datetime, pd.Timestamp)
            ):
                s = pd.to_datetime(s).astype("datetime64[us]")
                out[c] = s
                continue
            s = s.map(
                lambda v: str(v)
                if not (v is None or (isinstance(v, float) and math.isnan(v)))
                else None
            )
        out[c] = s
    ndf = pd.DataFrame(out)
    ndf = ndf.sort_values(by=list(ndf.columns), ignore_index=True, na_position="last")
    return ndf


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> tuple[bool, str]:
    if len(spark_df) != len(duck_df):
        return False, f"row count {len(spark_df)} vs {len(duck_df)}"
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return False, f"columns {sc} vs {dc}"
    a, b = normalize(spark_df), normalize(duck_df)
    exact = a.equals(b)
    if exact:
        return True, "exact"
    # Diagnose: float near-miss vs real mismatch.
    diffs = []
    for c in a.columns:
        if a[c].dtype == "float64":
            av, bv = a[c].fillna(float("nan")), b[c].fillna(float("nan"))
            neq = ~((av == bv) | (av.isna() & bv.isna()))
            if neq.any():
                md = (av[neq] - bv[neq]).abs().max()
                diffs.append(f"{c}: {int(neq.sum())} cells differ, max |d|={md:.3e}")
        else:
            neq = ~((a[c] == b[c]) | (a[c].isna() & b[c].isna()))
            if neq.any():
                i = neq.idxmax()
                diffs.append(f"{c}: {int(neq.sum())} cells differ, e.g. {a[c][i]!r} vs {b[c][i]!r}")
    return False, "; ".join(diffs) if diffs else "row-order-sensitive mismatch"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--runtime-only",
        action="store_true",
        help="skip DuckDB oracles and bounds; record spark runtime + row "
        "count only (for scale-ratio sweeps where the oracle twin "
        "exceeds a sane budget at the big SF)",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="session conf(s) to set before running keys (e.g. "
        "spark.mediaplaycounts.pairBlockCeiling=2000 to exercise the "
        "production cosine LSH fallback in a scale sweep)",
    )
    ap.add_argument(
        "--json",
        metavar="PATH",
        help="also write results in the DRIVER's CORRECTNESS_rN.json "
        "shape ({key: {rows_match, schema_match, hash_match, "
        "spark_rows, oracle_rows, err}}), so the builder's full-"
        "registry sweep is diffable against the driver's 50-key "
        "sample (VERDICT r8 next #5)",
    )
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as e
    from mediaplaycounts_spark.session import get_spark

    qs, oracles = e.queries(), e.oracle_sql()
    keys = args.keys or sorted(qs)
    spark = get_spark("check-correctness")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
        print(f"conf: {k}={v}")
    con = duck_con(args.sf)

    from mediaplaycounts_spark import registry

    records: dict[str, dict] = {}

    def record(k, rows=None, schema=None, values=None, sr=None, orr=None, err=None):
        records[k] = {
            "rows_match": rows,
            "schema_match": schema,
            "hash_match": values,
            "spark_rows": sr,
            "oracle_rows": orr,
            "err": err,
        }

    n_pass = n_fail = n_rows_only = n_bound = 0
    for k in keys:
        if k not in qs:
            print(f"  {k}: UNKNOWN KEY")
            record(k, False, False, False, err="unknown key")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            # Build the DataFrame ONCE; the same object feeds the pandas
            # conversion and any bound check (a nondeterministic key must
            # be bounded against the execution that was graded).
            df = qs[k](spark, args.sf)
            sdf = df.toPandas()
        except Exception as ex:
            print(f"✗ {k}: SPARK ERROR {type(ex).__name__}: {str(ex)[:300]}")
            record(k, False, False, False, err=f"{type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        # Bounds run regardless of oracle presence: within_bound-style
        # keys carry BOTH an oracle (driver-visible) and a stronger
        # quantitative bound (asserted here).
        t_spark = time.time() - t0
        if args.runtime_only:
            print(f"~ {k}: rows-only ({len(sdf)} rows, spark={t_spark:.1f}s)")
            record(k, sr=len(sdf))
            n_rows_only += 1
            continue
        bound = registry.get(k).bound
        bound_msg = None
        if bound is not None:
            try:
                bound_msg = bound(spark, args.sf, df)
            except AssertionError as ex:
                print(f"✗ {k}: BOUND VIOLATED {str(ex)[:300]}")
                record(
                    k, False, False, False, sr=len(sdf),
                    err=f"bound violated: {str(ex)[:300]}",
                )
                n_fail += 1
                continue
        if k not in oracles:
            if bound_msg is not None:
                print(
                    f"✓ {k}: bound-pass — {bound_msg} "
                    f"({len(sdf)} rows, spark={t_spark:.1f}s)"
                )
                record(k, sr=len(sdf))
                n_bound += 1
                continue
            print(
                f"~ {k}: rows-only ({len(sdf)} rows, spark={t_spark:.1f}s)"
            )
            record(k, sr=len(sdf))
            n_rows_only += 1
            continue
        t1 = time.time()
        try:
            ddf = con.execute(oracles[k]).fetchdf()
        except Exception as ex:
            print(f"✗ {k}: ORACLE ERROR {type(ex).__name__}: {str(ex)[:300]}")
            record(
                k, False, False, False, sr=len(sdf),
                err=f"oracle: {type(ex).__name__}: {str(ex)[:300]}",
            )
            n_fail += 1
            continue
        t_oracle = time.time() - t1
        ok, msg = compare(sdf, ddf)
        record(
            k,
            rows=len(sdf) == len(ddf),
            schema=sorted(sdf.columns) == sorted(ddf.columns),
            values=bool(ok),
            sr=len(sdf),
            orr=len(ddf),
        )
        if ok and bound_msg is not None:
            msg = f"{msg} + bound — {bound_msg}"
        mark = "✓" if ok else "✗"
        print(
            f"{mark} {k}: {msg} ({len(sdf)} rows, "
            f"spark={t_spark:.1f}s oracle={t_oracle:.1f}s)"
        )
        n_pass += ok
        n_fail += not ok
    print(
        f"\n{n_pass} pass, {n_bound} bound-pass, {n_fail} fail, "
        f"{n_rows_only} rows-only"
    )
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(records, f, indent=2, sort_keys=True)
        print(f"driver-format records -> {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
