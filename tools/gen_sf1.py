"""Deterministic sf1 fixtures: a 10x upsample of /root/testdata/sf0.1.

VERDICT r4 next-round item #1: the 100 TB scaling claims rested on the
sf0.01->sf0.1 decade; this adds the sf0.1->sf1 decade for the
superlinear-risk families (pair-join dedup, ANN, iterative graph).
The driver does not ship sf1 parquet, so we synthesize it — WITHOUT
inventing a new generator whose distributions could accidentally make
the scaling test easier or harder than the driver's own data. Each sf1
table is exactly ten shifted replicas of the driver's sf0.1 table:

- Every key column is shifted by ``replica * OFFSET`` (OFFSET = next
  power of 10 above the max key, computed per key family so foreign
  keys stay consistent: o_custkey shifts by the CUSTOMER offset, etc.).
  Joins therefore scale like real growth — 10x rows on both sides, the
  same per-key fan-out, 10x distinct join keys.
- ``documents.text``: every token gets a per-replica tag (``r3x``)
  for replicas > 0, making replica shingle spaces DISJOINT — so
  exact/near-dup families stay strictly INTRA-replica and the
  qualifying pair count scales ~10x (like a corpus that grew 10x with
  new content), not ~100x (which copy-with-one-changed-token produced
  via cross-replica dup clusters at J≈0.98 — that measured output
  blowup, not engine scaling). Per-doc token counts and within-replica
  df shapes are preserved; n_chars is recomputed.
- ``embeddings.embedding`` is rotated by ``replica`` positions AND
  sign-flipped by a deterministic per-(replica, position) hash mask —
  norm-preserving and EXACTLY cosine-preserving within a replica (all
  vectors of a replica share the mask, so the signs cancel in every
  within-replica dot product). Cross-replica, same-vector twins are
  decorrelated (max |cos| drops to ~0.5 from ~1), and intra-replica
  qualifying pairs scale exactly 10x (measured: 1,449 -> 14,490 at
  threshold 0.3). BUT at dim=64 no norm-preserving transform can push
  generic cross-replica cosines reliably below 0.3 (the random
  -direction tail is ~e^(-d t^2/2) ≈ 5% two-sided at t=0.3), so
  ~0.8% of cross-replica in-block pairs still qualify — ~137k pairs,
  dominating the output. This is SEMANTICALLY REAL (new corpus content
  does land above a 0.3-cosine bar against old content by direction
  chance alone at this dimensionality): threshold-pair operators over
  low-dim embeddings are OUTPUT-BOUND under corpus growth, and
  `scale_ratios.py` accordingly charges each operator for its output
  growth rather than pretending pair counts scale linearly.
  Labels are kept: label-block sizes grow 10x, which is precisely the
  stress the blocked pair ops must absorb.
- Dimension tables (region, nation) are copied as-is, mirroring TPC-H
  where fixed dims do not scale with SF.

Deterministic end to end (no RNG), so ratio tables are reproducible.

Run:  python tools/gen_sf1.py [--out .scratch/sf1]   (~seconds, DuckDB)
      python tools/gen_sf1.py --src .scratch/sf1 --out .scratch/sf10
        (r7: the SAME shifted-replica construction composes — sf10 is
        ten replicas of sf1; offsets derive from the SRC's max keys so
        foreign keys stay consistent at any level, document token tags
        nest (r2xr7xtok), and the embedding rotation+mask layers a new
        per-replica mask on top of the old one, preserving all
        within-new-replica cosines by the same cancellation argument)
Writes to <checkout>/.scratch/sf1 by default (``--out`` overrides).
Then: python tools/check_correctness.py --sf .scratch/sf1 <keys>
      python tools/scale_ratios.py <sf0.1 log> <sf1 log> --factor 10
"""

from __future__ import annotations

import argparse
import pathlib

import duckdb

SRC = "/root/testdata/sf0.1"  # default; --src overrides
REPLICAS = 10  # default; --replicas overrides


def _offset(con: duckdb.DuckDBPyConnection, table: str, key: str) -> int:
    mx = con.execute(f"SELECT max({key}) FROM '{SRC}/{table}.parquet'").fetchone()[0]
    off = 10
    while off <= mx:
        off *= 10
    return off


def _tag_marker(con: duckdb.DuckDBPyConnection) -> str:
    """Nesting-level-aware tag marker: 'x' * (1 + deepest existing tag).

    r7 decade defect #7: a flat ``r{k}x`` prefix is NOT injective under
    nested generation. sf3 replica 1 tags sf1-replica-0 docs as
    ``r1x<tok>`` — byte-identical to sf1's OWN replica-1 docs carried
    inside sf3's replica 0, so those two 5k-doc families collide as
    J~1.0 cross-replica near-dup pairs (measured: 789,981 extra
    sf3 pairs replica 0<->1, 788,288 for 0<->2, exactly zero 1<->2 —
    the signature of tag-prefix collision, since r1x(r2x..) != r2x(r1x..)).
    Deepening the marker per nesting level ('x', then 'xx', ...) makes
    the tag encode its level: ``r1xx<...>`` can never equal
    ``r1x<raw>`` unless a raw token begins with 'x' AND the remainder
    re-aligns a whole shingle set — and the pristine driver corpus has
    ZERO tokens matching ^r[0-9]+x (asserted below via the level-1
    probe), so level-1 output (sf1) is bit-identical to the pre-fix
    corpus and every committed sf0.1->sf1 measurement stands.
    """
    level = 1
    while True:
        n = con.execute(
            f"""SELECT count(*) FROM (
                  SELECT unnest(string_split(text, ' ')) AS tok
                  FROM '{SRC}/documents.parquet')
                WHERE regexp_matches(tok, '^r[0-9]+{'x' * level}')"""
        ).fetchone()[0]
        if n == 0:
            return "x" * level
        level += 1


def main() -> None:
    global SRC, REPLICAS
    ap = argparse.ArgumentParser()
    repo = pathlib.Path(__file__).resolve().parents[1]
    ap.add_argument("--out", default=str(repo / ".scratch" / "sf1"))
    ap.add_argument("--src", default=SRC)
    ap.add_argument("--replicas", type=int, default=REPLICAS)
    args = ap.parse_args()
    SRC, REPLICAS = args.src, args.replicas
    out = pathlib.Path(args.out)
    out.mkdir(parents=True, exist_ok=True)

    con = duckdb.connect()
    con.execute(f"SET threads TO 16")

    off = {
        "cust": _offset(con, "customer", "c_custkey"),
        "supp": _offset(con, "supplier", "s_suppkey"),
        "part": _offset(con, "part", "p_partkey"),
        "order": _offset(con, "orders", "o_orderkey"),
        "event": _offset(con, "events", "event_id"),
        "user": _offset(con, "events", "user_id"),
        "doc": _offset(con, "documents", "doc_id"),
        "vec": _offset(con, "embeddings", "vec_id"),
    }

    def emit(table: str, select: str) -> None:
        con.execute(
            f"""
            COPY (
              SELECT {select}
              FROM '{SRC}/{table}.parquet', range({REPLICAS}) r(k)
              ORDER BY k
            ) TO '{out}/{table}.parquet' (FORMAT PARQUET, COMPRESSION ZSTD)
            """
        )
        n = con.execute(f"SELECT count(*) FROM '{out}/{table}.parquet'").fetchone()[0]
        print(f"  {table}: {n} rows")

    # fixed dims: single copy
    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{out}/{t}.parquet' "
            f"(FORMAT PARQUET)"
        )
        print(f"  {t}: copied as-is")

    emit(
        "customer",
        f"c_custkey + k * {off['cust']} AS c_custkey, "
        "c_name, c_nationkey, c_acctbal, c_mktsegment",
    )
    emit(
        "supplier",
        f"s_suppkey + k * {off['supp']} AS s_suppkey, "
        "s_name, s_nationkey, s_acctbal",
    )
    emit(
        "part",
        f"p_partkey + k * {off['part']} AS p_partkey, "
        "p_name, p_brand, p_type, p_size, p_retailprice",
    )
    emit(
        "orders",
        f"o_orderkey + k * {off['order']} AS o_orderkey, "
        f"o_custkey + k * {off['cust']} AS o_custkey, "
        "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority",
    )
    emit(
        "lineitem",
        f"l_orderkey + k * {off['order']} AS l_orderkey, "
        f"l_partkey + k * {off['part']} AS l_partkey, "
        f"l_suppkey + k * {off['supp']} AS l_suppkey, "
        "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
        "l_returnflag, l_linestatus, l_shipdate",
    )
    emit(
        "events",
        f"event_id + k * {off['event']} AS event_id, ts, "
        f"user_id + k * {off['user']} AS user_id, "
        "event_type, value, props",
    )
    # EVERY token gets the replica tag (k>0), not just a prefix token: a
    # single changed token out of ~100 leaves cross-replica copies of a
    # doc at Jaccard ≈ 0.98 — near-dups of each other — so the pair
    # count would grow ~100x (duplicate-cluster blowup) instead of the
    # intended ~10x, and decade ratios would price output growth, not
    # engine scaling (caught in r5 when dedup_simhash grew 41x: its
    # near-pair verify harness was crawling a 100x near-pair set).
    # Tagging every token makes replica shingle spaces DISJOINT, so
    # exact/near-dup structure is strictly intra-replica by
    # construction. Per-doc token counts, lengths (n_chars recomputed),
    # and within-replica df distributions are preserved.
    mark = _tag_marker(con)
    print(f"  documents: tag marker '{mark}' (nesting level {len(mark)})")
    emit(
        "documents",
        f"doc_id + k * {off['doc']} AS doc_id, "
        "CASE WHEN k = 0 THEN text "
        f"     ELSE regexp_replace(text, '(\\S+)', 'r' || k || '{mark}\\1', 'g') "
        "END AS text, "
        "lang, source, "
        "CASE WHEN k = 0 THEN n_chars "
        f"     ELSE len(regexp_replace(text, '(\\S+)', 'r' || k || '{mark}\\1', 'g')) "
        "END AS n_chars",
    )
    # Disjointness self-check (the invariant the whole construction
    # rests on): no token may appear in two different replicas' docs.
    overlap = con.execute(
        f"""WITH toks AS (
              SELECT doc_id // {off['doc']} AS rep,
                     unnest(string_split(text, ' ')) AS tok
              FROM '{out}/documents.parquet')
            SELECT count(*) FROM (
              SELECT tok FROM toks GROUP BY tok
              HAVING count(DISTINCT rep) > 1)"""
    ).fetchone()[0]
    if overlap:
        raise SystemExit(
            f"FATAL: {overlap} tokens shared across replicas — the tag "
            "construction collided; decade ratios on this corpus would "
            "price duplicate-family blowup, not engine scaling"
        )
    print("  documents: cross-replica token disjointness verified (0 shared)")
    # Rotation alone left cross-replica cosines high (the vectors are
    # cluster + noise, not i.i.d.): sim_cosine_pairs at sf1 emitted
    # 104x the pairs, mostly cross-replica. A deterministic per-replica
    # SIGN-FLIP mask (hash of (replica, position), norm-preserving) on
    # top of the rotation drives cross-replica cosine to ~N(0, 1/d):
    # neighbor structure becomes strictly intra-replica while
    # within-replica geometry is untouched (every vector of a replica
    # gets the SAME mask, and a shared sign flip cancels inside dot
    # products between same-replica vectors... it does NOT — the mask
    # is per-POSITION, shared by all vectors of the replica, so for two
    # same-replica vectors u,v: sum_i (s_i u_i)(s_i v_i) = sum_i u_i
    # v_i — cosines within a replica are EXACTLY preserved).
    emit(
        "embeddings",
        f"vec_id + k * {off['vec']} AS vec_id, "
        "CAST(list_transform(list_concat(embedding[k+1:], embedding[1:k]), "
        " (x, i) -> x * (1 - 2 * CAST(hash(k * 4099 + i) % 2 AS INT))) "
        "AS FLOAT[]) AS embedding, label",
    )
    print(f"wrote {REPLICAS}x replicas of {SRC} to {out}")


if __name__ == "__main__":
    main()
