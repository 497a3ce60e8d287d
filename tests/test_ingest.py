"""Ingest-path tests: the reference's parse semantics on the committed
fixtures (REF LogProcessor::parse behaviors from SURVEY.md §3.1)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mediaplaycounts_spark.ingest import (
    corrupt_records,
    daily_playcounts,
    parse_raw,
    read_raw,
)

FIXTURES = str(Path(__file__).resolve().parents[1] / "fixtures" / "mediacounts")
CLEAN = f"{FIXTURES}/mediacounts.2024-01-0[12].v00.tsv"
CORRUPT = f"{FIXTURES}/mediacounts.2024-01-03.v00.tsv"


def test_media_extension_whitelist(spark):
    parsed = parse_raw(read_raw(spark, CLEAN))
    files = {r["file"] for r in parsed.select("file").distinct().collect()}
    assert "Portrait.jpg" not in files
    assert "Diagram.svg" not in files
    assert "Concert.ogv" in files


def test_url_decode(spark):
    parsed = parse_raw(read_raw(spark, CLEAN))
    files = {r["file"] for r in parsed.select("file").distinct().collect()}
    assert "Accordion solo.ogg" in files  # %20 decoded
    assert not any("%20" in f for f in files)


def test_plays_formula_and_duplicate_sum(spark):
    """plays = original + transcoded audio + transcoded video, SUMMED
    over duplicate rows of the same file (day 1 has Concert.ogv twice:
    100+0+180 and 2+0+5 -> 287)."""
    pc = daily_playcounts(spark, CLEAN)
    row = pc.filter(
        (F.col("file") == "Concert.ogv") & (F.col("date") == F.lit("2024-01-01"))
    ).head()
    assert row["count"] == 287


def test_date_from_filename(spark):
    pc = daily_playcounts(spark, CLEAN)
    days = {str(r["date"]) for r in pc.select("date").distinct().collect()}
    assert days == {"2024-01-01", "2024-01-02"}


def test_corrupt_record_routing(spark):
    raw = read_raw(spark, CORRUPT)
    bad = corrupt_records(raw).collect()
    assert len(bad) == 2
    lines = {b["raw_line"] for b in bad}
    assert any("Broken.ogv" in l for l in lines)      # non-numeric count
    assert any("Truncated.webm" in l for l in lines)  # short row
    # good rows still parse on the same day
    good = parse_raw(raw)
    assert good.count() == 4


def test_idempotent_daily_overwrite(spark, tmp_path):
    """Re-running a day replaces exactly that day's partition."""
    from mediaplaycounts_spark.ingest.mediacounts import write_daily

    out = str(tmp_path / "pc")
    pc = daily_playcounts(spark, CLEAN)
    write_daily(pc, out)
    before = spark.read.parquet(out).count()
    # re-run day 1 with doubled counts: day 1 replaced, day 2 untouched
    doubled = pc.filter(F.col("date") == "2024-01-01").withColumn(
        "count", F.col("count") * 2
    )
    write_daily(doubled, out)
    after = spark.read.parquet(out)
    assert after.count() == before
    row = after.filter(
        (F.col("file") == "Concert.ogv") & (F.col("date") == F.lit("2024-01-01"))
    ).head()
    assert row["count"] == 574  # 287 * 2


# ------------------------------------------------- malformed-line rule


def _fields(name: str, **over: str) -> list[str]:
    """A well-formed 26-field line for ``name`` with plays 3 + 4 + 5;
    ``c<i>=value`` replaces field ``i``."""
    f = [f"/wikipedia/commons/e/ed/{name}", "100", "12", "3"] + ["-"] * 12
    f += ["4", "-", "5"] + ["-"] * 7
    for k, v in over.items():
        f[int(k[1:])] = v
    return f


#: case -> (field overrides or a field count, the line's plays, or None
#: when it is malformed). Each verdict is that of Spark's PERMISSIVE CSV
#: reader with the 26-column schema, except the cases marked (*): the
#: text route reads ``"`` literally, as the sink_error_log DuckDB oracle
#: does, where the CSV reader treats it as a quote; and a file name that
#: does not URL-decode or a ``plays`` sum past a long makes any line
#: malformed, where the parse of a CSV-clean media line used to raise.
EDGE_LINES: dict[str, tuple[dict | int, int | None]] = {
    "well_formed": ({}, 12),
    "25_fields": (25, None),
    "27_fields": (27, None),
    **{f"junk_in_{i}": ({f"c{i}": "x"}, None) for i in (1, 2, 3, 16, 18)},
    "empty_summed_long": ({"c3": ""}, 9),
    "empty_unsummed_long": ({"c2": ""}, 12),
    "negative": ({"c3": "-4"}, 5),
    "plus_sign": ({"c3": "+4"}, 13),
    "leading_space": ({"c3": " 4"}, None),
    "trailing_space": ({"c3": "4 "}, None),
    "decimal": ({"c3": "4.0"}, None),
    "long_max": ({"c1": "9223372036854775807"}, 12),
    "long_overflow": ({"c1": "9223372036854775808"}, None),
    "open_quote": ({"c4": '"abc'}, 12),  # (*) CSV: malformed
    "quoted_string": ({"c4": '"abc"'}, 12),
    "quoted_long": ({"c3": '"4"'}, None),  # (*) CSV: plays 13
    "quoted_tab": ({"c4": '"a\tb"'}, None),  # (*) CSV: one field, plays 12
    "bad_escape": ({"c0": "/w/a/ab/Bad%zz.ogg"}, None),  # (*) CSV: clean, parse raises
    "bad_escape_not_media": ({"c0": "/w/a/ab/Bad%zz.jpg"}, None),  # (*) CSV: clean
    "plays_long_max": ({"c3": "9223372036854775798"}, 9223372036854775807),
    "plays_overflow": ({"c3": "9223372036854775799"}, None),  # (*) CSV: clean, parse raises
}


def _edge_line(case: str) -> str:
    spec = EDGE_LINES[case][0]
    if isinstance(spec, int):
        f = _fields(f"{case}.ogg")
        return "\t".join((f + ["-"])[:spec])
    return "\t".join(_fields(f"{case}.ogg", **spec))


@pytest.fixture(scope="module")
def edge_verdicts(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("edge") / "mediacounts.2024-01-05.v00.tsv"
    path.write_text("".join(_edge_line(c) + "\n" for c in EDGE_LINES))
    raw = read_raw(spark, str(path))
    bad = {r.raw_line for r in corrupt_records(raw).collect()}
    plays = {r.file: r.plays for r in parse_raw(raw).collect()}
    return bad, plays


@pytest.mark.parametrize("case", list(EDGE_LINES))
def test_malformed_line_rule(edge_verdicts, case):
    bad, plays = edge_verdicts
    expected = EDGE_LINES[case][1]
    assert (_edge_line(case) in bad) == (expected is None)
    assert plays.get(f"{case}.ogg") == expected


def test_verdicts_do_not_depend_on_selected_columns(spark, tmp_path):
    """Junk in total_transfers, which the rollup never reads, marks its
    line malformed whichever columns a consumer selects, and the error
    sink and the rollup agree with and without the shared cache."""
    lines = [
        "\t".join(_fields("A.ogg")),
        "\t".join(_fields("B.webm", c3="7")),
        "\t".join(_fields("%41.ogg")),  # a second spelling of A.ogg
        "\t".join(_fields("Junk.ogg", c2="oops")),
        "\t".join(_fields("Short.ogg")[:9]),
        "\t".join(_fields("Photo.jpg")),
    ]
    path = tmp_path / "mediacounts.2024-01-06.v00.tsv"
    path.write_text("\n".join(lines) + "\n")
    raw = read_raw(spark, str(path))
    expected_bad, expected_rollup = set(lines[3:5]), {"A.ogg": 24, "B.webm": 16}

    def rollup() -> dict[str, int]:
        rows = parse_raw(raw).groupBy("file").agg(F.sum("plays").alias("n")).collect()
        return {r.file: r.n for r in rows}

    assert rollup() == expected_rollup  # no cache yet
    corrupt = F.col("_corrupt_record")
    for cols in (raw.columns, ["base_path"], ["dump_date"]):
        sink = raw.filter(corrupt.isNotNull()).select(corrupt, *cols).collect()
        assert {r._corrupt_record for r in sink} == expected_bad, cols
        assert raw.filter(corrupt.isNull()).select(*cols).count() == 4, cols
    assert {r.raw_line for r in corrupt_records(raw).collect()} == expected_bad
    assert rollup() == expected_rollup  # read from the cache
    assert raw.count() == len(lines)


def test_bz2_day_is_scanned_in_splits(spark, tmp_path):
    """A multi-block bz2 day under 4 MB, one task at Spark's default
    open cost, is read by more than one task, yields exactly its lines,
    and leaves the caller's session confs as they were."""
    import bz2
    import random

    rng = random.Random(7)
    lines, sums = [], {}
    for _ in range(7800):  # ~1 MB of lines
        name = f"File {rng.randrange(3000)}.ogg"
        b, t, o, a, v = (str(rng.randrange(10**9)) for _ in range(5))
        f = _fields(name.replace(" ", "%20"), c1=b, c2=t, c3=o, c16=a, c18=v)
        lines.append("\t".join(f))
        sums[name] = sums.get(name, 0) + int(o) + int(a) + int(v)
    path = tmp_path / "mediacounts.2024-02-01.v00.tsv.bz2"
    path.write_bytes(bz2.compress(("\n".join(lines) + "\n").encode(), compresslevel=1))
    assert path.stat().st_size > 128 << 10, "the day must span several splits"
    conf = "spark.sql.files.openCostInBytes"
    before = spark.conf.get(conf)
    raw = read_raw(spark, str(path))
    assert raw.rdd.getNumPartitions() >= 2
    assert raw.count() == len(lines)
    rows = parse_raw(raw).groupBy("file").agg(F.sum("plays").alias("n")).collect()
    assert {r.file: r.n for r in rows} == sums
    assert spark.conf.get(conf) == before


# ---------------------------------------------------------------- fetch

BZ2_FIXTURES = Path(__file__).resolve().parents[1] / "fixtures" / "mediacounts_bz2"


def test_download_day_file_url_and_idempotence(tmp_path):
    """VERDICT r4 missing #1: fetch against a file:// mirror of the dump
    tree (the committed bz2 fixture), idempotent re-run, atomic naming."""
    import datetime as dt

    from mediaplaycounts_spark.ingest.fetch import download_day, dump_filename

    # lay the fixture out like the dump tree: <base>/daily/<year>/<name>
    base = tmp_path / "tree"
    daydir = base / "daily" / "2024"
    daydir.mkdir(parents=True)
    name = dump_filename(dt.date(2024, 1, 1))
    (daydir / name).write_bytes(
        (BZ2_FIXTURES / "mediacounts.2024-01-01.v00.tsv.bz2").read_bytes()
    )
    out = tmp_path / "landed"
    got = download_day(
        dt.date(2024, 1, 1), out, base_url=f"file://{base}"
    )
    assert got.name == name and got.stat().st_size > 0
    assert not got.with_suffix(got.suffix + ".part").exists()
    mtime = got.stat().st_mtime_ns
    again = download_day(dt.date(2024, 1, 1), out, base_url=f"file://{base}")
    assert again == got and got.stat().st_mtime_ns == mtime, (
        "existing non-empty target must be a no-op"
    )


def test_download_day_failure_leaves_no_partial(tmp_path):
    import datetime as dt

    import pytest

    from mediaplaycounts_spark.ingest.fetch import download_day

    out = tmp_path / "landed"
    with pytest.raises(RuntimeError, match="download failed"):
        download_day(
            dt.date(2024, 1, 2),
            out,
            base_url=f"file://{tmp_path}/missing-tree",
            retries=1,
            backoff_s=0.0,
        )
    assert not list(out.glob("*")), "failed fetch must leave nothing behind"


def test_download_day_404_fails_fast(tmp_path, monkeypatch):
    import datetime as dt
    import urllib.error
    import urllib.request

    import pytest

    from mediaplaycounts_spark.ingest import fetch

    calls = {"n": 0}

    def fake_urlopen(url, timeout=None):
        calls["n"] += 1
        raise urllib.error.HTTPError(url, 404, "Not Found", None, None)

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    with pytest.raises(fetch.DumpNotPublished):
        fetch.download_day(dt.date(2099, 1, 1), tmp_path, retries=3, backoff_s=0.0)
    assert calls["n"] == 1, "404 (day not published) must not retry"


def test_download_days_isolates_bad_days(tmp_path, monkeypatch):
    import datetime as dt
    import urllib.error
    import urllib.request

    from mediaplaycounts_spark.ingest import fetch

    def fake_urlopen(url, timeout=None):
        if "2024-01-02" in url:
            raise urllib.error.HTTPError(url, 404, "Not Found", None, None)
        import io

        class R(io.BytesIO):
            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        return R(b"payload")

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    res = fetch.download_days(
        dt.date(2024, 1, 1), dt.date(2024, 1, 3), tmp_path, backoff_s=0.0
    )
    assert res == {
        "2024-01-01": "ok",
        "2024-01-02": "not-published",
        "2024-01-03": "ok",
    }


def test_download_day_rejects_truncated_body(tmp_path, monkeypatch):
    """ADVICE r5 (medium): read() returning b'' on premature connection
    close exits the chunk loop cleanly — the landed file must be
    rejected against Content-Length, retried, and NEVER renamed into
    place (else the exists-non-empty idempotence check pins the corrupt
    file forever)."""
    import datetime as dt
    import email.message
    import io
    import urllib.request

    import pytest

    from mediaplaycounts_spark.ingest import fetch

    calls = {"n": 0}

    def fake_urlopen(url, timeout=None):
        calls["n"] += 1

        class R(io.BytesIO):
            headers = email.message.Message()
            headers["Content-Length"] = "100"

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        return R(b"only-9-by")  # 9 bytes < declared 100: truncated

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    day = dt.date(2024, 2, 1)
    with pytest.raises(RuntimeError, match="download failed"):
        fetch.download_day(day, tmp_path, retries=2, backoff_s=0.0)
    assert calls["n"] == 3, "short body must be retried like any failure"
    target = tmp_path / fetch.dump_filename(day)
    assert not target.exists(), "truncated body must never land"
    assert not target.with_suffix(target.suffix + ".part").exists()


# ------------------------------------------------- category snapshot

CAT_FIXTURE = str(
    Path(__file__).resolve().parents[1]
    / "fixtures"
    / "categorymembers"
    / "recorded.jsonl"
)


def test_membership_snapshot_recursive_cycle_safe(spark):
    """VERDICT r4 missing #2: recorded categorymembers JSONL -> flat
    (root, file) snapshot. Covers subcategory recursion, cmcontinue
    pagination (Sub2 split over two pages), a Root<-Deep CYCLE, a
    non-file non-category member (ns=0, ignored), and a corrupt line."""
    from mediaplaycounts_spark.ingest.categories import build_membership_snapshot

    snap = build_membership_snapshot(spark, CAT_FIXTURE, "Category:Root")
    rows = {(r.category, r.file) for r in snap.collect()}
    assert rows == {
        ("Category:Root", "A sound.ogg"),
        ("Category:Root", "B clip.webm"),
        ("Category:Root", "C tone.wav"),   # via Sub1 -> Deep
        ("Category:Root", "D take.flac"),  # Sub2 page 1
        ("Category:Root", "E song.mid"),   # Sub2 page 2 (pagination)
    }


def test_membership_snapshot_depth_bound(spark):
    from mediaplaycounts_spark.ingest.categories import build_membership_snapshot

    direct = build_membership_snapshot(spark, CAT_FIXTURE, "Category:Root", max_depth=0)
    assert {r.file for r in direct.collect()} == {"A sound.ogg"}
    one_hop = build_membership_snapshot(spark, CAT_FIXTURE, "Category:Root", max_depth=1)
    assert {r.file for r in one_hop.collect()} == {
        "A sound.ogg", "B clip.webm", "D take.flac", "E song.mid"
    }


def test_membership_snapshot_feeds_semi_join(spark):
    """The snapshot is a drop-in members table for the serving path:
    semi-join it against a playcounts-shaped fact."""
    from mediaplaycounts_spark.ingest.categories import build_membership_snapshot

    snap = build_membership_snapshot(spark, CAT_FIXTURE, "Category:Root")
    facts = spark.createDataFrame(
        [("A sound.ogg", 5), ("B clip.webm", 7), ("Unrelated.ogv", 99)],
        "file string, count long",
    )
    kept = facts.join(
        F.broadcast(snap.select("file")), "file", "leftsemi"
    )
    assert {r.file for r in kept.collect()} == {"A sound.ogg", "B clip.webm"}
