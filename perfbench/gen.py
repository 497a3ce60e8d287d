"""Seeded inputs for the product-loop benchmark, with their ground truth.

Everything the program under test reads is made here from one seed:

- daily mediacounts dumps, 26 tab-separated columns, one file per day
  named ``mediacounts.YYYY-MM-DD.v00.tsv`` (the name carries the date);
- the landing copy of one of those days as ``.tsv.bz2``;
- recorded MediaWiki ``categorymembers`` responses as JSONL, with
  nested subcategories, pagination, a cycle and a line that is not JSON.

The dumps have Zipf file popularity in their play counts, with mostly
one row per file and a day, and a small share of files listed twice
under two spellings of one path (so the per-(file, day) rollup really
sums). About a third of the files have non-media extensions, names need
``%20`` and UTF-8 ``%xx`` decoding, and a fixed share of malformed rows
in two shapes must go to the ingest's error sink. While writing, the generator keeps what a correct
pipeline must produce: the per-(file, day) play sums, the malformed
lines and the category membership.
"""

from __future__ import annotations

import bz2
import dataclasses
import datetime as dt
import json
import pathlib
import random
import zlib
from urllib.parse import quote

MEDIA_EXT = ("ogg", "oga", "ogv", "webm", "wav", "flac", "mid")
OTHER_EXT = ("jpg", "png", "svg", "pdf", "tif")
_WORDS = (
    "accordion bird song concert dance river night train harbor bells "
    "choir drum rain wind market street festival piano violin storm "
    "forest city radio lecture interview march anthem chant waltz echo"
).split()
#: Non-ASCII words so names need UTF-8 percent-decoding.
_UTF8_WORDS = ("café", "über", "niño", "smörgås", "東京", "Ελλάδα", "kraków")
_START = dt.date(2024, 1, 1)
#: Zipf exponent of file popularity, for plays and for API requests.
ZIPF_S = 1.1


@dataclasses.dataclass
class Dumps:
    """Paths written and the truth a correct ingest reproduces."""

    days: list[str]
    bz2_day: str
    bz2_path: str
    raw_rows: dict[str, int]
    raw_bytes: dict[str, int]
    media_rows: dict[str, int]
    malformed: dict[str, list[str]]
    sums: dict[tuple[str, str], int]
    absent_files: list[str]
    popularity: list[str]

    @property
    def total_raw_rows(self) -> int:
        return sum(self.raw_rows.values())


@dataclasses.dataclass
class Categories:
    """Recorded JSONL and the flat membership of each root."""

    path: str
    members: dict[str, set[str]]


def _file_names(draw, n: int) -> list[tuple[str, str]]:
    """``n`` distinct (name, extension) pairs; names hold no ``_`` or
    ``+`` (the API maps ``_`` to a space and URL decoding maps ``+`` to
    one, so either would make the expected series ambiguous)."""
    n_words = draw.integers(1, 4, n).tolist()
    words = draw.integers(0, len(_WORDS), (n, 3)).tolist()
    utf8 = [w if r < 0.15 else None for w, r in
            zip(draw.integers(0, len(_UTF8_WORDS), n).tolist(), draw.random(n).tolist())]
    other = (draw.random(n) < 0.34).tolist()
    ext = draw.integers(0, 35, n).tolist()
    upper = (draw.random(n) < 0.05).tolist()
    out = []
    for i in range(n):
        parts = [_WORDS[w] for w in words[i][: n_words[i]]]
        if utf8[i] is not None:
            parts.append(_UTF8_WORDS[utf8[i]])
        name = " ".join(parts).capitalize() + f" {i}"
        if other[i]:
            e = OTHER_EXT[ext[i] % len(OTHER_EXT)]
        else:
            e = MEDIA_EXT[ext[i] % len(MEDIA_EXT)]
            e = e.upper() if upper[i] else e
        out.append((name, e))
    return out


def _base_path(name: str, ext: str) -> str:
    h = f"{zlib.crc32(name.encode()) % 4096:03x}"
    file = f"{name}.{ext}"
    file = file.replace(" ", "%20") if file.isascii() else quote(file, safe="")
    return f"/wikipedia/commons/{h[0]}/{h[:2]}/{file}"


def _reserved(rng: random.Random, n: int) -> list[str]:
    """``n`` variants of the twelve reserved columns 5-16 of a row."""
    return ["\t".join("-" if rng.random() < 0.7 else str(rng.randint(0, 99)) for _ in range(12))
            for _ in range(n)]


def _malformed(rng: random.Random, line: str) -> str:
    """A line the 26-column schema rejects: junk in a LONG column, or a
    line cut short."""
    f = line.split("\t")
    if rng.random() < 0.5:
        f[2] = "oops"
        return "\t".join(f)
    return "\t".join(f[: rng.randint(2, 20)])


def _respelled(path: str) -> str:
    """The same path with the file name's first letter percent-encoded:
    another spelling of one file, which the URL decode folds back."""
    head, name = path.rsplit("/", 1)
    return f"{head}/%{ord(name[0]):02X}{name[1:]}"


def _rate_scale(weights, rows: float) -> float:
    """The scale ``L`` at which files with Poisson request counts of
    mean ``L * weight`` fill ``rows`` rows a day on average (a file has
    a row when it got at least one request)."""
    import numpy as np

    def rows_at(scale: float) -> float:
        return float((1.0 - np.exp(-scale * weights)).sum())

    lo, hi = 0.0, 1.0
    while rows_at(hi) < rows:
        hi *= 2
    for _ in range(60):
        mid = (lo + hi) / 2
        lo, hi = (mid, hi) if rows_at(mid) < rows else (lo, mid)
    return hi


def make_dumps(
    root: pathlib.Path,
    seed: int,
    n_days: int,
    rows_per_day: int,
    n_files: int,
    malformed_share: float = 0.005,
    duplicate_share: float = 0.01,
    zipf_s: float = ZIPF_S,
) -> Dumps:
    """Write ``n_days`` plain dumps under ``root/dumps`` and the last day
    again as ``root/landing/*.tsv.bz2``.

    Each file has a Zipf popularity rank ``r``; on each day its requests
    are Poisson with mean ``L / (r + 1) ** zipf_s``, and it gets one row
    if it had any, ``rows_per_day`` rows on average. ``duplicate_share``
    of the files with a row get a second row under another spelling of
    the same path; ``malformed_share`` of all rows are malformed.
    """
    import numpy as np

    rng = random.Random(seed)
    draw = np.random.default_rng(seed)
    universe = _file_names(draw, n_files + n_files // 10)
    absent = [f"{n}.{e}" for n, e in universe[n_files:] if e.lower() in MEDIA_EXT]
    universe = universe[:n_files]
    names = [f"{n}.{e}" for n, e in universe]
    is_media = [e.lower() in MEDIA_EXT for _, e in universe]
    # File i has popularity rank rank[i]; names are in a seeded order.
    order = draw.permutation(n_files)
    rank = np.empty(n_files)
    rank[order] = np.arange(n_files)
    weights = (rank + 1.0) ** -zipf_s
    rates = _rate_scale(weights, rows_per_day) * weights
    object_bytes = draw.integers(10_000, 10_000_000, n_files).tolist()
    paths: dict[int, str] = {}
    dump_dir, landing = root / "dumps", root / "landing"
    dump_dir.mkdir(parents=True)
    landing.mkdir(parents=True)
    d = Dumps([], "", "", {}, {}, {}, {}, {}, absent,
              [names[i] for i in order.tolist() if is_media[i]])
    reserved = _reserved(rng, 4096)
    for k in range(n_days):
        day = (_START + dt.timedelta(days=k)).isoformat()
        requests = draw.poisson(rates)
        files = np.flatnonzero(requests)
        dup = files[draw.random(len(files)) < duplicate_share]
        files = np.concatenate([files, dup])
        plays = np.concatenate([requests[files[: len(files) - len(dup)]],
                                1 + draw.poisson(0.05 * rates[dup])])
        orig = draw.binomial(plays, 0.7)
        audio = draw.binomial(plays - orig, 0.5)
        other = draw.binomial(plays, 0.1)  # transfers the plays leave out
        mids = draw.integers(0, len(reserved), len(files))
        broken = draw.random(len(files)) < malformed_share
        first_rows = len(files) - len(dup)
        lines, bad, media = [], [], 0
        for j, (i, n, o, a, x, m) in enumerate(zip(
                files.tolist(), plays.tolist(), orig.tolist(), audio.tolist(),
                other.tolist(), mids.tolist())):
            path = paths.get(i) or paths.setdefault(i, _base_path(*universe[i]))
            path = path if j < first_rows else _respelled(path)
            line = (f"{path}\t{n * object_bytes[i]}\t{n + x}\t{o}\t"
                    f"{reserved[m]}\t{a}\t-\t{n - o - a}" + "\t-" * 7)
            if broken[j]:
                line = _malformed(rng, line)
                bad.append(line)
            elif is_media[i]:
                media += 1
                key = (names[i], day)
                d.sums[key] = d.sums.get(key, 0) + n
            lines.append(line)
        body = ("\n".join(lines) + "\n").encode("utf-8")
        path = dump_dir / f"mediacounts.{day}.v00.tsv"
        path.write_bytes(body)
        d.days.append(day)
        d.raw_rows[day] = len(lines)
        d.raw_bytes[day] = len(body)
        d.media_rows[day] = media
        d.malformed[day] = bad
        if k == n_days - 1:
            d.bz2_day = day
            d.bz2_path = str(landing / f"mediacounts.{day}.v00.tsv.bz2")
            pathlib.Path(d.bz2_path).write_bytes(bz2.compress(body, 9))
    return d


def make_categories(
    root: pathlib.Path, seed: int, dumps: Dumps, sizes: tuple[int, ...]
) -> Categories:
    """One root category per entry of ``sizes`` (its file count), each
    a tree of subcategories two levels deep. The deepest subcategory
    lists its root again (a cycle), one root's first page continues on
    a second line, and one line is not JSON. Some members never occur
    in a dump, so their plays are zero."""
    rng = random.Random(seed * 7919 + 1)
    pool = dumps.popularity[: max(sizes) * 3] + dumps.absent_files
    lines: list[str] = []
    members: dict[str, set[str]] = {}
    pageid = 0

    def page(cat: str, entries: list[tuple[int, str]]) -> str:
        nonlocal pageid
        cm = []
        for ns, title in entries:
            pageid += 1
            cm.append({"pageid": pageid, "ns": ns, "title": title})
        return json.dumps(
            {"category": cat, "response": {"batchcomplete": "", "query": {"categorymembers": cm}}},
            ensure_ascii=False,
        )

    for r, size in enumerate(sizes):
        rootcat = f"Category:Benchmark set {r}"
        files = rng.sample(pool, size)
        members[rootcat] = set(files)
        cats = [rootcat, f"Category:Benchmark set {r} part a",
                f"Category:Benchmark set {r} part a deep", f"Category:Benchmark set {r} part b"]
        share = [files[i::4] for i in range(4)]
        entries = {c: [(6, f"File:{f}") for f in s] for c, s in zip(cats, share)}
        # Two levels of subcategories; "part b" is a sibling of "part a".
        entries[cats[0]] += [(14, cats[1]), (14, cats[3]), (0, "An article")]
        entries[cats[1]].append((14, cats[2]))
        entries[cats[2]].append((14, cats[0]))  # cycle back to the root
        for c in cats:
            e = entries[c]
            if c == rootcat and r == 0:  # a continued page
                lines += [page(c, e[: len(e) // 2]), page(c, e[len(e) // 2:])]
            else:
                lines.append(page(c, e))
    lines.insert(len(lines) // 2, "NOT JSON AT ALL")
    path = root / "categories" / "recorded.jsonl"
    path.parent.mkdir(parents=True)
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return Categories(str(path), members)


def expected_series(sums: dict[tuple[str, str], int], files: set[str] | list[str],
                    start: str, end: str) -> dict:
    """The zero-filled API payload for the summed plays of ``files``
    over [start, end]."""
    counts, day = [], dt.date.fromisoformat(start)
    last = dt.date.fromisoformat(end)
    while day <= last:
        iso = day.isoformat()
        counts.append([iso, sum(sums.get((f, iso), 0) for f in files)])
        day += dt.timedelta(days=1)
    return {"total": sum(n for _, n in counts), "counts": counts}
