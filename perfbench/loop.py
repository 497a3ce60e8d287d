"""The benchmark's workloads over the product loop.

``ingest_daily``: the nightly write side. Set-up backfills every plain
TSV day into a fresh store; each timed operation is one nightly job
that lands the bz2 copy of the last day over that store.

``api_serving``: the read side, one client in a closed loop. Over a
day-partitioned store and a category snapshot, set-up opens the
serving table, builds the WSGI app and answers a first request; each
timed operation is one request from a fixed cycle of shapes over all
six routes.

Both return an :class:`Outcome`: per-operation walls and CPU, set-up
walls, the count of operations checked and failed, and (when traced)
the per-layer metrics.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import glob
import json
import os
import pathlib
import random
import statistics
import sys
import threading
import time
from urllib.parse import quote

import gen
from spans import StageReader, Tracer

_T0 = time.perf_counter()


def note(phase: str) -> None:
    """Progress on stderr: which phase ended, how far into the run."""
    print(f"perfbench: {phase} done at {time.perf_counter() - _T0:.1f}s", file=sys.stderr)


#: Input sizes. ``tiny`` is for the smoke test. A full ingest day has
#: about 50,000 rows (6 MB), far below a production day: a run must fit
#: its set-up, several nightly jobs and a JVM start in about a minute.
SIZES = {
    "full": {
        "ingest": dict(n_days=3, rows_per_day=50_000, n_files=125_000),
        "api": dict(n_days=20, rows_per_day=3_000, n_files=7_500),
        "categories": (5, 300),
    },
    "tiny": {
        "ingest": dict(n_days=2, rows_per_day=2_000, n_files=5_000),
        "api": dict(n_days=5, rows_per_day=500, n_files=1_250),
        "categories": (3, 30),
    },
}
#: Timed set-ups per run: backfills for ingest_daily, and server starts
#: (cheaper, so more of them) for api_serving. An untimed set-up and the
#: untimed warm-up operations come before them, so the JVM has compiled
#: the hot paths. A traced run reports no ``setup_s`` and sets up once.
INGEST_SETUPS, API_SETUPS = 3, 5
#: Untimed nightly jobs before the timed ones.
WARM_OPS = 1
#: Untimed warm-up of the API: this many clients at once, each sending
#: this many requests. The serving path is Spark's planner, so the JIT
#: compiler needs a few hundred requests to settle; parallel clients
#: reach that depth sooner than one would.
WARM_CLIENTS, WARM_REQUESTS = 3, 16
#: The API request list: timed requests come from its first SETUP_AT
#: entries, each set-up's first request from the ones after (always of
#: the first shape, a one-day file date_range), the warm-up's from its
#: end. No request is sent twice in a run.
N_REQUESTS, SETUP_AT = 1000, 500


@dataclasses.dataclass
class Outcome:
    op_s: list[float]
    cpu_s: list[float]
    jit_s: list[float]
    setup_s: list[float] = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = dataclasses.field(default_factory=dict)
    #: Index of the first span of the traced half of the timed loop.
    first_span: int = 0


class Ctx:
    """What a workload needs: the session, its work directory, the seed,
    the measuring time, the input sizes and the tracer."""

    def __init__(self, spark, work: pathlib.Path, seed: int, seconds: float,
                 size: str, tracer: Tracer, plant_wrong: bool):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.size = SIZES[size]
        self.tracer = tracer
        self.plant_wrong = plant_wrong
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        """CPU of the JVM's threads outside the JIT compiler, and of this
        Python process. Compilation is the JVM's warm-up, paid once per
        process; on a young JVM it takes about a core and would swamp
        the work of each operation."""
        total = 0
        for task in os.scandir(f"/proc/{self.jvm_pid}/task"):
            try:
                with open(f"{task.path}/stat") as f:
                    head, fields = f.read().rsplit(")", 1)
            except FileNotFoundError:  # the thread ended meanwhile
                continue
            if " CompilerThre" not in head:
                fields = fields.split()
                total += int(fields[11]) + int(fields[12])
        return total / self._tick + time.process_time()

    def jit_s(self) -> float:
        """Time the JVM has spent compiling, as its JMX bean reports it."""
        bean = self.spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return bean.getTotalCompilationTime() / 1e3

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def _setups(ctx: Ctx, n: int) -> int:
    return 1 if ctx.tracer.enabled else n


def _timed_loop(ctx: Ctx, seconds: float, op, after=None):
    """Run ``op(i)``, then the untimed ``after()``, until ``seconds`` have
    passed (and at least three times); return each op's wall, its
    process CPU outside JIT compilation, and the JIT compile time
    meanwhile."""
    walls, cpu, jit = [], [], []
    end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < end or i < 3:
        j0, c0, t = ctx.jit_s(), ctx.cpu_s(), time.perf_counter()
        op(i)
        walls.append(time.perf_counter() - t)
        cpu.append(ctx.cpu_s() - c0)
        jit.append(ctx.jit_s() - j0)
        if after is not None:
            after()
        i += 1
    return walls, cpu, jit


# ---------------------------------------------------------------- ingest


def nightly(ctx: Ctx, src: str, store: str, errors: str):
    """One nightly job as ``pipeline_e2e_daily_ingest`` composes it:
    scan, error sink, parse, per-(file, day) rollup, idempotent write.
    Returns the raw scan and the parsed rows, still cached for counting."""
    from pyspark.sql import functions as F

    from mediaplaycounts_spark.ingest import mediacounts as M

    t = ctx.tracer
    with t.span("ingest.mediacounts.read_raw"):
        raw = M.read_raw(ctx.spark, src)
    with t.span("ingest.mediacounts.corrupt_records"):
        M.corrupt_records(raw).write.mode("overwrite").json(errors)
    with t.span("ingest.mediacounts.parse_raw"):
        parsed = M.parse_raw(raw)
    with t.span("ingest.mediacounts.daily_playcounts"):
        rolled = parsed.groupBy("file", "date").agg(F.sum("plays").alias("count"))
    with t.span("ingest.mediacounts.write_daily"):
        M.write_daily(rolled, store)
    return raw, parsed


def _end_of_job(ctx: Ctx) -> float:
    """Storage memory the job left cached, then drop it: each nightly
    job is its own process in production, so nothing it cached may
    serve the next one."""
    jsc = ctx.spark.sparkContext._jsc.sc()
    held = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
    ctx.spark.catalog.clearCache()
    return float(held)


def _store_sums(store: str, day: str | None = None) -> dict[tuple[str, str], int]:
    """{(file, day): summed count} as the store holds it; ``day`` reads
    one partition directory."""
    import pyarrow.parquet as pq

    t = pq.read_table(store, partitioning=None if day else "hive").to_pydict()
    days = [day] * len(t["file"]) if day else [str(x)[:10] for x in t["date"]]
    out: dict[tuple[str, str], int] = {}
    for key, c in zip(zip(t["file"], days), t["count"]):
        out[key] = out.get(key, 0) + c
    return out


def _sink_lines(errors: str) -> list[str]:
    lines = []
    for part in glob.glob(f"{errors}/part-*"):
        with open(part, encoding="utf-8") as f:
            lines += [json.loads(x)["raw_line"] for x in f if x.strip()]
    return sorted(lines)


def ingest_daily(ctx: Ctx) -> Outcome:
    size = ctx.size["ingest"]
    d = gen.make_dumps(ctx.work / "in", ctx.seed, **size)
    note("inputs")
    if ctx.plant_wrong:  # a wrong expectation the checks must catch
        k = next(iter(d.sums))
        d.sums[k] += 1
    plain = str(ctx.work / "in" / "dumps" / "*.tsv")
    all_bad = sorted(x for v in d.malformed.values() for x in v)
    failed = 0

    def backfill(rep: int) -> tuple[str, float, dict]:
        """Backfill every plain day into a fresh store and check it."""
        nonlocal failed
        store, errors = str(ctx.work / f"store{rep}"), str(ctx.work / f"errors{rep}")
        with ctx.tracer.span("setup.backfill"):
            t = time.perf_counter()
            raw, parsed = nightly(ctx, plain, store, errors)
            wall = time.perf_counter() - t
        # The program's own row counts, from the job's cache, untimed.
        counted = {"raw_rows": raw.count(), "kept_rows": parsed.count()}
        counted["cached_after"] = _end_of_job(ctx)
        sink = _sink_lines(errors)
        counted["corrupt_rows"] = len(sink)
        failed += (_store_sums(store) != d.sums or sink != all_bad
                   or counted["raw_rows"] != d.total_raw_rows
                   or counted["kept_rows"] != sum(d.media_rows.values()))
        return store, wall, counted

    # Each nightly job lands the bz2 copy of the last day over a store.
    errors = str(ctx.work / "errors_landing")
    day = {k: v for k, v in d.sums.items() if k[1] == d.bz2_day}
    day_bad = sorted(d.malformed[d.bz2_day])
    bad_ops = []

    def land(i: int) -> None:
        with ctx.tracer.span("op.nightly", request=i):
            nightly(ctx, d.bz2_path, store, errors)

    def check() -> None:
        _end_of_job(ctx)
        # The landed day replaced its earlier copy: one copy, never two.
        got = _store_sums(f"{store}/date={d.bz2_day}", d.bz2_day)
        bad_ops.append(got != day or _sink_lines(errors) != day_bad)

    # Warm-up, untimed: one backfill and a few nightly jobs over it.
    store, _, _ = backfill(0)
    for i in range(WARM_OPS):
        land(-1 - i)
        check()
    note("warm-up")
    setup = []
    for rep in range(1, _setups(ctx, INGEST_SETUPS) + 1):
        store, wall, counted = backfill(rep)
        setup.append(wall)
    note("set-up")
    # The timed nightly jobs land over the last backfilled store.
    out = _measure(ctx, land, check)
    failed += sum(bad_ops) + (_store_sums(store) != d.sums)
    out.setup_s, out.attempted = setup, 1 + len(setup) + len(bad_ops) + 1
    out.failed = failed
    if ctx.tracer.enabled:
        out.layers.update(_ingest_layers(ctx, d, store, counted, out.first_span))
    return out


def _measure(ctx: Ctx, op, after=None) -> Outcome:
    """The timed loop. Traced runs trace every other operation, so the
    tracing overhead is measured in the same process, and the JVM's
    warm-up speeds traced and untraced operations alike. The outcome
    holds the traced operations."""
    t = ctx.tracer
    if not t.enabled:
        return Outcome(*_timed_loop(ctx, ctx.seconds, op, after))
    first = len(t.spans)

    def every_other(i: int) -> None:
        t.enabled = i % 2 == 1
        try:
            op(i)
        finally:
            t.enabled = True

    walls, cpu, jit = _timed_loop(ctx, ctx.seconds, every_other, after)
    out = Outcome(walls[1::2], cpu[1::2], jit[1::2], first_span=first)
    out.layers["trace.overhead_p50_ms"] = 1e3 * (
        statistics.median(walls[1::2]) - statistics.median(walls[0::2]))
    out.layers["session.jit_ms_per_op"] = 1e3 * statistics.mean(out.jit_s)
    return out


def _group_sum(metrics: dict, spans, field: str) -> float:
    return sum(metrics.get(s.group, {}).get(field, 0.0) for s in spans)


def _ingest_layers(ctx: Ctx, d: gen.Dumps, store: str, counted: dict,
                   first_span: int) -> dict:
    t = ctx.tracer
    m = StageReader(ctx.spark).collect({s.group for s in t.spans})
    backfill = [s for s in t.spans if s.name == "setup.backfill"][-1]
    inner = [s for s in t.spans if s.parent == backfill.sid]
    scan = [s for s in inner if s.name == "ingest.mediacounts.corrupt_records"]
    write = [s for s in inner if s.name == "ingest.mediacounts.write_daily"]
    # The timed, traced nightly jobs only: no warm-up jobs.
    ops = [s for s in t.spans[first_span:] if s.name == "op.nightly"]
    op_scan = [s for s in t.spans[first_span:] if s.name == "ingest.mediacounts.corrupt_records"
               and s.parent in {o.sid for o in ops}]
    raw_rows = d.total_raw_rows
    raw_bytes = sum(d.raw_bytes.values())
    store_bytes = sum(p.stat().st_size for p in pathlib.Path(store).rglob("*.parquet"))
    files = len(list(pathlib.Path(store).rglob("*.parquet")))
    both = scan + write
    return {
        "ingest.mediacounts.scan.cpu_s": _group_sum(m, scan, "executorCpuTime") / 1e9,
        "ingest.mediacounts.scan.run_s": _group_sum(m, scan, "executorRunTime") / 1e3,
        "ingest.mediacounts.scan.input_bytes": _group_sum(m, scan, "inputBytes"),
        "ingest.mediacounts.scan.records_in": _group_sum(m, scan, "inputRecords"),
        "ingest.mediacounts.scan.tasks": _group_sum(m, scan, "tasks"),
        "ingest.mediacounts.kept_ratio": counted["kept_rows"] / counted["raw_rows"],
        "ingest.mediacounts.shuffle_write_bytes": _group_sum(m, both, "shuffleWriteBytes"),
        "ingest.mediacounts.shuffle_read_bytes": _group_sum(m, both, "shuffleReadBytes"),
        "ingest.mediacounts.spill_bytes": _group_sum(m, both, "memoryBytesSpilled")
        + _group_sum(m, both, "diskBytesSpilled"),
        "ingest.mediacounts.corrupt_rows": float(counted["corrupt_rows"]),
        "ingest.mediacounts.cached_bytes_after": counted["cached_after"],
        "ingest.write_daily.cpu_s": _group_sum(m, write, "executorCpuTime") / 1e9,
        "ingest.write_daily.run_s": _group_sum(m, write, "executorRunTime") / 1e3,
        "ingest.write_daily.output_bytes": _group_sum(m, write, "outputBytes"),
        "ingest.write_daily.files_per_day": files / len(d.days),
        "ingest.backfill_rows_per_s": raw_rows / (backfill.end - backfill.start),
        "store.bytes_per_input_byte": store_bytes / raw_bytes,
        "ingest.bz2_day.scan.cpu_s": (_group_sum(m, op_scan, "executorCpuTime") / 1e9
                                      / max(len(ops), 1)),
    }


# ------------------------------------------------------------------- api


@dataclasses.dataclass
class Request:
    kind: str  # "file" or "category"
    path: str
    name: str
    start: str
    end: str


#: The request shapes the client cycles through: (kind, route, days in
#: a date_range span beyond the first, with None for the whole store).
#: Seven file requests and three category ones cover all six routes; a
#: fixed cycle gives every run the same mix, and the seed picks the
#: file, the category and the first day within each shape. No request
#: log of the service exists, so this mix and the shares below are
#: assumptions; README.md says what each one rests on.
SHAPES = (
    ("file", "date_range", 0), ("file", "last_30", None), ("category", "date_range", 6),
    ("file", "date_range", None), ("file", "last_90", None), ("category", "last_30", None),
    ("file", "date_range", 1), ("file", "date_range", 13), ("category", "last_90", None),
    ("file", "last_30", None),
)
#: Of the file requests: a file drawn by play popularity, a file drawn
#: uniformly from the store, and (the rest) a file absent from it.
POPULAR_SHARE, UNIFORM_SHARE = 0.8, 0.1
#: Of all requests: names written with ``_`` for spaces, and date_range
#: dates written ``YYYYMMDD`` rather than ISO.
UNDERSCORE_SHARE, COMPACT_DATE_SHARE = 0.5, 0.3


def _requests(d: gen.Dumps, cats: gen.Categories, today: str, seed: int,
              n: int = N_REQUESTS) -> list[Request]:
    """A seeded mix over all six routes: Zipf-popular and absent files,
    spans from one day to the whole store, pinned last_30/last_90 and
    categories of several sizes."""
    rng = random.Random(seed * 31 + 7)
    first, last = dt.date.fromisoformat(d.days[0]), dt.date.fromisoformat(d.days[-1])
    span_days = (last - first).days
    weights = [(r + 1.0) ** -gen.ZIPF_S for r in range(len(d.popularity))]
    roots = sorted(cats.members)
    t = dt.date.fromisoformat(today)
    out = []
    for i in range(n):
        kind, action, length = SHAPES[i % len(SHAPES)]
        if kind == "file":
            roll = rng.random()
            if roll < POPULAR_SHARE:
                name = rng.choices(d.popularity, weights=weights)[0]
            elif roll < POPULAR_SHARE + UNIFORM_SHARE:
                name = rng.choice(d.popularity)
            else:
                name = rng.choice(d.absent_files)
            surface = "FilePlaycount"
        else:
            name = rng.choice(roots)
            surface = "CategoryPlaycount"
        in_path = name.replace(" ", "_") if rng.random() < UNDERSCORE_SHARE else name
        if action == "date_range":
            length = span_days if length is None else length
            s = first + dt.timedelta(days=rng.randint(0, span_days - min(length, span_days)))
            e = s + dt.timedelta(days=length)
            fmt = "%Y%m%d" if rng.random() < COMPACT_DATE_SHARE else "%Y-%m-%d"
            path = f"/api/1/{surface}/date_range/{quote(in_path)}/{s:{fmt}}/{e:{fmt}}"
            start, end = s.isoformat(), e.isoformat()
        else:
            k = 30 if action == "last_30" else 90
            path = f"/api/1/{surface}/{action}/{quote(in_path)}"
            start = (t - dt.timedelta(days=k)).isoformat()
            end = (t - dt.timedelta(days=1)).isoformat()
        out.append(Request(kind, path, name, start, end))
    return out


def _call(app, path: str) -> tuple[str, bytes]:
    status = []
    body = b"".join(app({"REQUEST_METHOD": "GET", "PATH_INFO": path},
                        lambda s, h: status.append(s)))
    return status[0], body


def _patch_http(tracer: Tracer):
    """Route the app's calls into api.playcounts through spans. The app
    looks these names up in its module at call time."""
    from mediaplaycounts_spark.api import http

    names = ("date_range", "last_n", "category_date_range", "category_last_n")
    saved = {n: getattr(http, n) for n in names + ("to_api_payload",)}
    for n in names:
        setattr(http, n, tracer.wrap("api.playcounts.build", saved[n]))
    http.to_api_payload = tracer.wrap("api.playcounts.to_api_payload", saved["to_api_payload"])
    return lambda: [setattr(http, n, f) for n, f in saved.items()]


def api_serving(ctx: Ctx) -> Outcome:
    from mediaplaycounts_spark.api.http import create_app
    from mediaplaycounts_spark.api.serving import read_serving_parquet

    d = gen.make_dumps(ctx.work / "in", ctx.seed, **ctx.size["api"])
    cats = gen.make_categories(ctx.work / "in", ctx.seed, d, ctx.size["categories"])
    note("inputs")
    today = (dt.date.fromisoformat(d.days[-1]) + dt.timedelta(days=2)).isoformat()
    reqs = _requests(d, cats, today, ctx.seed)
    t = ctx.tracer
    restore = _patch_http(t) if t.enabled else (lambda: None)
    setup = []
    try:
        # The nightly batch outputs the server reads. The store holds the
        # ingest's result as the generator knows it; ingest_daily times
        # how the ingest makes it.
        store, snap = str(ctx.work / "store"), str(ctx.work / "members")
        with t.span("ingest.mediacounts.write_daily"):
            _write_truth(ctx, d, store)
        note("store")
        if t.enabled:
            failed_snapshot = _build_snapshot(ctx, cats, snap)
        else:
            # build_membership_snapshot costs ~10 s a root here, more than
            # the timed loop; untraced runs write its checked output.
            rows = [(c, f) for c, fs in sorted(cats.members.items()) for f in sorted(fs)]
            ctx.spark.createDataFrame(rows, "category string, file string") \
                .write.mode("overwrite").parquet(snap)
            failed_snapshot = 0
        note("snapshot")
        # Set-up proper: start the server over those outputs and answer
        # a first request, several times from scratch.
        def start(rep: int):
            ctx.spark.catalog.clearCache()
            with t.span("setup.serving"):
                t0 = time.perf_counter()
                members = ctx.spark.read.parquet(snap)
                with t.span("api.serving.read_serving_parquet"):
                    serving = read_serving_parquet(ctx.spark, store)
                with t.span("api.http.create_app"):
                    app = create_app(serving, members, today=today)
                _call(app, reqs[SETUP_AT + rep * len(SHAPES)].path)
                return app, time.perf_counter() - t0

        # Warm-up, untimed: one set-up, then parallel clients.
        app, _ = start(0)
        _warm(app, reqs, t)
        note("warm-up")
        for rep in range(1, _setups(ctx, API_SETUPS) + 1):
            app, wall = start(rep)
            setup.append(wall)
        note("set-up")

        answers: list[tuple[Request, str, bytes]] = []

        def request(i: int) -> None:
            r = reqs[i % SETUP_AT]
            with t.span(f"api.http.{r.kind}", request=i):
                status, body = _call(app, r.path)
            answers.append((r, status, body))

        out = _measure(ctx, request)
    finally:
        restore()
    if ctx.plant_wrong:  # a wrong expectation the checks must catch
        d.sums = {k: v + 1 for k, v in d.sums.items()}
    failed = 0
    for r, status, body in answers:
        files = cats.members[r.name] if r.kind == "category" else [r.name]
        want = gen.expected_series(d.sums, files, r.start, r.end)
        failed += status != "200 OK" or json.loads(body) != want
    out.setup_s = setup
    out.attempted, out.failed = len(answers) + t.enabled, failed + failed_snapshot
    if t.enabled:
        out.layers.update(_api_layers(ctx, answers, out.first_span))
    return out


def _warm(app, reqs: list[Request], tracer: Tracer) -> None:
    """Untimed warm-up: WARM_CLIENTS threads each send WARM_REQUESTS
    requests from the end of the list, with tracing off."""
    traced, tracer.enabled = tracer.enabled, False
    errors: list[BaseException] = []

    def client(k: int) -> None:
        try:
            for j in range(WARM_REQUESTS):
                _call(app, reqs[-1 - k - j * WARM_CLIENTS].path)
        except BaseException as ex:  # re-raised below, in the caller's thread
            errors.append(ex)

    threads = [threading.Thread(target=client, args=(k,)) for k in range(WARM_CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    tracer.enabled = traced
    if errors:
        raise errors[0]


def _write_truth(ctx: Ctx, d: gen.Dumps, store: str) -> None:
    """The generator's per-(file, day) sums, through the nightly job's
    rollup and write_daily, so the store has the ingest's file layout."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mediaplaycounts_spark.ingest.mediacounts import write_daily

    keys = sorted(d.sums)
    pdf = pd.DataFrame({"file": [f for f, _ in keys],
                        "date": [dt.date.fromisoformat(x) for _, x in keys],
                        "plays": [d.sums[k] for k in keys]})
    facts = ctx.spark.createDataFrame(pdf, "file string, date date, plays long")
    write_daily(facts.groupBy("file", "date").agg(F.sum("plays").alias("count")), store)


def _build_snapshot(ctx: Ctx, cats: gen.Categories, snap: str) -> int:
    """The category snapshot of every root, as the program builds it
    from the recorded JSONL; returns 1 if it differs from the truth."""
    from mediaplaycounts_spark.ingest.categories import build_membership_snapshot

    with ctx.tracer.span("ingest.categories.build_membership_snapshot"):
        parts = [build_membership_snapshot(ctx.spark, cats.path, r) for r in sorted(cats.members)]
        snapshot = parts[0]
        for p in parts[1:]:
            snapshot = snapshot.unionByName(p)
        snapshot.write.mode("overwrite").parquet(snap)
    got: dict[str, set[str]] = {}
    for r in ctx.spark.read.parquet(snap).collect():
        got.setdefault(r.category, set()).add(r.file)
    return int(got != cats.members)


def _api_layers(ctx: Ctx, answers, first_span: int) -> dict:
    t = ctx.tracer
    m = StageReader(ctx.spark).collect({s.group for s in t.spans})
    kids: dict[int, list] = {}
    for s in t.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    reqs = [s for s in t.spans[first_span:] if s.name.startswith("api.http.")]

    def tree(s):
        return [s] + [x for k in kids.get(s.sid, []) for x in tree(k)]

    per_req = []
    for s in reqs:
        spans = tree(s)
        per_req.append({
            "kind": s.name.rsplit(".", 1)[1],
            "wall_ms": 1e3 * (s.end - s.start),
            "self_ms": t.self_ms(s),
            "build_ms": sum(1e3 * (x.end - x.start) for x in spans
                            if x.name == "api.playcounts.build"),
            "payload_ms": sum(1e3 * (x.end - x.start) for x in spans
                              if x.name == "api.playcounts.to_api_payload"),
            **{f: _group_sum(m, spans, f) for f in
               ("jobs", "stages", "tasks", "job_ms", "executorCpuTime", "inputBytes",
                "files_read", "rows_scanned")},
        })
    for r, s in zip(per_req, reqs):
        r["result_rows"] = len(json.loads(answers[s.request][2])["counts"])

    def mean(key, kind=None):
        xs = [r[key] for r in per_req if kind is None or r["kind"] == kind]
        return sum(xs) / len(xs) if xs else 0.0

    for kind in ("file", "category"):
        for f in ("jobs", "stages", "tasks"):
            out[f"api.{kind}.{f}_per_request"] = mean(f, kind)
    setup = [s for s in t.spans if s.name == "setup.serving"][-1]
    setup_tree = tree(setup)
    snap = [s for s in t.spans if s.name == "ingest.categories.build_membership_snapshot"]
    rsp = [s for s in setup_tree if s.name == "api.serving.read_serving_parquet"]
    out.update({
        "api.http.self_ms": mean("self_ms"),
        "api.playcounts.build_ms": mean("build_ms"),
        "api.playcounts.to_api_payload_ms": mean("payload_ms"),
        "api.job_ms_per_request": mean("job_ms"),
        "api.driver_ms_per_request": mean("wall_ms") - mean("job_ms"),
        "api.executor_cpu_ms_per_request": mean("executorCpuTime") / 1e6,
        # File requests scan only the store (category ones also scan
        # the snapshot), so the store's scan is read from them.
        "api.serving.input_bytes_per_request": mean("inputBytes", "file"),
        "api.serving.files_read_per_request": mean("files_read", "file"),
        "api.serving.rows_scanned_per_result_row": (
            mean("rows_scanned", "file") / max(mean("result_rows", "file"), 1)),
        "ingest.categories.snapshot_s": sum(s.end - s.start for s in snap),
        "api.serving.read_serving_parquet_ms": 1e3 * sum(s.end - s.start for s in rsp),
    })
    return out
