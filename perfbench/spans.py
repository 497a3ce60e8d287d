"""Spans around calls into the program, and Spark metrics per span.

A :class:`Tracer` records one span (name, start, end, parent, request
id) around each call the benchmark makes into a layer of the program.
Each span runs under its own Spark job group, so after the run
:class:`StageReader` can attribute every job, stage and scan node to
the span that launched it, reading the UI REST API once for the whole
run. Spans stay in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import time
import urllib.request
from collections import defaultdict

#: Stage fields summed per span (names as the REST API spells them).
STAGE_FIELDS = (
    "executorCpuTime",  # ns
    "executorRunTime",  # ms
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclasses.dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str


class Tracer:
    """Records spans; when ``enabled`` is false every span is a no-op,
    so traced and untraced runs share one code path."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter() - self._t0, 0.0,
                 parent.sid if parent else None, request, f"perfbench:{sid}:{name}")
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_ms(self, span: Span) -> float:
        """The span's duration minus the time its child spans cover."""
        inner = sum(c.end - c.start for c in self.spans if c.parent == span.sid)
        return 1000.0 * (span.end - span.start - inner)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dataclasses.asdict(s)) + "\n")


class StageReader:
    """Per-job-group Spark metrics, read from the UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def collect(self, groups: set[str], settle_s: float = 30.0) -> dict[str, dict]:
        """{group: {"jobs", "stages", "tasks", "job_ms", <STAGE_FIELDS>,
        "files_read", "rows_scanned"}} over the given groups. Waits until
        the listener has recorded every job of those groups as finished."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for st in self._get("stages"):
            if st["status"] == "COMPLETE":
                stages[st["stageId"]] = st
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        job_group = {}
        for j in jobs:
            g = out[j["jobGroup"]]
            job_group[j["jobId"]] = j["jobGroup"]
            g["jobs"] += 1
            g["job_ms"] += _ms_between(j.get("submissionTime"), j.get("completionTime"))
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st is None:  # skipped: its output was reused
                    continue
                g["stages"] += 1
                g["tasks"] += st["numCompleteTasks"]
                for f in STAGE_FIELDS:
                    g[f] += st.get(f, 0)
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            groups_of = {job_group[j] for j in _sql_jobs(ex) if j in job_group}
            if len(groups_of) != 1:
                continue
            g = out[groups_of.pop()]
            for node in ex.get("nodes", []):
                if not node.get("nodeName", "").startswith("Scan"):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "number of files read":
                        g["files_read"] += _num(m["value"])
                    elif m["name"] == "number of output rows":
                        g["rows_scanned"] += _num(m["value"])
        return {k: dict(v) for k, v in out.items()}


def _sql_jobs(ex: dict) -> list[int]:
    return ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])


def _num(s) -> float:
    """First number in a SQL metric value such as ``"1,234"``."""
    tok = str(s).replace(",", "").split()
    try:
        return float(tok[0]) if tok else 0.0
    except ValueError:
        return 0.0


def _ms_between(a: str | None, b: str | None) -> float:
    if not a or not b:
        return 0.0
    import datetime as dt

    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    return (dt.datetime.strptime(b, fmt) - dt.datetime.strptime(a, fmt)).total_seconds() * 1e3
