"""Spark stage metrics for one action: the library's only reader of them.

:func:`profile` runs an action under a job group named after a key and
reads back the metrics of the stages its jobs completed, from the UI's
monitoring REST API — the only public surface that carries executor
CPU, shuffle bytes and spill per stage. :func:`rest_json` is the one
place that builds its URLs.

Jobs are attributed by a job tag unique to the call, not by diffing
every completed stage in the application, so a record holds exactly the
stages its own action ran. The tag, unlike the job group, reaches the
jobs of a streaming query the action starts: the query's thread
inherits the caller's tags but sets its own job group. A stage a job
skips (its shuffle output already exists) is never COMPLETE under that
job's new stage id, so it is not counted twice.

With the UI off (``sc.uiWebUrl is None``, as in a driver-supplied
vanilla session) every field but the wall time is ``None``, never
``0``: a reader must not mistake "not measured" for "no work".
"""

from __future__ import annotations

import dataclasses
import json
import time
import urllib.request
import uuid
from collections.abc import Callable

#: Per-stage fields summed into :attr:`Profile.totals`, as the REST API
#: spells them. ``executorCpuTime`` is in ns, ``executorRunTime`` in ms,
#: the rest in bytes.
STAGE_FIELDS = (
    "executorCpuTime",
    "executorRunTime",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)

#: Thread-local properties that ``setJobGroup`` sets; restored on exit.
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@dataclasses.dataclass(frozen=True)
class Profile:
    """One profiled action.

    Every field but ``key``, ``wall_s`` and ``result`` is ``None`` when
    the UI is off. ``per_stage`` holds one dict per completed stage
    attempt: ``stageId``, ``attemptId``, ``name``, ``numCompleteTasks``
    and the :data:`STAGE_FIELDS`. ``result`` is what the action returned.
    """

    key: str
    wall_s: float
    jobs: int | None
    stages: int | None
    tasks: int | None
    totals: dict[str, int] | None
    per_stage: list[dict] | None
    result: object = dataclasses.field(default=None, repr=False)

    @property
    def cpu_s(self) -> float | None:
        """Executor CPU seconds over the action's completed stages."""
        return None if self.totals is None else self.totals["executorCpuTime"] / 1e9

    def record(self) -> dict:
        """The JSON-printable record (everything but ``result``)."""
        out = {f.name: getattr(self, f.name) for f in dataclasses.fields(self)}
        del out["result"]
        out["cpu_s"] = self.cpu_s
        return out


def rest_json(sc, path: str):
    """GET ``{ui}/api/v1/applications/{app id}/{path}`` as parsed JSON."""
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def profile(spark, key: str, action: Callable[[], object]) -> Profile:
    """Run ``action()`` under job group and description ``key``; return
    its wall time and the metrics of the stages its jobs completed.

    The caller's job group and tags are restored afterwards, also when
    ``action`` raises.
    """
    sc = spark.sparkContext
    tag = f"mediaplaycounts-profile-{uuid.uuid4().hex}"
    saved = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    sc.setJobGroup(key, key)
    sc.addJobTag(tag)
    try:
        t0 = time.perf_counter()
        result = action()
        wall = time.perf_counter() - t0
    finally:
        sc.removeJobTag(tag)
        for p, v in saved.items():
            sc.setLocalProperty(p, v)
    if sc.uiWebUrl is None:
        return Profile(key, wall, None, None, None, None, None, result)
    # The job-end events are queued before the action returns; drain the
    # listener bus so the status store has recorded all of them.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [j for j in rest_json(sc, "jobs") if tag in j.get("jobTags", ())]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    per_stage = [
        {f: st[f] for f in ("stageId", "attemptId", "name", "numCompleteTasks", *STAGE_FIELDS)}
        for st in rest_json(sc, "stages?status=complete")
        if st["stageId"] in stage_ids
    ]
    totals = {f: sum(st[f] for st in per_stage) for f in STAGE_FIELDS}
    tasks = sum(st["numCompleteTasks"] for st in per_stage)
    return Profile(key, wall, len(jobs), len(per_stage), tasks, totals, per_stage, result)
