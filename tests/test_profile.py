"""mediaplaycounts_spark.profile: per-call attribution of stage metrics.

The shared session runs with the UI off, as a driver-supplied vanilla
session does; the UI-on checks run in one subprocess with its own JVM.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

import pytest

from mediaplaycounts_spark.profile import STAGE_FIELDS, profile
from tests.conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parents[1]

_GROUP = ("spark.jobGroup.id", "spark.job.description")


def test_profile_ui_off_has_wall_and_no_stage_fields(spark):
    """UI off: a wall time, but None — not 0 — for every other field,
    and the caller's job group and tags are back afterwards, also when
    the action raises."""
    sc = spark.sparkContext
    assert sc.uiWebUrl is None
    sc.setJobGroup("caller-group", "caller description")
    sc.addJobTag("caller-tag")
    caller = ["caller-group", "caller description"]
    try:
        p = profile(spark, "test_profile:ui_off", lambda: spark.range(10).count())
        assert [sc.getLocalProperty(k) for k in _GROUP] == caller
        assert set(sc.getJobTags()) == {"caller-tag"}

        def boom():
            raise RuntimeError("action failed")

        with pytest.raises(RuntimeError, match="action failed"):
            profile(spark, "test_profile:raises", boom)
        assert [sc.getLocalProperty(k) for k in _GROUP] == caller
        assert set(sc.getJobTags()) == {"caller-tag"}
    finally:
        sc.clearJobTags()
        for k in _GROUP:
            sc.setLocalProperty(k, None)
    assert p.result == 10 and p.wall_s > 0
    assert (p.jobs, p.stages, p.tasks, p.totals, p.per_stage, p.cpu_s) == (None,) * 6


#: Runs tools/profile_key.py as its CLI would, then reuses its UI-on
#: session for the attribution checks.
_UI_ON_SCRIPT = """
import json, runpy, sys
key, sf = sys.argv[1], sys.argv[2]
sys.argv = ["tools/profile_key.py", key, "--sf", sf]
runpy.run_path("tools/profile_key.py", run_name="__main__")

import __spark_entry__
from mediaplaycounts_spark.profile import profile, rest_json
from mediaplaycounts_spark.session import get_spark

spark = get_spark("profile-key")
sc = spark.sparkContext
queries = __spark_entry__.queries()

def write(k):
    return lambda: queries[k](spark, sf).write.mode("overwrite").format("noop").save()

def complete_cpu():
    return {(s["stageId"], s["attemptId"]): s["executorCpuTime"]
            for s in rest_json(sc, "stages?status=complete")}

def against_app_wide(k):
    before = complete_cpu()
    p = profile(spark, k, write(k))
    after = complete_cpu()
    diff = sum(v for s, v in after.items() if s not in before)
    return [s["stageId"] for s in p.per_stage], [p.totals["executorCpuTime"], diff]

(first, cpu_first), (second, cpu_second) = against_app_wide(key), against_app_wide(key)
print("CHECK " + json.dumps({
    "first": first,
    "second": second,
    "cpu_ns": [cpu_first, cpu_second, against_app_wide("stream_tumbling_counts")[1]],
}))
"""


def test_profile_key_cli_and_attribution_with_ui():
    """UI on: the CLI's per-stage rows sum to its totals; two profiles of
    the same key share no stage; and a profile's CPU equals the
    app-wide diff of completed stages the old readers took — for a key
    with broadcast joins, whose jobs run on other threads, and for a
    streaming key, whose jobs run under the query's own job group."""
    key = "join_broadcast_dim"
    proc = subprocess.run(
        [sys.executable, "-c", _UI_ON_SCRIPT, key, SF_SMOKE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    rec = json.loads(lines[0])
    rows = [json.loads(line) for line in lines[1:] if line.startswith("{")]
    assert rec["key"] == key and rec["wall_s"] > 0 and rec["jobs"] >= 1
    assert rec["stages"] == len(rows) >= 1
    assert rec["tasks"] == sum(r["numCompleteTasks"] for r in rows)
    for f in STAGE_FIELDS:
        assert rec["totals"][f] == sum(r[f] for r in rows), f
    assert rec["cpu_s"] == rec["totals"]["executorCpuTime"] / 1e9 > 0
    cpus = [r["executorCpuTime"] for r in rows]
    assert cpus == sorted(cpus, reverse=True)

    check = json.loads(next(x for x in lines if x.startswith("CHECK "))[6:])
    assert check["first"] and check["second"]
    assert not set(check["first"]) & set(check["second"])
    for profiled, app_wide in check["cpu_ns"]:
        assert profiled == app_wide > 0
