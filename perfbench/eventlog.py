"""Reader for Spark's JSON event log.

Groups task metrics by the job description that was set when each job
started (``SparkContext.setJobDescription``; ``kg.pipeline.run`` tags
its jobs ``dm:<run_id>:<stage>``).  A stage's tasks count toward the
first job that lists the stage: later jobs that list it reuse its
shuffle output and skip it.

Python SQL metrics (Spark 4.1) give the Arrow/Python crossing cost:
"time to run Python workers" (ms) and "data sent to / returned from
Python workers" (bytes).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from collections.abc import Iterator

_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def events(path: str) -> Iterator[dict]:
    """Events of one application's log: a plain file, or a rolling
    ``eventlog_v2_*`` directory whose ``events_<n>_*`` files are read in
    index order."""
    if os.path.isdir(path):
        files = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def find_log(log_dir: str, app_id: str) -> str:
    """The finished log of ``app_id`` under ``log_dir``."""
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


def empty() -> dict:
    """Summary of a group with no jobs."""
    return {"jobs": 0, "task_s": 0.0, "max_task_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "python_s": 0.0, "python_bytes": 0}


def summarize(evs, key=None) -> dict[str, dict]:
    """Per job group: jobs, executor run time (``task_s``), longest
    task, shuffle read/write bytes, bytes spilled to disk, and Python
    worker time and bytes.  ``key(job_start_event)`` names a job's
    group; the default is its job description (jobs without one go to
    "")."""
    if key is None:
        def key(e):
            return (e.get("Properties") or {}).get("spark.job.description") or ""

    groups: dict[str, dict] = defaultdict(empty)
    stage_group: dict[int, str] = {}
    for e in evs:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = key(e)
            s = groups[g]
            s["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            s = groups[stage_group.get(e["Stage ID"], "")]
            m = e.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            s["task_s"] += run_s
            s["max_task_s"] = max(s["max_task_s"], run_s)
            rd = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == _PY_TIME:
                    s["python_s"] += int(acc.get("Update", 0)) / 1000.0
                elif name in _PY_BYTES:
                    s["python_bytes"] += int(acc.get("Update", 0))
    return dict(groups)

