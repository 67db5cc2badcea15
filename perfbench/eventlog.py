"""Stdlib reader for Spark's JSON event log, aggregated per job group.

Spark 4.1 writes a rolling directory ``eventlog_v2_<app>/events_<n>_<app>``;
the session must set ``spark.eventLog.compress=false`` so the files are
plain JSON lines.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
_GROUP = "spark.jobGroup.id"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def read_events(log_dir: str):
    """Events of every rolling event-log directory under ``log_dir``, in
    file-index order."""
    dirs = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if not dirs:
        raise FileNotFoundError(f"no eventlog_v2_* directory under {log_dir}")
    for d in dirs:
        files = glob.glob(os.path.join(d, "events_*"))
        for path in sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1])):
            with open(path) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


@dataclass
class GroupStats:
    jobs: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python: dict = field(default_factory=lambda: defaultdict(float))
    # (stage id, attempt) -> executor run times (ms) of its tasks
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def task_skew(self) -> float:
        """max / median task run time in the group's largest stage (by
        summed task time); 0 when the group ran no tasks."""
        if not self.stage_tasks:
            return 0.0
        times = max(self.stage_tasks.values(), key=sum)
        return max(times) / max(statistics.median(times), 1.0)


@dataclass
class LogSummary:
    groups: dict            # job group -> GroupStats
    untagged_jobs: int      # jobs in the window with no job group
    sql_executions: int     # SQL executions started in the window


def summarize(events, t0_ms: float, t1_ms: float) -> LogSummary:
    """Aggregate the jobs submitted in [t0_ms, t1_ms] (epoch ms) by job
    group; tasks follow their stage's job group."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    untagged = sql = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if not t0_ms <= e["Submission Time"] <= t1_ms:
                continue
            g = (e.get("Properties") or {}).get(_GROUP)
            if g is None:
                untagged += 1
                continue
            groups[g].jobs += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            st, tm = groups[g], e.get("Task Metrics") or {}
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            st.stage_tasks[(e["Stage ID"], e["Stage Attempt ID"])].append(
                tm.get("Executor Run Time", 0)
            )
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") in (PY_SENT, PY_RETURNED, PY_RUN):
                    st.python[acc["Name"]] += float(acc.get("Update") or 0)
        elif kind == _SQL_START and t0_ms <= e["time"] <= t1_ms:
            sql += 1
    return LogSummary(dict(groups), untagged, sql)
