"""Layer accounting: Spark event-log folding, /proc process stats and the
stderr stack-trace count.

The event log is Spark's own (``spark.eventLog.enabled=true``, written
uncompressed); each benchmark span runs under its own job group, so every
job, stage and task in the log carries the span's name.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

# task SQL-metric names the Python runner reports (Spark 4.1)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS_OUT = "number of output rows"

SPAN_FIELDS = ("jobs", "stages", "tasks", "exec_cpu_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "gc_s")


def _plan_nodes(info):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _first_rows_metric(info):
    """Accumulator id of the first 'number of output rows' at or below
    ``info`` (the rows an operator's child hands it)."""
    for node in _plan_nodes(info):
        for m in node.get("metrics", []):
            if m["name"] == ROWS_OUT:
                return m["accumulatorId"]
    return None


class EventLog:
    """One application's event log, folded by job group."""

    def __init__(self, log_dir: str):
        files = sorted(
            glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
            key=lambda p: int(re.search(r"events_(\d+)_", p).group(1)),
        )
        self.job_group = {}       # job id -> group
        self.job_exec = {}        # job id -> sql execution id
        self.stage_job = {}       # stage id -> job id
        self.stages_done = defaultdict(int)  # job id -> completed stages
        self.tasks = []           # (job id, task end event)
        self.exec_plans = defaultdict(list)  # execution id -> plan infos
        self.exec_group = {}      # execution id -> job group
        self.exec_time = {}       # execution id -> [start ms, end ms]
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._fold(json.loads(line))

    def _fold(self, ev):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.job_group[jid] = props.get("spark.jobGroup.id")
            if "spark.sql.execution.id" in props:
                self.job_exec[jid] = int(props["spark.sql.execution.id"])
            for sid in ev["Stage IDs"]:
                self.stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            jid = self.stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                self.stages_done[jid] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = self.stage_job.get(ev["Stage ID"])
            if jid is not None:
                self.tasks.append((jid, ev))
        elif kind.endswith("SQLExecutionStart"):
            eid = ev["executionId"]
            self.exec_plans[eid].append(ev["sparkPlanInfo"])
            self.exec_group[eid] = ev.get("jobGroupId")
            self.exec_time[eid] = [ev["time"], ev["time"]]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.exec_plans[ev["executionId"]].append(ev["sparkPlanInfo"])
        elif kind.endswith("SQLExecutionEnd"):
            if ev["executionId"] in self.exec_time:
                self.exec_time[ev["executionId"]][1] = ev["time"]

    def regroup(self, from_group: str, to_group: str, plan_part: str):
        """Move the SQL executions of ``from_group`` whose plan mentions
        ``plan_part`` (e.g. a write's output path), with their jobs, to
        ``to_group``; returns the wall seconds of the executions moved."""
        moved = {
            eid for eid, plans in self.exec_plans.items()
            if self.exec_group.get(eid) == from_group and any(
                plan_part in node.get("simpleString", "")
                for plan in plans for node in _plan_nodes(plan))
        }
        for eid in moved:
            self.exec_group[eid] = to_group
        for jid, eid in self.job_exec.items():
            if eid in moved:
                self.job_group[jid] = to_group
        return sum(
            (self.exec_time[e][1] - self.exec_time[e][0]) / 1000.0
            for e in moved
        )

    def span(self, group: str) -> dict:
        """Summed job/stage/task counters of one job group."""
        jobs = [j for j, g in self.job_group.items() if g == group]
        out = dict.fromkeys(SPAN_FIELDS, 0)
        out["jobs"] = len(jobs)
        out["stages"] = sum(self.stages_done[j] for j in jobs)
        jobset = set(jobs)
        for jid, ev in self.tasks:
            if jid not in jobset:
                continue
            m = ev.get("Task Metrics") or {}
            out["tasks"] += 1
            out["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        return out

    def task_metric(self, group: str, key: str, values) -> float:
        """Sum of the task updates to the accumulators whose ``key``
        ("Name" or "ID") is in ``values``, over the group's tasks."""
        total = 0.0
        for jid, ev in self.tasks:
            if self.job_group.get(jid) != group:
                continue
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get(key) in values:
                    total += float(acc.get("Update") or 0)
        return total

    def python_rows(self, group: str) -> tuple[float, float]:
        """(rows into, rows out of) the group's MapInPandas operators."""
        rows_in, rows_out = set(), set()
        for eid, plans in self.exec_plans.items():
            if self.exec_group.get(eid) != group:
                continue
            for plan in plans:
                for node in _plan_nodes(plan):
                    if node["nodeName"] != "MapInPandas":
                        continue
                    for m in node["metrics"]:
                        if m["name"] == ROWS_OUT:
                            rows_out.add(m["accumulatorId"])
                    for child in node.get("children", []):
                        acc = _first_rows_metric(child)
                        if acc is not None:
                            rows_in.add(acc)
        return (self.task_metric(group, "ID", rows_in),
                self.task_metric(group, "ID", rows_out))

    def input_scans(self, groups, path_part: str) -> int:
        """File-scan operators over ``path_part`` in the final plans of the
        groups' SQL executions."""
        n = 0
        for eid, plans in self.exec_plans.items():
            if self.exec_group.get(eid) not in groups or not plans:
                continue
            for node in _plan_nodes(plans[-1]):
                loc = (node.get("metadata") or {}).get("Location", "")
                if node["nodeName"].startswith("Scan") and path_part in loc:
                    n += 1
        return n


# --------------------------------------------------------------------------
# /proc: CPU seconds and peak RSS of the driver, the JVM and its workers
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict:
    kids = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(pid))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_s(pid: int) -> float:
    """utime + stime of the process plus its reaped children."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def find_jvm(launcher_pid: int) -> int:
    """The java process under the spark-submit launcher script."""
    for pid in descendants(launcher_pid):
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return launcher_pid


class ProcTree:
    """The driver (this process), the JVM it launched, and the JVM's
    Python worker processes."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid

    def cpu(self) -> dict:
        workers = descendants(self.jvm)[1:]
        own = os.times()
        return {
            "driver": own.user + own.system,
            "jvm": _cpu_s(self.jvm),
            "pyworker": sum(_cpu_s(p) for p in workers),
        }

    def peak_rss_mb(self) -> dict:
        workers = descendants(self.jvm)[1:]
        return {
            "jvm": _hwm_mb(self.jvm),
            "pyworker": sum(_hwm_mb(p) for p in workers),
        }


_FRAME = re.compile(r"\t+(at |\.\.\. \d+ more|Suppressed: )")


def count_stack_traces(log_path: str) -> int:
    """Java stack traces in a stderr log: each maximal run of frame lines
    (``Caused by:`` chains and suppressed traces continue the same one)."""
    n, in_trace = 0, False
    with open(log_path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            frame = bool(_FRAME.match(line))
            if frame and not in_trace:
                n += 1
            if not line.startswith("Caused by:"):
                in_trace = frame
    return n
