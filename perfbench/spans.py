"""Spans around the benchmark's calls into the package, and the
per-layer numbers Spark records for them.

Each traced call runs under a fresh job-group label, so the jobs,
stages and tasks it started can be counted through
``sparkContext.statusTracker()`` right after it returns (reusing a
label would count every earlier call of that label as well). Shuffle,
spill, executor CPU and stage intervals come from Spark's own event
log, parsed after the session stops; nothing beyond the standard
library is needed. Process figures (peak memory, the process tree)
come from /proc.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    """Records one span per call into a layer while ``enabled``.

    A span is a dict with ``id``, ``name``, ``parent``, ``start`` and
    ``end`` (epoch seconds), plus the call's job-group ``label`` and
    its counts. Spans stay in memory until :meth:`write`.
    """

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time one call. Yields the span dict (callers may add counts
        to it); yields a throwaway dict when tracing is off. A span
        without a parent groups the calls of one pass; only calls get
        a job-group label."""
        if not self.enabled:
            yield {}
            return
        rec = {"id": self._next_id, "name": name, "parent": parent, **attrs}
        self._next_id += 1
        if parent is not None:
            label = rec["label"] = f"{name}#{rec['id']}"
            self.sc.setJobGroup(label, label)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if parent is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        if parent is not None:
            rec.update(self._status_counts(label))
        self.spans.append(rec)

    def _status_counts(self, label: str) -> dict:
        # job-end events reach the status store through the listener
        # bus asynchronously; drain it so the last job is counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(label)
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        tasks = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def attach_event_log(self, log_dir: str) -> None:
        """Add shuffle, spill, CPU and driver-gap figures to every call
        span from the (closed) event log in ``log_dir``."""
        stats = parse_event_log(log_dir)
        for rec in self.spans:
            if "label" not in rec:
                continue
            st = stats.get(rec["label"], {})
            covered = _union_seconds(
                st.get("intervals", []), rec["start"], rec["end"]
            )
            rec["shuffle_read_mb"] = st.get("shuffle_read", 0) / MB
            rec["shuffle_write_mb"] = st.get("shuffle_write", 0) / MB
            rec["spill_mb"] = st.get("spill", 0) / MB
            rec["executor_cpu_s"] = st.get("cpu_ns", 0) / 1e9
            rec["driver_gap_s"] = max(0.0, rec["wall"] - covered)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job-group label: summed shuffle bytes, disk spill, executor
    CPU and the [submit, complete] interval of every stage it ran."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*"))
               if not p.endswith(".inprogress")]
    stage_label: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(stage_id):
        label = stage_label.get(stage_id)
        if label is None:
            return None
        return out.setdefault(
            label,
            {"shuffle_read": 0, "shuffle_write": 0, "spill": 0,
             "cpu_ns": 0, "intervals": []},
        )

    with open(path) as f:
        for line in f:
            # Event is the first key of every record; skip the rest
            # of the log without decoding it
            if line.startswith('{"Event":"SparkListenerTaskEnd"'):
                e = json.loads(line)
                a = acc(e["Stage ID"])
                m = e.get("Task Metrics")
                if a is None or not m:
                    continue
                rd = m["Shuffle Read Metrics"]
                a["shuffle_read"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                a["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                a["spill"] += m["Disk Bytes Spilled"]
                a["cpu_ns"] += m["Executor CPU Time"]
            elif line.startswith('{"Event":"SparkListenerJobStart"'):
                e = json.loads(line)
                label = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if label:
                    for s in e["Stage IDs"]:
                        stage_label[s] = label
            elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                info = json.loads(line)["Stage Info"]
                a = acc(info["Stage ID"])
                if a is not None and "Submission Time" in info:
                    a["intervals"].append(
                        (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                    )
    return out


def _union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` and every live process
    below it (with the children each has reaped), from /proc."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs,
    summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def alive(pid: int) -> bool:
    """Whether ``pid`` runs (a zombie awaiting its parent does not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
