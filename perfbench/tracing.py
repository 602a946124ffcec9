"""Spans, Spark job counts and event-log totals for the traced run.

Spans are recorded from the benchmark's own code, around each call into a
layer of the program; the layer of a span is the first dotted part of its
name. Spans stay in memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def current(self):
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, op=None, parent=None):
        """Record one span. `op` identifies the operation (or burst, or
        send tick) the span serves; `parent` links a span started on
        another thread to the span that caused it."""
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "op": op, "start": start, "end": end}
            )

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: summed span durations minus the part of each span that
        its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["name"].split(".")[0]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one job group, from the status
    tracker. Stages skipped because their shuffle output was reused count
    neither as stages nor as tasks."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return jobs, stages, tasks


PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def event_log_totals(log_dir: str, classify) -> dict[str, dict[str, float]]:
    """Sum task metrics per layer over a Spark event log. `classify` maps a
    job's properties to a layer name, or None to skip the job."""
    layer_of_stage: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names if not n.startswith(".")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    layer = classify(ev.get("Properties") or {})
                    if layer is not None:
                        for s in ev.get("Stage IDs", []):
                            layer_of_stage[s] = layer
                elif kind == "SparkListenerTaskEnd":
                    layer = layer_of_stage.get(ev.get("Stage ID"))
                    if layer is None:
                        continue
                    t = totals[layer]
                    m = ev.get("Task Metrics") or {}
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in (PY_SENT, PY_RECV):
                            t["python_bytes"] += float(acc.get("Update") or 0)
    return {k: dict(v) for k, v in totals.items()}


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for process {pid}")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process `root` and all its descendants
    (for the benchmark: this process, the JVM and its Python workers), from
    /proc. Time the host steals from the machine is not counted."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while listing
            continue
        rest = stat[stat.rindex(")") + 2 :].split()
        # ppid, then utime, stime, cutime, cstime (fields 4 and 14-17 of proc(5))
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    kids = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        kids[ppid].append(pid)
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += procs.get(p, (0, 0))[1]
        todo += kids[p]
    return total / os.sysconf("SC_CLK_TCK")
