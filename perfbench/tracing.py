"""Measurement plumbing for the benchmark: spans, process-tree CPU, Spark
job/stage counters and host telemetry.

Every probe here observes the engine from outside. Spans come from
wrappers that the benchmark installs around public callables of the
package (and around its own calls into them) in traced runs only; no
package file is changed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import urllib.request


class Tracer:
    """In-memory span recorder. A span is {id, name, start, end, parent,
    op}; spans of one measured operation share its ``op`` id. When
    ``enabled`` is False every wrapper is a pass-through, so one run can
    interleave traced and untraced operations."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, count=None):
        """Replace ``owner.attr`` with a spanning wrapper. ``count(*args,
        **kwargs)`` may return a number stored on the span as ``n``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                if rec is not None and count is not None:
                    rec["n"] = count(*args, **kwargs)
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self):
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def durations(self, name: str, ops=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (ops is None or s["op"] in ops)]

    def self_time(self, name: str, ops=None) -> float:
        """Summed duration of ``name`` spans minus the part of each that
        its direct child spans cover."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        return sum(s["end"] - s["start"] - kids.get(s["id"], 0.0)
                   for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and (ops is None or s["op"] in ops))

    def counts(self, name: str, ops=None) -> int:
        return sum(int(s.get("n", 0)) for s in self.spans
                   if s["name"] == name and (ops is None or s["op"] in ops))

    def dump(self, path: str):
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------- CPU
_HZ = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple]:
    """pid -> (ppid, comm, utime+stime, cutime+cstime) in clock ticks."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), comm,
                          int(fields[11]) + int(fields[12]),
                          int(fields[13]) + int(fields[14]))
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        for k in kids.get(frontier.pop(), []):
            out.append(k)
            frontier.append(k)
    return out


def cpu_split() -> dict[str, float]:
    """CPU seconds of this process tree split into the Python driver, the
    Spark JVM and the Python workers. Exited workers are counted through
    their parents' reaped-children times (cutime/cstime)."""
    table = _proc_table()
    me = os.getpid()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    split = {"driver": 0, "jvm": 0, "pyworker": 0}
    if me in table:
        split["driver"] += table[me][2] + table[me][3]
    frontier = [me]
    while frontier:
        for pid in kids.get(frontier.pop(), []):
            _ppid, comm, own, reaped = table[pid]
            if comm == "java":
                split["jvm"] += own
                split["pyworker"] += reaped
            elif comm.startswith("python"):
                split["pyworker"] += own + reaped
            else:  # launcher shells and the like
                split["driver"] += own + reaped
            frontier.append(pid)
    return {k: v / _HZ for k, v in split.items()}


def cpu_total() -> float:
    return sum(cpu_split().values())


# ---------------------------------------------------------------- host
def host_sample() -> dict:
    """loadavg counts runnable threads host-wide, so a co-tenant outside
    this pid namespace shows up here; steal counts hypervisor time given
    to another guest."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg_1m": load1, "jiffies": sum(cpu), "steal": cpu[7]}


def host_telemetry(start: dict, end: dict) -> dict:
    dj = end["jiffies"] - start["jiffies"]
    return {"loadavg_1m_start": start["loadavg_1m"],
            "loadavg_1m_end": end["loadavg_1m"],
            "steal_pct": round(100.0 * (end["steal"] - start["steal"]) / dj,
                               3) if dj > 0 else 0.0}


# ---------------------------------------------------------------- Spark
class SparkOps:
    """One Spark job group per measured operation, read back through the
    status tracker (job/stage/task counts) and, at the end of a run, the
    UI's status REST endpoint on localhost (bytes and task times)."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.stages_of: dict[str, list[int]] = {}
        self.jobs_of: dict[str, int] = {}
        self.tasks_of: dict[str, tuple[int, int]] = {}

    def begin(self, op: str):
        self.sc.setJobGroup(op, op)

    def end(self, op: str):
        stages, tasks, failed = [], 0, 0
        jobs = self.tracker.getJobIdsForGroup(op)
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or (st.numCompletedTasks == 0
                                  and st.numFailedTasks == 0):
                    continue  # skipped stage (reused shuffle output)
                stages.append(sid)
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        self.stages_of[op] = stages
        self.jobs_of[op] = len(jobs)
        self.tasks_of[op] = (tasks, failed)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_metrics(self) -> dict[int, dict]:
        """stageId -> summed metrics of its completed attempts."""
        url = self.sc.uiWebUrl
        if not url:
            return {}
        port = url.rsplit(":", 1)[1]
        app = self.sc.applicationId
        with urllib.request.urlopen(
                f"http://localhost:{port}/api/v1/applications/{app}"
                "/stages?status=complete", timeout=30) as r:
            rows = json.load(r)
        out: dict[int, dict] = {}
        for s in rows:
            m = out.setdefault(s["stageId"], {
                "input": 0, "shuffle": 0, "run_ms": 0, "gc_ms": 0})
            m["input"] += s.get("inputBytes", 0)
            m["shuffle"] += (s.get("shuffleReadBytes", 0)
                             + s.get("shuffleWriteBytes", 0))
            m["run_ms"] += s.get("executorRunTime", 0)
            m["gc_ms"] += s.get("jvmGcTime", 0)
        return out


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


# ---------------------------------------------------------------- stats
def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples). Fewer than eleven samples give the
    maximum, reported as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    i = n - 11
    return s[i], round(100.0 * (i + 1) / n, 1), n
