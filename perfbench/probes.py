"""Measurement from outside the program: spans, JVM counters, host state.

Nothing here changes what the program does. The JVM is read through
public Java management beans and Spark's status tracker; the streaming
probe is an ordinary StreamingQueryListener.
"""

from __future__ import annotations

import contextlib
import os
import signal
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans (name, start, end, parent, op), written out at the
    end of a traced run. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class JvmCounters:
    """Cumulative GC and JIT compile time of the Spark JVM, from the
    java.lang.management beans, and job/task counts from the status
    tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()

    def gc_jit_s(self) -> tuple[float, float]:
        gc = sum(max(0, b.getCollectionTime()) for b in self._gcs)
        return gc / 1000.0, self._jit.getTotalCompilationTime() / 1000.0

    def ungrouped_jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def jobs_and_tasks(self, groups: list[str], ungrouped_before: set[int]) -> tuple[int, int]:
        """Jobs in ``groups`` plus ungrouped jobs started since the
        snapshot, and the tasks their stages completed (each stage once)."""
        st = self.sc.statusTracker()
        jobs = self.ungrouped_jobs() - ungrouped_before
        for g in groups:
            jobs |= set(st.getJobIdsForGroup(g))
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), tasks


class ProgressProbe(StreamingQueryListener):
    """Collects ``durationMs`` of every micro-batch, keyed by run id."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress.setdefault(str(p.runId), []).append(dict(p.durationMs or {}))

    def wait_new_run(self, known: set[str], timeout_s: float = 5.0) -> str | None:
        """The run id whose progress arrived after ``known`` was taken
        (listener events are delivered asynchronously)."""
        end = time.monotonic() + timeout_s
        while time.monotonic() < end:
            new = set(self.progress) - known
            if new:
                return new.pop()
            time.sleep(0.02)
        return None


def proc_children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = proc_children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def jvm_pid() -> int | None:
    for pid in proc_children(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


def peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; terminate, then kill, any that linger."""
    for sig, wait_s in ((None, timeout_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for p in [p for p in pids if sig and _alive(p)]:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        end = time.monotonic() + wait_s
        while any(_alive(p) for p in pids) and time.monotonic() < end:
            time.sleep(0.05)
        if not any(_alive(p) for p in pids):
            return


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def fs_type(path: str) -> str:
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind
