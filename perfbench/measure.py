"""Measurement helpers: spans, peak RSS, Spark's event log and the
streaming progress listener.

Spans are kept in memory and written once, when the run ends.  Every
number here comes from the benchmark's own clock, from ``/proc``, or
from Spark's public progress and status surfaces (the event log and
``StreamingQueryListener``); nothing is read from inside the package.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def pct(values, q: float) -> float:
    """The q-quantile (0..1) of ``values`` by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Spans:
    """In-memory span recorder: name, layer, start, end, parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, layer: str, start: float, end: float, parent=None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "layer": layer,
             "start": start, "end": end, "parent": parent}
        )
        return len(self.spans) - 1

    @contextmanager
    def timed(self, name: str, layer: str):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, layer, start, time.time())

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants() -> list[str]:
    """Pids of every live descendant of this process."""
    kids: dict[str, list[str]] = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing paren
        kids[stat[stat.rindex(")") + 2:].split()[1]].append(pid)
    todo, out = list(kids.get(str(os.getpid()), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_times() -> list[int]:
    """The machine's cumulative CPU times from ``/proc/stat``: user,
    nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other machines between
    two :func:`cpu_times` readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))  # guest time is already in user


class PeakRss:
    """Samples the summed RSS of this process's descendants (the JVM and
    its Python workers) every quarter second and keeps the peak."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(pid) for pid in descendants()))

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0


# ---- Spark event log ---------------------------------------------------

PYTHON_TIME = "time to run Python workers"


def read_event_log(log_dir: str) -> dict:
    """Per-job records from the (uncompressed, unrolled) event log:
    group, start/end seconds, and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None, "tasks": 0, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_bytes": 0, "spill_bytes": 0, "python_ms": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PYTHON_TIME:
                            job["python_ms"] += int(acc.get("Update") or 0)
    return jobs


# ---- streaming progress --------------------------------------------------


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event, per
    query name, in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: dict[str, list[dict]] = defaultdict(list)
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress[p.get("name") or ""].append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


def stream_layer_metrics(progress: list[dict], stateful: bool) -> dict:
    """Per-trigger phase medians (triggers that read input only), input
    rows and final state size of one output, from its progress events."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]

    def med(*phases):
        return statistics.median(
            [sum(p["durationMs"].get(k, 0) for k in phases) for p in busy]
        ) if busy else 0.0

    out = {
        "trigger_ms": med("triggerExecution"),
        "source_ms": med("latestOffset", "getBatch"),
        "queryPlanning_ms": med("queryPlanning"),
        "addBatch_ms": med("addBatch"),
        "commit_ms": med("walCommit", "commitOffsets"),
        "rows_in": sum(p.get("numInputRows", 0) for p in progress),
    }
    if stateful:
        last = progress[-1].get("stateOperators", []) if progress else []
        out["state_rows"] = sum(s.get("numRowsTotal", 0) for s in last)
        out["state_mem_bytes"] = sum(s.get("memoryUsedBytes", 0) for s in last)
        out["state_commit_ms"] = statistics.median(
            [sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", [])) for p in busy]
        ) if busy else 0.0
    return out
