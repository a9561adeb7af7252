"""Measurement from outside the program: spans, Python-worker RSS, and
Spark's own SQL and task metrics read from its event log.

Nothing here patches the package: spans wrap the benchmark's calls into
the package's public functions, RSS comes from ``/proc``, and the plan-node
metrics are the ones Spark already meters.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, trace id). Disabled
    tracers record nothing; ``dump`` writes them out when the run ends."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "trace": self.trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, name: str) -> list[float]:
        """Self time of each span called ``name``: its duration minus the
        part its (sequential) child spans cover."""
        return [(s["end"] - s["start"])
                - sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"])
                for s in self.spans if s["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _descendants() -> list[int]:
    """Pids of this process's descendants (the JVM and its Python workers)."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the comm field may hold spaces: ppid follows the last ')'
                parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    me, out = os.getpid(), []
    for pid in parents:
        p, depth = parents.get(pid), 0
        while p not in (None, 0, 1, me) and depth < 16:
            p, depth = parents.get(p), depth + 1
        if p == me:
            out.append(pid)
    return out


class WorkerRss:
    """Peak RSS (``VmHWM``) of any one PySpark Python worker descended from
    this process, polled from ``/proc`` on a background thread."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "WorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def _sample(self) -> None:
        for pid in _descendants():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            break
            except OSError:
                continue

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --- Spark event log --------------------------------------------------------

# SQL metric types as PySpark 4.1 declares them; the event log's plan
# descriptions give the rest (the crossing a foreachBatch runs inside a
# cached relation has no plan node of its own to declare them)
_TYPES = {"time to run Python workers": "timing",
          "time to initialize Python workers": "timing",
          "time to start Python workers": "timing",
          "data sent to Python workers": "size",
          "data returned from Python workers": "size"}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # to seconds; sizes and sums as-is


class SparkEvents:
    """The SQL metrics, jobs and SQL executions of one time window, read
    from an application's event log: every task's exact metric updates,
    where the UI's REST API has only rounded per-node display strings."""

    def __init__(self, path: str, t0_ms: float, t1_ms: float) -> None:
        types, names = dict(_TYPES), {}
        self.executions: list[dict] = []
        self.jobs = 0
        self.tasks: list[tuple[int, dict[str, float]]] = []  # (stage, metrics)
        self.driver: dict[str, float] = {}
        stages, ends = set(), {}
        raw_tasks, raw_driver = [], []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if "sparkPlanInfo" in ev:
                    _walk_plan(ev["sparkPlanInfo"], types, names)
                if kind == "SparkListenerSQLExecutionStart" and t0_ms <= ev["time"] <= t1_ms:
                    self.executions.append({"id": ev["executionId"], "start": ev["time"],
                                            "plan": ev["physicalPlanDescription"]})
                elif kind == "SparkListenerSQLExecutionEnd":
                    ends[ev["executionId"]] = ev["time"]
                elif kind == "SparkListenerJobStart" and t0_ms <= ev["Submission Time"] <= t1_ms:
                    self.jobs += 1
                    stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    raw_tasks.append((ev["Stage ID"], ev["Task Info"]["Accumulables"]))
                elif kind == "SparkListenerDriverAccumUpdates":
                    raw_driver.append((ev["executionId"], ev["accumUpdates"]))
        for e in self.executions:
            e["duration_s"] = (ends.get(e["id"], e["start"]) - e["start"]) / 1000.0
        for stage, accs in raw_tasks:
            if stage not in stages:
                continue
            metrics: dict[str, float] = {}
            for a in accs:
                name = a.get("Name")
                if a.get("Metadata") == "sql" and name:
                    metrics[name] = metrics.get(name, 0.0) + float(a["Update"]) * _SCALE.get(
                        types.get(name, "sum"), 1.0)
            self.tasks.append((stage, metrics))
        window = {e["id"] for e in self.executions}
        for exec_id, updates in raw_driver:
            if exec_id in window:
                for acc_id, value in updates:
                    if acc_id in names:
                        self.driver[names[acc_id]] = self.driver.get(names[acc_id], 0.0) + value

    def total(self, name: str) -> float:
        return sum(m.get(name, 0.0) for _, m in self.tasks) + self.driver.get(name, 0.0)


def _walk_plan(node: dict, types: dict, names: dict) -> None:
    for m in node.get("metrics", []):
        types.setdefault(m["name"], m["metricType"])
        names[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _walk_plan(child, types, names)
