"""What the benchmark observes from outside the program: Spark's public
``StreamingQueryProgress`` (through a listener the benchmark registers), an
in-memory span tracer, and process memory."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def progress_epoch_s(ts: str) -> float:
    """Epoch seconds of a progress ``timestamp`` (ISO-8601, UTC, ms)."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_commit_s(p: dict) -> float:
    """Commit time of a micro-batch: its start plus its trigger duration."""
    return progress_epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3


def state_ms(p: dict, key: str, cores: int) -> float:
    """A state-operator time of one micro-batch as wall time inside
    ``addBatch``. Spark sums it over the operator's state-store instances,
    which run at most ``cores`` at a time."""
    return sum(
        o.get(key, 0) / max(1, min(o.get("numStateStoreInstances", 1), cores))
        for o in p["stateOperators"]
    )


class ProgressLog(StreamingQueryListener):
    """Collects every progress report of every query, keyed by run id."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: list[tuple[str, str | None]] = []  # (runId, name)
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):  # noqa: N802 (Spark listener API)
        with self._lock:
            self.started.append((str(event.runId), event.name))

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress[p["runId"]].append(p)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        with self._lock:
            self.terminated.add(str(event.runId))

    def mark(self) -> int:
        with self._lock:
            return len(self.started)

    def wait_terminated(self, run_ids, timeout_s: float = 30.0) -> None:
        """Wait until each query has terminated; its last progress report
        is delivered before its termination."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                if all(r in self.terminated for r in run_ids):
                    return
            if time.monotonic() > deadline:
                raise TimeoutError("streaming query termination not observed")
            time.sleep(0.02)

    def runs_since(self, mark: int) -> list[tuple[str, str | None]]:
        """(run id, name) of the queries started since ``mark``, once each
        has terminated."""
        with self._lock:
            runs = self.started[mark:]
        self.wait_terminated([r for r, _ in runs])
        return runs

    def batches(self, run_id: str) -> list[dict]:
        with self._lock:
            return sorted(self.progress[run_id], key=lambda p: p["batchId"])


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run: str
    layer: str


@dataclass
class Tracer:
    """In-memory spans; ``enabled=False`` makes every call a no-op.
    ``cost_s`` is the wall time spent inside the tracer itself."""

    enabled: bool
    run: str = ""
    spans: list[Span] = field(default_factory=list)
    cost_s: float = 0.0

    def add(self, name, start, end, parent=None, layer=None) -> int | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        self.spans.append(Span(name, start, end, parent, self.run, layer or name))
        self.cost_s += time.perf_counter() - t
        return len(self.spans) - 1

    def span(self, name, parent=None, layer=None):
        return _SpanCtx(self, name, parent, layer)

    def add_batches(self, batches: list[dict], parent, cores: int) -> None:
        """One span per micro-batch from its progress report, one child per
        ``durationMs`` phase laid out in execution order, and the state
        update and commit nested under ``addBatch``."""
        if not self.enabled:
            return
        order = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                 "addBatch", "commitOffsets")
        layers = {"latestOffset": "source", "getBatch": "source",
                  "queryPlanning": "planning", "walCommit": "offset_log",
                  "addBatch": "add_other", "commitOffsets": "offset_log"}
        for p in batches:
            t0 = progress_epoch_s(p["timestamp"])
            d = p["durationMs"]
            b = self.add(f"batch{p['batchId']}", t0,
                         t0 + d["triggerExecution"] / 1e3, parent, "batch")
            t = t0
            for phase in order:
                ms = d.get(phase, 0)
                if not ms:
                    continue
                s = self.add(phase, t, t + ms / 1e3, b, layers[phase])
                if phase == "addBatch":
                    u = state_ms(p, "allUpdatesTimeMs", cores)
                    c = state_ms(p, "commitTimeMs", cores)
                    self.add("state.update", t, t + u / 1e3, s, "state")
                    self.add("state.commit", t + u / 1e3,
                             t + (u + c) / 1e3, s, "state")
                t += ms / 1e3

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the union of its
        children's intervals (clipped to the span), summed by layer."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for c in sorted(kids[i], key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.layer] += max(0.0, (s.end - s.start) - covered)
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer, name, parent, layer):
        self.tracer, self.name, self.parent, self.layer = tracer, name, parent, layer
        self.id = None

    def __enter__(self):
        self.start = time.time()
        if self.tracer.enabled:
            # reserve the slot so children can point at it while it is open
            self.id = self.tracer.add(self.name, self.start, self.start,
                                      self.parent, self.layer)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.id is not None:
            self.tracer.spans[self.id].end = self.end
        return False


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python driver plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
