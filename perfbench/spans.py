"""Spans and counters for the traced run.

Spans are recorded by the benchmark around each call it makes into a
layer's public function; nothing inside the program is instrumented.
Spark-side counts come from public status APIs: the status tracker's
job groups plus ``AppStatusStore.lastStageAttempt`` for stage metrics,
and a ``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._open: list[int] = []

    def span(self, name: str):
        return self._record(name) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def _record(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self time (total minus the
        time covered by direct children)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child_time[i]
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "self_times": self.self_times(), "spans": self.spans}, f)


STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numCompleteTasks",
    "numFailedTasks",
)


class SparkCounters:
    """Job/stage counts of one op, read from Spark's status store.

    Batch jobs of the op run under a job group named after the op id;
    streaming micro-batch jobs run under their query's run id, which
    the stream listener reports."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, groups: list[str]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(("jobs", "stages", *STAGE_FIELDS), 0)
        stage_ids: set[int] = set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                out["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store or never attempted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for field in STAGE_FIELDS:
                out[field] += getattr(sd, field)()
        return out


class StreamCounters(StreamingQueryListener):
    """Micro-batch progress of the streaming queries an op starts."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list] = defaultdict(list)

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress[str(event.progress.runId)].append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def take(self, timeout_s: float = 5.0) -> tuple[list[str], dict[str, float]]:
        """Wait until every started query reported termination (listener
        events arrive asynchronously), then return the run ids and the
        summed progress of the op, and reset."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.started) <= self.terminated:
                    break
            time.sleep(0.01)
        with self._lock:
            runs, progress = self.started, self.progress
            self.started, self.terminated, self.progress = [], set(), defaultdict(list)
        out = dict.fromkeys(
            ("batches", "input_rows", "trigger_ms", "add_batch_ms", "log_commit_ms",
             "state_commit_ms", "state_rows", "state_bytes"), 0)
        for run in runs:
            batches = progress.get(run, [])
            for p in batches:
                d = p.durationMs
                out["batches"] += 1
                out["input_rows"] += p.numInputRows
                out["trigger_ms"] += d.get("triggerExecution", 0)
                out["add_batch_ms"] += d.get("addBatch", 0)
                out["log_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
                out["state_commit_ms"] += sum(s.commitTimeMs for s in p.stateOperators)
            if batches:
                # state held when the query finished
                out["state_rows"] += sum(s.numRowsTotal for s in batches[-1].stateOperators)
                out["state_bytes"] += sum(s.memoryUsedBytes for s in batches[-1].stateOperators)
        return runs, out
