"""Spans and Spark counters recorded from outside the program.

A span is one call into a layer: ``(id, parent, op, name, layer,
start, end)``. Spans nest; they stay in memory and are
written once, when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover, so
the self times of a pass sum to the duration of its root spans.

Spark counters are read from the driver's status store (it works
with ``spark.ui.enabled=false``) by JOB-ID RANGE, not by job group:
jobs that a streaming query runs on its own thread carry no group.
Per-trigger ``durationMs`` and ``stateOperators`` come from a
``StreamingQueryListener`` that the tracer registers.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


class Tracer:
    """Span recorder. Disabled, ``span`` records nothing."""

    def __init__(self):
        self.enabled = False
        self.counters: SparkCounters | None = None  # set: spans record their job-id range
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else name),
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
        }
        if self.counters:
            rec["job_lo"] = self.counters.next_job()
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            if self.counters:
                rec["job_hi"] = self.counters.next_job()
            stack.pop()
            self.spans.append(rec)

    def add_span(self, name: str, layer: str, parent: dict, start: float, end: float) -> None:
        """Record a span measured elsewhere (a streaming trigger),
        clipped into ``parent``'s interval."""
        start, end = max(start, parent["start"]), min(end, parent["end"])
        if end > start:
            self.spans.append(
                {"id": next(self._ids), "parent": parent["id"], "op": parent["op"],
                 "name": name, "layer": layer, "start": start, "end": end}
            )


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's
    intervals (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class SparkCounters:
    """Job-id-range counters from the driver's status store."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the final metrics of finished jobs."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> dict[str, float]:
        """Sum the metrics of jobs ``lo <= id < hi`` (skipped stages
        count neither as stages nor as tasks)."""
        out = dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                   gc_s=0.0, input_mb=0.0, shuffle_read_mb=0.0, shuffle_write_mb=0.0,
                   spill_mb=0.0)
        seen: set[int] = set()
        for j in range(lo, hi):
            try:
                job = self._store.job(j)
            except Exception:  # evicted or never registered: nothing to count
                continue
            out["jobs"] += 1
            for sid in job.stageIds().mkString(",").split(","):
                if not sid or int(sid) in seen:
                    continue
                seen.add(int(sid))
                try:
                    st = self._store.lastStageAttempt(int(sid))
                except Exception:  # stage never submitted (skipped)
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_mb"] += st.inputBytes() / MB
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out

    def storage_mb(self) -> float:
        """Block-manager storage held by persisted / checkpointed RDDs."""
        return sum(
            (r.memSize() + r.diskSize()) / MB for r in self._sc.getRDDStorageInfo()
        )


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress of every streaming query."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.progress.append(
            {
                "query": p.name,
                "batch": p.batchId,
                "input_rows": p.numInputRows,
                "start_epoch": start,
                "duration_ms": dict(p.durationMs),
                "state": [
                    {"op": o.operatorName, "commit_ms": o.commitTimeMs, "rows": o.numRowsTotal}
                    for o in p.stateOperators
                ],
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def wait_settled(self, timeout: float = 10.0) -> None:
        """Progress events arrive on the listener thread after
        ``awaitTermination`` returns; wait for every termination."""
        deadline = time.monotonic() + timeout
        while self.terminated < self.started and time.monotonic() < deadline:
            time.sleep(0.05)


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    trig = [p["duration_ms"].get("triggerExecution", 0) for p in progress]
    rows: dict[str, int] = {}
    for p in progress:  # state rows held when each query ended
        rows[p["query"]] = sum(s["rows"] for s in p["state"])
    return {
        "streaming.triggers": len(progress),
        "streaming.empty_triggers": sum(1 for p in progress if p["input_rows"] == 0),
        "streaming.add_batch_ms": sum(p["duration_ms"].get("addBatch", 0) for p in progress),
        "streaming.wal_commit_ms": sum(p["duration_ms"].get("walCommit", 0) for p in progress),
        "streaming.state_commit_ms": sum(s["commit_ms"] for p in progress for s in p["state"]),
        "streaming.state_rows": sum(rows.values()),
        "streaming.trigger_p50_ms": statistics.median(trig) if trig else 0.0,
        "streaming.trigger_max_ms": max(trig, default=0),
    }
