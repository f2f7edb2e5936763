"""Spans and counts recorded at layer boundaries, from outside the engine.

A span is (name, start, end, parent); spans of one run share ``run_id``.
The layer of a span is the first dotted part of its name (``spark.exec`` is
in layer ``spark``). A layer's self time is the time its spans cover minus
the part of that interval their child spans cover.

The Spark probes read the scheduler's job counter, the application status
store and executed-plan SQL metrics through the JVM gateway; the stream
probe is a ``StreamingQueryListener``. All of them run only in traced runs.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Spans kept in memory; ``active`` switches recording on and off so a
    run can alternate traced and untraced laps."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _recording(self, name: str):
        span = Span(len(self.spans), self._stack[-1] if self._stack else None, name,
                    time.perf_counter(), 0.0)
        self.spans.append(span)
        self._stack.append(span.id)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.perf_counter()

    def span(self, name: str):
        return self._recording(name) if self.active else contextlib.nullcontext()

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span (e.g. a micro-batch reported afterwards)
        under the span currently open."""
        if self.active:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(len(self.spans), parent, name, start, end))

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            fh.write(json.dumps({"run_id": self.run_id, **extra}) + "\n")
            for s in self.spans:
                fh.write(json.dumps({"run_id": self.run_id, **asdict(s)}) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    totals: dict[str, float] = {}
    for s in spans:
        totals[s.layer] = totals.get(s.layer, 0.0) + own[s.id]
    return totals


# ---------------------------------------------------------------------------
# Spark probes (traced runs only)
# ---------------------------------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkProbe:
    """Job, stage, task, shuffle, spill and Python-worker byte counts."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        gw = spark.sparkContext._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._quantiles = gw.new_array(gw.jvm.double, 0)

    def next_job_id(self) -> int:
        # DAGScheduler.numTotalJobs reads its job-id counter
        return self._sc.dagScheduler().numTotalJobs()

    def flush(self) -> None:
        """Wait until every listener (status store, stream listener) has
        seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def job_stats(self, first: int, end: int) -> dict[str, int]:
        """Counts over jobs ``first <= id < end`` (call ``flush`` first)."""
        stages: set[int] = set()
        for jid in range(first, end):
            stages.update(_seq(self._store.job(jid).stageIds()))
        out = {"jobs": end - first, "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in stages:
            for sd in _seq(self._store.stageData(
                    sid, False, self._no_status, False, self._quantiles)):
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    @staticmethod
    def python_bytes(df) -> int:
        """Bytes sent to and received from Python workers, summed over the
        executed plan's SQL metrics (adaptive stages and cached relations
        included; reused exchanges skipped so nothing counts twice)."""
        total = 0
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            kind = node.getClass().getSimpleName()
            if kind == "ReusedExchangeExec":
                continue
            metrics = node.metrics()
            for key in ("pythonDataSent", "pythonDataReceived"):
                m = metrics.get(key)
                if m.isDefined():
                    total += m.get().value()
            todo.extend(_seq(node.children()))
            todo.extend(_seq(node.subqueries()))
            if kind == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif kind.endswith("QueryStageExec"):
                todo.append(node.plan())
            elif kind == "InMemoryTableScanExec":
                todo.append(node.relation().cachedPlan())
        return total


def stream_listener():
    """A StreamingQueryListener that turns every micro-batch progress
    report into a ``streaming.batch`` span plus per-batch figures."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    offset = time.time() - time.perf_counter()

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            dur = dict(p.durationMs)
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.batches.append({
                "start": start - offset,
                "ms": dur.get("triggerExecution", 0),
                "add_batch_ms": dur.get("addBatch", 0),
                "commit_ms": dur.get("commitOffsets", 0) + dur.get("walCommit", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

    return _Progress()
