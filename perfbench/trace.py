"""The traced run: spans around calls into each layer, and Spark's own
counters attributed to those spans.

Spans are recorded from the benchmark's side only. The engine's public
functions are wrapped by module attribute for the length of one traced
operation and restored after it, so untraced operations run the unmodified
program. A span is ``(id, name, start, end, parent, op)``; spans live in
memory and are written as JSON lines when the run ends.

Spark counters come from the application status store, which Spark keeps
even with ``spark.ui.enabled=false``. After each traced operation the
benchmark drains the listener bus and reads every job and stage. A job is
attributed to the innermost span open at its submission time, a stage to
the innermost span open at its own submission time (stages a job skips
have none, so reused shuffle output is never counted twice). This is exact
because the benchmark runs one operation at a time; a streaming query's
thread runs while the main thread waits inside the ``stream`` span.
"""

from __future__ import annotations

import bisect
import functools
import json
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark, targets: list[tuple]):
        """``targets`` lists ``(owner, attribute, span name, annotate)`` to
        wrap; ``annotate``, when not None, maps the call's return value to
        attributes kept on its span."""
        self.spark = spark
        self.targets = targets
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.progress: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._saved: list[tuple[object, str, object]] = []
        self._listener = _ProgressListener(self.progress)
        jvm = spark.sparkContext._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the body. One stack serves every thread:
        only one thread is ever running benchmark work at a time."""
        rec = {"id": len(self.spans), "name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _wrap(self, owner, attr: str, name: str, annotate) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if annotate is not None:
                    rec.update(annotate(out))
                return out

        setattr(owner, attr, traced)
        self._saved.append((owner, attr, orig))

    @contextmanager
    def operation(self, name: str):
        """Trace one benchmark operation: wrap the targets, open the
        operation's root span, and after it closes (outside its wall time)
        read Spark's counters for it."""
        for target in self.targets:
            self._wrap(*target)
        self.spark.streams.addListener(self._listener)
        self._op = len(self.spans)
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            while self._saved:
                owner, attr, orig = self._saved.pop()
                setattr(owner, attr, orig)
            self._drain_listener_bus()
            self.spark.streams.removeListener(self._listener)
            self._op = None
            self._read_status_store()

    def _drain_listener_bus(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _read_status_store(self) -> None:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        for j in json.loads(self._mapper.writeValueAsString(store.jobsList(None))):
            self.jobs[j["jobId"]] = {"submit_ms": j.get("submissionTime")}
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        for s in json.loads(self._mapper.writeValueAsString(stages)):
            self.stages[(s["stageId"], s["attemptId"])] = {
                "submit_ms": s.get("submissionTime"),
                "tasks": s["numCompleteTasks"],
                "run_ms": s["executorRunTime"],
                "input_rows": s["inputRecords"],
                "input_bytes": s["inputBytes"],
                "shuffle_bytes": s["shuffleWriteBytes"],
            }

    # -- attribution ---------------------------------------------------------

    def counters(self) -> dict[int, dict]:
        """span id → Spark counters of the jobs and stages submitted while it
        was the innermost open span (its own, not its children's), and the
        submission time of its first such job (epoch ms, or None)."""
        closed = [s for s in self.spans if s["end"] is not None]
        out = {s["id"]: {"jobs": 0, "first_job_ms": None, "tasks": 0, "run_ms": 0,
                         "input_rows": 0, "input_bytes": 0, "shuffle_bytes": 0} for s in closed}
        # status-store times are whole milliseconds: widen each span by 1 ms
        # at its start so a job submitted right at the boundary still lands
        starts = sorted((s["start"] * 1000 - 1, s["id"]) for s in closed)
        keys = [k for k, _ in starts]
        by_id = {s["id"]: s for s in closed}

        def innermost(ms: float | None) -> int | None:
            if ms is None:
                return None
            i = bisect.bisect_right(keys, ms)
            # the latest-starting span still open at ``ms`` is the innermost
            for _, sid in reversed(starts[:i]):
                if by_id[sid]["end"] * 1000 >= ms:
                    return sid
            return None

        for job in self.jobs.values():
            sid = innermost(job["submit_ms"])
            if sid is not None:
                own = out[sid]
                own["jobs"] += 1
                own["first_job_ms"] = min(own["first_job_ms"] or job["submit_ms"], job["submit_ms"])
        for st in self.stages.values():
            sid = innermost(st["submit_ms"])
            if sid is not None:
                for k in ("tasks", "run_ms", "input_rows", "input_bytes", "shuffle_bytes"):
                    out[sid][k] += st[k]
        return out

    def write(self, path: str) -> None:
        """Spans as JSON lines, each with its self time (duration minus the
        time its child spans cover) and its own Spark counters."""
        counters = self.counters()
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + duration_ms(s)
        with open(path, "w") as f:
            for s in self.spans:
                if s["end"] is None:
                    continue
                rec = dict(s, ms=duration_ms(s), self_ms=duration_ms(s) - child_ms.get(s["id"], 0.0),
                           **counters.get(s["id"], {}))
                f.write(json.dumps(rec, default=str) + "\n")
            for p in self.progress:
                f.write(json.dumps({"name": "stream.progress", **p}) + "\n")


def duration_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000


class _ProgressListener(StreamingQueryListener):
    """Keeps each micro-batch's progress report (Structured Streaming's own
    per-trigger ``durationMs`` breakdown)."""

    def __init__(self, sink: list[dict]):
        self.sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.sink.append({"batch_id": p["batchId"], "timestamp": p["timestamp"],
                          "rows": p["numInputRows"], "duration_ms": p["durationMs"]})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
