"""Per-layer metrics of a traced run, computed from its spans, Spark
counters and streaming progress reports.

Values are means per traced call (per pull, per stream run, per query
pass), so the
additive parts of a pull — ``registry.read_ms``, ``changelog.watermark_ms``,
``pull.query_ms``, ``sink.ms``, ``pull.update_state_ms`` and
``pull.unattributed_ms`` — sum exactly to ``pull.wall_ms``. A metric whose
layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
from collections import defaultdict

from perfbench.trace import duration_ms
from perfbench.workloads import HEADLINE, PER_LAYER


def _docs_bytes(out_dirs: list[str]) -> tuple[int, int]:
    """(documents, bytes) delivered to ``out_dirs``."""
    n = size = 0
    for d in out_dirs:
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if name.endswith(".json"):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


class _Tree:
    def __init__(self, tracer):
        self.spans = [s for s in tracer.spans if s["end"] is not None]
        self.own = tracer.counters()
        self.children: dict[int | None, list[dict]] = defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def kids(self, span: dict, name: str) -> list[dict]:
        return [c for c in self.children[span["id"]] if c["name"] == name]

    def ms(self, span: dict, name: str) -> float:
        return sum(duration_ms(c) for c in self.kids(span, name))

    def total(self, span: dict, key: str) -> int:
        """A counter summed over the span and everything under it."""
        out, todo = 0, [span]
        while todo:
            s = todo.pop()
            out += self.own[s["id"]][key]
            todo.extend(self.children[s["id"]])
        return out

    def inside(self, outer: dict, name: str) -> list[dict]:
        """Spans called ``name`` anywhere under ``outer``."""
        found, todo = [], list(self.children[outer["id"]])
        while todo:
            s = todo.pop()
            if s["name"] == name:
                found.append(s)
            todo.extend(self.children[s["id"]])
        return found


def _pull_layers(t: _Tree, wl, cpus: int, doc_sizes: tuple[int, int]) -> dict[str, float]:
    pulls = t.named("pull")
    if not pulls:
        return {}
    rows = []
    for p in pulls:
        stage = p.get("stage_ms", {})
        wall = duration_ms(p)
        read = t.ms(p, "registry.read")
        wm = t.ms(p, "changelog.watermark")
        query = stage.get("query", 0.0) - wm  # the query stage contains the watermark
        sinks = t.kids(p, "sink")
        sink = sum(duration_ms(s) for s in sinks)
        upd = stage.get("update_state", 0.0)
        docs = p.get("processed", 0)
        rows.append({
            "pull.wall_ms": wall, "registry.read_ms": read,
            "registry.advance_ms": t.ms(p, "registry.advance"),
            "changelog.watermark_ms": wm,
            "changelog.watermark_jobs": sum(t.total(w, "jobs") for w in t.kids(p, "changelog.watermark")),
            "pull.query_ms": query, "pull.update_state_ms": upd,
            "pull.unattributed_ms": wall - read - wm - query - sink - upd,
            "pull.query_jobs": t.own[p["id"]]["jobs"], "pull.query_tasks": t.own[p["id"]]["tasks"],
            "pull.query_input_rows": t.own[p["id"]]["input_rows"],
            "pull.query_shuffle_bytes": t.own[p["id"]]["shuffle_bytes"],
            "pull.collapse_ratio": (wl.rows_in_range(p.get("from_version", 0), p.get("to_version", 0))
                                    / docs if docs else 0.0),
            "sink.ms": sink, "sink.jobs": sum(t.total(s, "jobs") for s in sinks),
            "sink.tasks": sum(t.total(s, "tasks") for s in sinks), "sink.docs": docs,
            "sink.us_per_doc": sink * 1000 / docs if docs else 0.0,
            "spark.jobs_per_pull": t.total(p, "jobs"), "spark.tasks_per_pull": t.total(p, "tasks"),
            "spark.busy_ratio": t.total(p, "run_ms") / (wall * cpus) if wall else 0.0,
        })
    out = {k: _mean(r[k] for r in rows) for k in rows[0]}
    n_docs, n_bytes = doc_sizes
    out["sink.bytes"] = out["sink.docs"] * n_bytes / n_docs if n_docs else 0.0
    return out


def _trigger_start(progress: dict) -> float:
    ts = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def _stream_layers(t: _Tree, progress: list[dict]) -> dict[str, float]:
    runs = t.named("stream")
    if not runs:
        return {}
    rows = []
    for s in runs:
        mine = sorted((p for p in progress if s["start"] - 0.001 <= _trigger_start(p) <= s["end"]),
                      key=_trigger_start)
        dur = lambda k: sum(p["duration_ms"].get(k, 0) for p in mine)  # noqa: E731
        first = _trigger_start(mine[0]) if mine else s["start"]
        last_end = (_trigger_start(mine[-1]) + mine[-1]["duration_ms"].get("triggerExecution", 0) / 1000
                    if mine else s["end"])
        batches = s.get("batches", 0)
        rows.append({
            "stream.start_ms": (first - s["start"]) * 1000,
            "stream.trigger_ms": dur("triggerExecution"), "stream.add_batch_ms": dur("addBatch"),
            "stream.latest_offset_ms": dur("latestOffset"), "stream.planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"), "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.sink_ms": sum(duration_ms(k) for k in t.inside(s, "sink")),
            "stream.jobs_per_batch": t.total(s, "jobs") / batches if batches else 0.0,
            "stream.stop_ms": max(0.0, (s["end"] - last_end) * 1000),
        })
    return {k: _mean(r[k] for r in rows) for k in rows[0]}


def _query_layers(t: _Tree, headline: list[str], cpus: int) -> dict[str, float]:
    """Per traced pass: each query's wall time, and over the pass the
    driver time before each query's first job (analysis, optimisation and
    physical planning of the write), jobs, tasks, bytes and busy ratio."""
    passes = t.named("op.pass")
    if not passes:
        return {}
    rows = []
    for p in passes:
        qs = {q["name"]: q for q in t.children[p["id"]]}
        own = [t.own[q["id"]] for q in qs.values()]
        wall = duration_ms(p)
        rows.append({
            # a pass cut short by a failing query has no span for the rest
            **{f"{name}_ms": duration_ms(qs[name]) if name in qs else 0.0 for name in headline},
            "queries.plan_ms": sum(c["first_job_ms"] - q["start"] * 1000
                                   for q, c in zip(qs.values(), own) if c["first_job_ms"]),
            **{f"queries.{k}": sum(c[k] for c in own)
               for k in ("jobs", "tasks", "shuffle_bytes", "input_bytes")},
            "queries.busy_ratio": sum(c["run_ms"] for c in own) / (wall * cpus) if wall else 0.0,
        })
    return {k: _mean(r[k] for r in rows) for k in rows[0]}


def layer_metrics(run, wl) -> dict[str, float]:
    """Every per-layer metric, in PER_LAYER order."""
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    for key in ("session_ms", "generate_ms", "load_ms", "warmup_ms"):
        out[f"setup.{key}"] = run.setup[key]
    t = _Tree(run.tracer)
    out.update(_pull_layers(t, wl, run.cpus, _docs_bytes(wl.out_dirs())))
    out.update(_stream_layers(t, run.tracer.progress))
    out.update(_query_layers(t, [f"q.{name}" for name in HEADLINE], run.cpus))
    traced_ops = run.traced(wl.op_kind)
    out["changelog.files"] = _mean(o.get("log_files", 0) for o in traced_ops)
    if traced_ops and "api_ms" in traced_ops[0]:
        out["round.api_catchup_ms"] = _mean(o["api_ms"] for o in traced_ops)
        out["round.stream_catchup_ms"] = _mean(o["stream_ms"] for o in traced_ops)
    # each traced operation against the mean of its untraced neighbours,
    # which cancels the drift of a warming JVM across the run
    ops = [o for o in run.ops if o["kind"] == wl.op_kind]
    ratios = [ops[k]["wall_ms"] * 2 / (ops[k - 1]["wall_ms"] + ops[k + 1]["wall_ms"]) - 1
              for k in range(1, len(ops) - 1) if ops[k]["traced"]]
    if ratios:
        out["trace.overhead_pct"] = statistics.median(ratios) * 100
    return out
