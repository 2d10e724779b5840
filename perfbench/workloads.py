"""The workloads, their set-up, their correctness checks and the metrics
they report. See NOTES.md for why each workload exists.

Every workload runs in one process against one Spark session at
``local[nproc]``: set-up (session, generated inputs, table load, a cold
warm-up), then operations, then checks. An operation is the unit a user
waits for: one pull (``invoice_drain``), one round's catch-up of both
consumers (``update_rounds``), or one pass over the 13 headline queries
(``headline_queries``).

A run measures until its deadline and for at least ``Scale.ops[workload]``
operations; the end-to-end figures use exactly the first that many. A
fresh JVM keeps getting faster for minutes, so a fixed count puts every
run's medians at the same place on that curve, however many operations a
fast host fits into the window.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen

from sql_cdc_spark import queries, tables
from sql_cdc_spark.session import get_spark
from sql_cdc_spark.streaming import changelog, pipeline as pl, registry
from sql_cdc_spark.streaming.registry import SyncStateRegistry

MODEL = pl.InvoiceModel(
    header_key="o_orderkey",
    line_key_expr="l_orderkey * 8 + l_linenumber",
    line_parent_key="l_orderkey",
    header_cols=["o_custkey", "o_totalprice"],
    line_cols=["l_linenumber", "l_quantity", "l_extendedprice"],
    line_order_col="l_linenumber",
)

# the 13 queries bench.py times as its headline, in its order
HEADLINE = [
    "cdc_flagship_documents", "cdc_net_changes_enriched", "rel_pricing_summary",
    "rel_header_line_view", "rel_customer_order_stats", "win_order_ranks", "dd_exact",
    "dd_near_dup_pairs", "sim_topk_cosine", "txt_quality_score", "evt_tumbling_hourly",
    "mm_decode_features", "tpch_q5_local_supplier_volume",
]

STREAM_TIMEOUT_S = 60

END_TO_END = [
    ("op_ms_p50", "ms", "lower"),
    ("items_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
]

_PULL_LAYERS = [
    ("registry.read_ms", "ms", "lower"), ("registry.advance_ms", "ms", "lower"),
    ("changelog.watermark_ms", "ms", "lower"), ("changelog.watermark_jobs", "count", "lower"),
    ("changelog.files", "count", "lower"),
    ("pull.wall_ms", "ms", "lower"), ("pull.query_ms", "ms", "lower"),
    ("pull.query_jobs", "count", "lower"), ("pull.query_tasks", "count", "lower"),
    ("pull.query_input_rows", "count", "lower"), ("pull.query_shuffle_bytes", "bytes", "lower"),
    ("pull.collapse_ratio", "ratio", "lower"), ("pull.update_state_ms", "ms", "lower"),
    ("pull.unattributed_ms", "ms", "lower"),
    ("sink.ms", "ms", "lower"), ("sink.jobs", "count", "lower"), ("sink.tasks", "count", "lower"),
    ("sink.docs", "count", "higher"), ("sink.bytes", "bytes", "lower"),
    ("sink.us_per_doc", "us", "lower"),
    ("spark.jobs_per_pull", "count", "lower"), ("spark.tasks_per_pull", "count", "lower"),
    ("spark.busy_ratio", "ratio", "higher"),
]
_STREAM_LAYERS = [
    ("round.api_catchup_ms", "ms", "lower"), ("round.stream_catchup_ms", "ms", "lower"),
    ("stream.start_ms", "ms", "lower"), ("stream.trigger_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"), ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"), ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"), ("stream.sink_ms", "ms", "lower"),
    ("stream.jobs_per_batch", "count", "lower"), ("stream.stop_ms", "ms", "lower"),
]
_QUERY_LAYERS = [
    *((f"q.{name}_ms", "ms", "lower") for name in HEADLINE),
    ("queries.plan_ms", "ms", "lower"), ("queries.jobs", "count", "lower"),
    ("queries.tasks", "count", "lower"), ("queries.shuffle_bytes", "bytes", "lower"),
    ("queries.input_bytes", "bytes", "lower"), ("queries.busy_ratio", "ratio", "higher"),
]
PER_LAYER = [
    ("setup.session_ms", "ms", "lower"), ("setup.generate_ms", "ms", "lower"),
    ("setup.load_ms", "ms", "lower"), ("setup.warmup_ms", "ms", "lower"),
    *_PULL_LAYERS, *_STREAM_LAYERS, *_QUERY_LAYERS,
    ("trace.overhead_pct", "%", "lower"),
]


@dataclass(frozen=True)
class Scale:
    """Input sizes and operation counts. The defaults are the benchmark;
    tests shrink them."""

    sf: float = 0.1                # CDC base tables: 150k orders, ~600k lines
    invoices: int = 25_000         # the reference generator's scale
    invoices_per_file: int = 1_000
    limit: int = 1_000             # the reference's batch size per pull
    round_rows: int = 3_000
    headline_sf: float = 0.01      # the repository's oracle-test scale
    # Set-up pays the cold start and the steepest part of the JVM's
    # warm-up curve: pulls by a throwaway consumer, rounds on a throwaway
    # log, or one discarded query pass.
    warmup_pulls: int = 3
    warmup_rounds: int = 1
    # operations each run measures at least, and the end-to-end figures use
    ops: dict[str, int] = field(default_factory=lambda: {
        "invoice_drain": 7, "update_rounds": 2, "headline_queries": 2})
    doc_sample: int = 50


class Run:
    """One benchmark run: its session, counters of attempted and failed
    operations, the operation records and, for a traced run, the tracer.

    In a traced run every other operation is traced, so the untraced ones
    in between measure the tracing overhead in the same window."""

    def __init__(self, work: str, seed: int, scale: Scale, cpus: int, trace: bool,
                 spark_conf: dict[str, str]):
        self.work, self.seed, self.scale, self.cpus = work, seed, scale, cpus
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: list[str] = []  # findings that are no failure, e.g. accepted ties
        self.ops: list[dict] = []
        self.setup: dict[str, float] = {}
        t = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=spark_conf)
        self.setup["session_ms"] = (time.perf_counter() - t) * 1000
        self.tracer = None
        if trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(self.spark, [
                (pl, "pull_batch", "pull", _pull_attrs),
                (pl, "run_available_now", "stream", _stream_attrs),
                (pl, "write_documents", "sink", lambda n: {"docs": n}),
                (changelog, "current_version", "changelog.watermark", None),
                (registry.SyncStateRegistry, "read", "registry.read", None),
                (registry.SyncStateRegistry, "advance", "registry.advance", None),
            ])
        self._traced_now = False

    @contextmanager
    def operation(self, kind: str):
        """Count, time and (every other one, in a traced run) trace one
        operation. A failure is counted and re-raised."""
        traced = self.tracer is not None and len(self.ops) % 2 == 1
        rec: dict = {"kind": kind, "traced": traced}
        self.attempted += 1
        try:
            with self.tracer.operation(f"op.{kind}") if traced else nullcontext({}) as span:
                self._traced_now = traced
                t = time.perf_counter()
                try:
                    yield rec
                finally:
                    rec["wall_ms"] = (time.perf_counter() - t) * 1000
                    rec["span"] = span.get("id")
                    self._traced_now = False
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise
        self.ops.append(rec)

    def span(self, name: str):
        """A benchmark-side span inside the current operation when it is
        traced; nothing otherwise."""
        return self.tracer.span(name) if self._traced_now else nullcontext()

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems[:20])

    def stop_leftover_streams(self) -> None:
        """``run_available_now`` leaves its query running when it times out:
        stop any such query and count it as a failed operation."""
        for q in self.spark.streams.active:
            q.stop()
            self.failed += 1
            self.problems.append(f"streaming query {q.name or q.id} still active; stopped")

    def timed_setup(self, key: str, fn):
        t = time.perf_counter()
        out = fn()
        self.setup[key] = (time.perf_counter() - t) * 1000
        return out

    def setup_s(self) -> float:
        return sum(self.setup[k] for k in
                   ("session_ms", "generate_ms", "load_ms", "warmup_ms")) / 1000

    def plain(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind and not o["traced"]]

    def traced(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind and o["traced"]]


def _pull_attrs(res) -> dict:
    return {"stage_ms": dict(res.stage_ms), "processed": res.processed,
            "from_version": res.from_version, "to_version": res.to_version}


def _stream_attrs(m) -> dict:
    return {"batches": m["batches"], "documents": m["documents"]}


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Set-up in three timed steps (generate, load, warm up), then
    operations until the deadline and for at least ``n_ops`` of them."""

    name: str
    op_kind: str

    def __init__(self, run: Run):
        self.run = run
        self.n_ops = run.scale.ops[self.name]

    def setup(self) -> None:
        run = self.run
        self.inp = run.timed_setup("generate_ms", self._generate)
        run.timed_setup("load_ms", self._load)
        run.timed_setup("warmup_ms", self._warm_up)

    def measure(self, deadline: float) -> None:
        # a traced run needs a traced operation between two untraced ones
        # to measure the tracing overhead
        least = self.n_ops if self.run.tracer is None else max(self.n_ops, 3)
        n = 0
        while n < least or time.perf_counter() < deadline:
            self._operation(n)
            n += 1

    def measured(self) -> list[dict]:
        """The untraced operations the end-to-end figures use."""
        return self.run.plain(self.op_kind)[:self.n_ops]

    def _inputs_dir(self) -> str:
        return _fresh_dir(os.path.join(self.run.work, "inputs"))

    def out_dirs(self) -> list[str]:
        return []

    def rows_in_range(self, lo: int, hi: int) -> int:
        return 0


class CdcWorkload(Workload):
    """The CDC workloads share their base tables, their registry and how
    a consumer pulls."""

    def _generate(self) -> dict:
        run, s = self.run, self.run.scale
        d = self._inputs_dir()
        gen.write_tables(d, run.seed, s.sf, gen.CDC_TABLES)
        counts = gen.line_counts(run.seed, s.sf)
        return {"dir": d, "counts": counts, **self._logs(d, counts)}

    def _load(self) -> None:
        run, d = self.run, self.inp["dir"]
        self.orders = tables.load(run.spark, d, "orders")
        self.lines = tables.load(run.spark, d, "lineitem")
        self.registry = SyncStateRegistry(os.path.join(run.work, "state"))

    def _pull(self, log_dir: str, consumer: str, out_dir: str):
        run = self.run
        return pl.pull_batch(run.spark, log_dir, consumer, self.registry, self.orders,
                             self.lines, MODEL, os.path.join(run.work, out_dir),
                             run.scale.limit)


# -- invoice_drain -----------------------------------------------------------


class InvoiceDrain(CdcWorkload):
    """25,000 invoices with all their lines logged as inserts, drained at
    ``limit=1000``: 25 pulls into the per-record JSON sink.

    A run fits only some of the 25 pulls, and a pull's cost depends on how
    much of the log lies after its cursor. So each measured pull is one
    page of the drain taken by a fresh consumer whose cursor is first set
    (outside the timing) to where the drain stands before that page, and
    the pages are taken in a stride that spreads any prefix over the whole
    drain: 0, 7, 14, 21, 3, 10, ..."""

    name = "invoice_drain"
    op_kind = "pull"
    stride = 7

    def _logs(self, d: str, counts: np.ndarray) -> dict:
        s = self.run.scale
        files = gen.insert_log(self.run.seed, counts, s.invoices, s.invoices_per_file)
        for i, t in enumerate(files):
            gen.write_log_file(os.path.join(d, "log"), i, t)
        log = pa.concat_tables(files)
        latest = gen.latest_per_invoice(log)
        return {"log_dir": os.path.join(d, "log"), "files": len(files),
                "order": sorted((v, i) for i, v in latest.items()),
                "versions": np.sort(log["change_version"].to_numpy())}

    def _warm_up(self) -> None:
        """A throwaway consumer takes the first pulls of the same log, so
        the measured pulls run plans already compiled for this data;
        nothing a measured pull reads is consumed or cached."""
        for _ in range(self.run.scale.warmup_pulls):
            self._pull(self.inp["log_dir"], "warmup", "warm_docs")

    def _page(self, n: int) -> tuple[int, list[tuple[int, int]]]:
        """The n-th measured page: its start in the drain's (version,
        invoice) order, and its entries."""
        limit, order = self.run.scale.limit, self.inp["order"]
        start = n * self.stride % -(-len(order) // limit) * limit
        return start, order[start:start + limit]

    def _operation(self, n: int) -> None:
        run = self.run
        consumer = f"drain-{n}"
        start, _ = self._page(n)
        if start:
            self.registry.advance(consumer, *self.inp["order"][start - 1])
        with run.operation(self.op_kind) as rec:
            res = self._pull(self.inp["log_dir"], consumer, "docs")
        rec.update(invoices=res.processed, log_files=self.inp["files"], consumer=consumer,
                   page=start // run.scale.limit)

    def check(self) -> None:
        run = self.run
        ops = [o for o in run.ops if o["kind"] == self.op_kind]
        delivered: set[tuple[int, int]] = set()
        for n, o in enumerate(ops):
            _, page = self._page(n)
            delivered |= {(i, v) for v, i in page}
            run.check(f"{o['consumer']} cursor",
                      checks.check_cursor(self.registry.read(o["consumer"]), page[-1]))
        out = os.path.join(run.work, "docs")
        run.check("documents", checks.check_documents(out, delivered))
        run.check("document content", checks.check_document_content(
            out, dict(delivered), self.inp["dir"], run.scale.doc_sample, run.seed))

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        ops = self.measured()
        walls = [o["wall_ms"] for o in ops]
        rate = sum(o["invoices"] for o in ops) / (sum(walls) / 1000) if walls else 0.0
        return {"op_ms_p50": (_median(walls), "ms", len(walls)),
                "items_per_s": (rate, "1/s", len(walls)),
                "pull_ms_p50": (_median(walls), "ms", len(walls)),
                "drain_invoices_per_s": (rate, "invoices/s", len(walls))}

    def rows_in_range(self, lo: int, hi: int) -> int:
        v = self.inp["versions"]
        return int(np.searchsorted(v, hi, "right") - np.searchsorted(v, lo, "left"))

    def out_dirs(self) -> list[str]:
        return [os.path.join(self.run.work, "docs")]


# -- update_rounds -----------------------------------------------------------


class UpdateRounds(CdcWorkload):
    """Writes beside reads: each round appends one Zipf-skewed file of
    updates over the same 25,000 invoices, then consumer ``api`` catches up
    with ``pull_batch`` and consumer ``stream`` with ``run_available_now``
    (its own checkpoint). Both consumers share one registry."""

    name = "update_rounds"
    op_kind = "round"

    def __init__(self, run: Run):
        super().__init__(run)
        self.rounds: list[pa.Table] = []

    def _logs(self, d: str, counts: np.ndarray) -> dict:
        run, s = self.run, self.run.scale
        invoices = gen.round_invoices(run.seed, counts, s.invoices)
        warm = [gen.update_round(run.seed + 1, r, counts, invoices, s.round_rows,
                                 1 + r * s.round_rows) for r in range(s.warmup_rounds)]
        return {"invoices": invoices, "warm": warm}

    def _catch_up(self, log_dir: str, prefix: str) -> dict:
        """Consumer ``{prefix}api`` pulls until the log is drained, then
        consumer ``{prefix}stream`` runs one availableNow stream over it."""
        run = self.run
        out = {"pull_ms": []}
        t = time.perf_counter()
        with run.span("api"):
            more = True
            while more:
                t_pull = time.perf_counter()
                more = self._pull(log_dir, f"{prefix}api", f"{prefix}api_docs").has_more
                out["pull_ms"].append((time.perf_counter() - t_pull) * 1000)
        t2 = time.perf_counter()
        try:
            m = pl.run_available_now(run.spark, log_dir, f"{prefix}stream", self.orders,
                                     self.lines, MODEL, os.path.join(run.work, f"{prefix}stream_docs"),
                                     os.path.join(run.work, f"{prefix}checkpoints"),
                                     registry=self.registry, timeout_s=STREAM_TIMEOUT_S)
        finally:
            out["stream_ms"] = (time.perf_counter() - t2) * 1000
            run.stop_leftover_streams()
        out.update(api_ms=(t2 - t) * 1000, stream_docs=m["documents"])
        return out

    def _warm_up(self) -> None:
        warm_log = os.path.join(self.run.work, "warm_log")
        for r, tbl in enumerate(self.inp["warm"]):
            gen.write_log_file(warm_log, r, tbl)
            self._catch_up(warm_log, "warm-")

    def _operation(self, n: int) -> None:
        run, s = self.run, self.run.scale
        tbl = gen.update_round(run.seed, n, self.inp["counts"], self.inp["invoices"],
                               s.round_rows, 1 + n * s.round_rows)
        gen.write_log_file(os.path.join(run.work, "log"), n, tbl)
        self.rounds.append(tbl)
        with run.operation(self.op_kind) as rec:
            rec.update(self._catch_up(os.path.join(run.work, "log"), ""))
        rec.update(invoices=len(gen.latest_per_invoice(tbl)), log_files=n + 1)

    def check(self) -> None:
        run = self.run
        expected: set[tuple[int, int]] = set()
        last: tuple[int, int] = (0, 0)
        for tbl in self.rounds:
            latest = gen.latest_per_invoice(tbl)
            expected |= set(latest.items())
            last = max((v, i) for i, v in latest.items())
        for consumer in ("api", "stream"):
            out = os.path.join(run.work, f"{consumer}_docs")
            run.check(f"{consumer} documents", checks.check_documents(out, expected))
            run.check(f"{consumer} cursor", checks.check_cursor(self.registry.read(consumer), last))

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        ops = self.measured()
        n = len(ops)
        api = _median([o["api_ms"] for o in ops])
        pulls = [ms for o in ops for ms in o["pull_ms"]]
        stream_rate = _median([o["invoices"] * 1000 / o["stream_ms"] for o in ops])
        return {"op_ms_p50": (api, "ms", n),
                "items_per_s": (stream_rate, "1/s", n),
                "pull_ms_p50": (_median(pulls), "ms", len(pulls)),
                "pull_catchup_ms_p50": (api, "ms", n),
                "stream_catchup_ms_p50": (_median([o["stream_ms"] for o in ops]), "ms", n),
                "update_invoices_per_s": (sum(o["invoices"] for o in ops)
                                          / (sum(o["wall_ms"] for o in ops) / 1000) if ops else 0.0,
                                          "invoices/s", n)}

    def rows_in_range(self, lo: int, hi: int) -> int:
        # round versions run 1, 2, 3, ... without gaps
        return max(0, hi - max(lo, 1) + 1)

    def out_dirs(self) -> list[str]:
        return [os.path.join(self.run.work, "api_docs")]


# -- headline_queries --------------------------------------------------------


class HeadlineQueries(Workload):
    """The 13 headline registry queries, each materialised to the ``noop``
    sink, one pass after another. Set-up builds the 13 DataFrames and runs
    the cold pass, which collects each query's result; after the measured
    passes those results are compared with each query's DuckDB oracle. A
    ``noop`` write keeps no output to check, so a collect of the same
    DataFrames is as close as a check can get, and making it the cold pass
    saves the run one more pass."""

    name = "headline_queries"
    op_kind = "pass"

    def _generate(self) -> dict:
        d = self._inputs_dir()
        gen.write_tables(d, self.run.seed, self.run.scale.headline_sf, gen.TABLE_NAMES)
        return {"dir": d}

    def _load(self) -> None:
        registered = queries.queries()
        self.dfs = {name: registered[name](self.run.spark, self.inp["dir"]) for name in HEADLINE}

    def _warm_up(self) -> None:
        self.results = {name: (df.columns, [tuple(r) for r in df.collect()])
                        for name, df in self.dfs.items()}

    def _operation(self, n: int) -> None:
        with self.run.operation(self.op_kind):
            for name in HEADLINE:
                with self.run.span(f"q.{name}"):
                    self.dfs[name].write.format("noop").mode("overwrite").save()

    def check(self) -> None:
        run = self.run
        oracles = queries.oracle_sql()
        docs = pq.read_table(os.path.join(self.inp["dir"], "documents.parquet"),
                             columns=["doc_id", "text"])
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        con = checks.oracle_connection(self.inp["dir"], gen.TABLE_NAMES)
        try:
            for name, (cols, rows) in self.results.items():
                tie = self._quality_tie if name == "txt_quality_score" else None
                problems, ties = checks.check_query(cols, rows, con, oracles[name], tie)
                run.check(f"oracle {name}", problems)
                run.notes.extend(f"oracle {name}: rounding tie accepted: {t}" for t in ties)
        finally:
            con.close()

    def _quality_tie(self, spark: dict, oracle: dict) -> bool:
        """A ``txt_quality_score`` row whose two values round one exact
        tie of the score to opposite sides (``checks.quality_tie``)."""
        if spark["doc_id"] != oracle["doc_id"]:
            return False
        text = self.texts[int(spark["doc_id"])]
        return checks.quality_tie(text, float(spark["quality"]), float(oracle["quality"]))

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        walls = [o["wall_ms"] for o in self.measured()]
        n = len(walls)
        return {"op_ms_p50": (_median(walls), "ms", n),
                "items_per_s": (len(HEADLINE) * n / (sum(walls) / 1000) if walls else 0.0,
                                "1/s", n),
                "headline_s": (_median(walls) / 1000, "s", n)}


WORKLOADS = {w.name: w for w in (InvoiceDrain, UpdateRounds, HeadlineQueries)}
