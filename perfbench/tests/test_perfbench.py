"""Tests for the benchmark itself: the seeded generator, the document
checker, BENCHMARK.json against the code, and a tiny-scale run of each
workload.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench import run as bench  # noqa: E402
from perfbench.workloads import (END_TO_END, HEADLINE, PER_LAYER, WORKLOADS,  # noqa: E402
                                 InvoiceDrain, Scale)

TINY = Scale(sf=0.005, invoices=600, invoices_per_file=200, limit=250, round_rows=400,
             headline_sf=0.001, warmup_pulls=1, warmup_rounds=1,
             ops={"invoice_drain": 3, "update_rounds": 3, "headline_queries": 2}, doc_sample=10)


# -- generator ---------------------------------------------------------------


def test_same_seed_writes_identical_logs(tmp_path):
    def write(d, seed):
        counts = gen.line_counts(seed, 0.005)
        files = gen.insert_log(seed, counts, 500, 100)
        files.append(gen.update_round(seed, 3, counts, gen.round_invoices(seed, counts, 500), 300, 1))
        return [open(gen.write_log_file(str(d), i, t), "rb").read() for i, t in enumerate(files)]

    a, b, c = write(tmp_path / "a", 7), write(tmp_path / "b", 7), write(tmp_path / "c", 8)
    assert a == b
    assert a[0] != c[0] and a[-1] != c[-1]


def test_same_seed_same_tables():
    for name in gen.TABLE_NAMES:
        assert gen.make_table(name, 3, 0.005).equals(gen.make_table(name, 3, 0.005))
    assert not gen.make_table("documents", 3, 0.005).equals(gen.make_table("documents", 4, 0.005))
    assert not gen.make_table("orders", 3, 0.005).equals(gen.make_table("orders", 4, 0.005))


def test_line_counts_match_lineitem():
    li = gen.make_table("lineitem", 5, 0.005)
    counts = gen.line_counts(5, 0.005)
    okey = li["l_orderkey"].to_numpy()
    assert np.array_equal(np.bincount(okey, minlength=len(counts)), counts)
    # line numbers run 1..n within each order, so line keys are unique
    line_keys = okey * gen.LINE_KEY_MULT + li["l_linenumber"].to_numpy()
    assert len(np.unique(line_keys)) == li.num_rows


def test_latest_per_invoice_collapses_headers_and_lines():
    log = gen.changes_table(
        np.array([gen.HEADER_TABLE, gen.LINE_TABLE, gen.LINE_TABLE, gen.HEADER_TABLE]),
        np.array([4, 4 * 8 + 2, 9 * 8 + 1, 9]), np.array([1, 2, 3, 4]),
        np.array(["U", "U", "U", "D"]))
    assert gen.latest_per_invoice(log) == {4: 2, 9: 4}


def test_update_round_mix():
    counts = gen.line_counts(1, 0.01)
    rnd = gen.update_round(1, 0, counts, gen.round_invoices(1, counts, 5000), 3000, 10)
    tables = np.asarray(rnd["table_name"].to_pylist())
    ops = np.asarray(rnd["op"].to_pylist())
    assert rnd["change_version"].to_pylist() == list(range(10, 3010))
    assert 0.75 < (tables == gen.LINE_TABLE).mean() < 0.85
    assert 0.03 < (ops == "D").mean() < 0.07
    assert set(ops[tables == gen.LINE_TABLE]) == {"U"}


# -- document checker --------------------------------------------------------

EXPECTED = {(1, 10), (2, 20), (3, 30)}


def _deliver(d, pairs):
    d.mkdir(exist_ok=True)
    for inv, ver in pairs:
        (d / f"{inv}_v{ver}.json").write_text("{}")
    return str(d)


def test_checker_accepts_the_expected_set(tmp_path):
    assert checks.check_documents(_deliver(tmp_path, EXPECTED), EXPECTED) == []


@pytest.mark.parametrize("delivered,kind", [
    (EXPECTED - {(2, 20)}, "missing 2_v20"),
    (EXPECTED | {(2, 19)}, "duplicate 2_v19"),
    (EXPECTED - {(2, 20)} | {(2, 19)}, "stale 2_v19"),
    (EXPECTED | {(4, 40)}, "extra invoice 4_v40"),
])
def test_checker_rejects_planted_fault(tmp_path, delivered, kind):
    problems = checks.check_documents(_deliver(tmp_path, delivered), EXPECTED)
    assert any(p.startswith(kind) for p in problems), problems


def test_checker_rejects_stray_file(tmp_path):
    d = _deliver(tmp_path, EXPECTED)
    (tmp_path / "notes.txt").write_text("x")
    assert checks.check_documents(d, EXPECTED) == ["stray file notes.txt"]


def test_query_checker_compares_as_the_oracle_tests_do():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 0.500687::DOUBLE), (2, 0.25::DOUBLE)) t(doc_id, quality)"
    assert checks.check_query(["quality", "doc_id"], [(0.25, 2), (0.500687, 1)], con, sql) == ([], [])
    assert checks.check_query(["doc_id", "quality"], [(1, 0.500688), (2, 0.25)], con, sql)[0]
    assert checks.check_query(["doc_id", "quality"], [(1, 0.500687)], con, sql)[0]
    assert checks.check_query(["doc_id", "q"], [(1, 0.500687), (2, 0.25)], con, sql)[0]


# 48 tokens, 257 characters, 5 hits of "the": the exact score is 0.5123125
TIED_TEXT = " ".join(["the", "abcd"] * 5 + ["abcd"] * 33 + ["abcdefgh"] * 4 + ["abcdefghijk"])


def test_exact_quality_matches_the_query():
    from sql_cdc_spark.queries import text_q

    import duckdb

    con = duckdb.connect()
    texts = [TIED_TEXT, "the cat sat on a mat", "data  spark\tjoin the a the"]
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES (?), (?), (?)) t(text)", texts)
    sql = text_q._QUALITY_SQL.replace("doc_id", "text")
    oracle = dict(con.execute(sql).fetchall())
    for t in texts:
        assert abs(float(checks.exact_quality(t)) - oracle[t]) <= 5e-7
    assert checks.exact_quality(TIED_TEXT) == Fraction(8197, 16_000)  # 0.5123125


def test_quality_tie_accepts_only_the_two_roundings_of_a_tie():
    import duckdb

    assert checks.quality_tie(TIED_TEXT, 0.512313, 0.512312)
    assert checks.quality_tie(TIED_TEXT, 0.512312, 0.512313)
    assert not checks.quality_tie(TIED_TEXT, 0.512314, 0.512312)
    assert not checks.quality_tie(TIED_TEXT + " x", 0.512313, 0.512312)

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (7, 0.512312::DOUBLE), (8, 0.25::DOUBLE)) t(doc_id, quality)"
    texts = {"7": TIED_TEXT, "8": "the cat sat on a mat"}

    def tie(a, b):
        return a["doc_id"] == b["doc_id"] and checks.quality_tie(
            texts[a["doc_id"]], float(a["quality"]), float(b["quality"]))

    problems, ties = checks.check_query(["doc_id", "quality"], [(7, 0.512313), (8, 0.25)], con,
                                        sql, tie)
    assert problems == [] and len(ties) == 1
    problems, ties = checks.check_query(["doc_id", "quality"], [(7, 0.512313), (8, 0.26)], con,
                                        sql, tie)
    assert problems and len(ties) == 1


# -- BENCHMARK.json ----------------------------------------------------------


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- tiny runs ---------------------------------------------------------------


@pytest.fixture()
def bench_env(tmp_path, monkeypatch):
    for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
                "TMPDIR", "JAVA_TOOL_OPTIONS"):
        monkeypatch.setenv(key, "")  # records the old value for teardown
    bench.prepare_environment(str(tmp_path))


def _tiny_run(workload: str, trace: int, seconds: float, capsys) -> tuple[dict, dict]:
    args = argparse.Namespace(workload=workload, seed=5, seconds=seconds, trace=trace)
    result = bench.run_workload(args, TINY)
    detail = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"], detail["problems"]
    assert result["failed"] == 0 and result["attempted"] > 2
    return result, detail


def test_tiny_invoice_drain(bench_env, capsys):
    result, detail = _tiny_run("invoice_drain", 0, 1, capsys)
    assert list(result["metrics"]) == [n for n, _, _ in END_TO_END]
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["ops"]["untraced"] >= 1


def test_tiny_update_rounds_traced(bench_env, capsys):
    result, detail = _tiny_run("update_rounds", 1, 10, capsys)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert list(m) == [n for n, _, _ in PER_LAYER]
    assert detail["ops"]["traced"] >= 1
    parts = ("registry.read_ms", "changelog.watermark_ms", "pull.query_ms", "sink.ms",
             "pull.update_state_ms", "pull.unattributed_ms")
    assert sum(m[p] for p in parts) == pytest.approx(m["pull.wall_ms"])
    assert m["sink.docs"] > 0 and m["stream.trigger_ms"] > 0 and m["stream.jobs_per_batch"] > 0
    with open(os.path.join(ROOT, detail["spans"])) as f:
        spans = [json.loads(line) for line in f]
    assert {"op.round", "api", "pull", "sink", "stream", "registry.read"} <= {s["name"] for s in spans}
    assert all(s["self_ms"] <= s["ms"] + 1e-6 for s in spans if "self_ms" in s)


def test_tiny_headline_queries_traced(bench_env, capsys):
    result, detail = _tiny_run("headline_queries", 1, 1, capsys)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert detail["ops"]["traced"] == 1
    assert all(m[f"q.{name}_ms"] > 0 for name in HEADLINE)
    assert m["queries.jobs"] >= len(HEADLINE) and m["queries.plan_ms"] > 0
    assert 0 < m["queries.busy_ratio"] < 1
    assert m["trace.overhead_pct"] != 0  # one traced pass between two untraced ones


def test_drain_pages_cover_the_drain():
    class _Run:
        scale = Scale()

    drain = InvoiceDrain.__new__(InvoiceDrain)
    drain.run, drain.inp = _Run(), {"order": [(v, v) for v in range(1, 25_001)]}
    starts = [drain._page(n)[0] for n in range(25)]
    assert sorted(starts) == list(range(0, 25_000, 1000))
    assert sorted(starts[:6]) == [0, 3000, 7000, 10_000, 14_000, 21_000]


def test_log_table_schema_matches_changelog_convention():
    from sql_cdc_spark.streaming.changelog import CHANGELOG_SCHEMA

    log = gen.insert_log(1, gen.line_counts(1, 0.005), 10, 10)[0]
    assert log.schema.names == CHANGELOG_SCHEMA.fieldNames()
    assert log.schema.field("ts").type == pa.timestamp("us", tz="UTC")
