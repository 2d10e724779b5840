"""The incremental pull and its streaming twin, in the core tier:
document emission against a plain-Python oracle, resume after a sink
failure, no-loss/no-dup across batch boundaries, header-less keys, poison
records, the retention gate, cold start, the availableNow runner and its
timeout."""

import json
import os
import random
import time

import pytest
from pyspark.sql import functions as F

from sql_cdc_spark.streaming import changelog as cl
from sql_cdc_spark.streaming import pipeline as pl
from sql_cdc_spark.streaming.registry import SyncStateRegistry
from tests.cdc_support import MODEL, _gen_changes, _oracle_latest


def test_pull_batch_matches_oracle(spark, base, tmp_path):
    header, lines = base
    w = _gen_changes(spark, tmp_path)
    # one changed invoice's lines are withheld from the line table, so
    # its document carries a header and no lines
    header_changed = {
        r.key_id for r in spark.read.parquet(w.log_dir)
        .filter(F.col("table_name") == cl.HEADER_TABLE).select("key_id").collect()
    }
    hollow = min(header_changed & {r.o_orderkey for r in header.collect()})
    lines = lines.filter(F.col("l_orderkey") != hollow)
    out_dir = str(tmp_path / "docs")
    reg = SyncStateRegistry(str(tmp_path / "state"))

    results = pl.drain(
        spark, w.log_dir, "c1", reg, header, lines, MODEL, out_dir, limit=10
    )
    assert results[-1].has_more is False

    oracle = _oracle_latest(spark, w.log_dir, lines)
    # only invoices present in the header base table are emitted (inner join)
    present = {
        r.o_orderkey for r in header.select("o_orderkey").collect()
    }
    expected = {k: v for k, v in oracle.items() if k in present}

    files = [f for f in os.listdir(out_dir) if f.endswith(".json")]
    emitted = {}
    for f in files:
        inv, ver = f[:-5].split("_v")
        emitted[int(inv)] = int(ver)
    assert emitted == {k: v for k, (v, _op) in expected.items()}

    # document content: nested lines sorted by line number, valid JSON
    doc = pl.read_document(out_dir, files[0])
    assert {"invoice_id", "change_version", "op", "lines"} <= doc.keys()
    lns = [l["l_linenumber"] for l in doc["lines"]]
    assert lns == sorted(lns)

    # every document's full content against the base rows: header
    # fields, op, lines sorted by line number (ties, which the generated
    # line table has, by the remaining line fields), [] for a header
    # with none
    headers = {r.o_orderkey: r for r in header.collect()}
    invoice_lines = {}
    for r in lines.collect():
        invoice_lines.setdefault(r.l_orderkey, []).append(r)
    for inv, (ver, op) in expected.items():
        want = {
            "invoice_id": inv, "change_version": ver, "op": op,
            "o_custkey": headers[inv].o_custkey,
            "o_totalprice": headers[inv].o_totalprice,
            "lines": [
                {"l_linenumber": l.l_linenumber, "l_quantity": l.l_quantity,
                 "l_extendedprice": l.l_extendedprice}
                for l in sorted(
                    invoice_lines.get(inv, []),
                    key=lambda l: (l.l_linenumber, l.l_quantity, l.l_extendedprice),
                )
            ],
        }
        with open(os.path.join(out_dir, f"{inv}_v{ver}.json")) as f:
            got = json.load(f)
        assert got == want and list(got) == list(want), inv
    assert hollow in expected and invoice_lines.get(hollow) is None


def test_pull_plan_runs_in_the_jvm(spark, base, tmp_path):
    """A pull is one JVM plan: no Python map or UDF stage in its
    documents statement (the per-record sink used to add one)."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=5)
    docs = pl._documents(spark, MODEL, cl.read_changelog(spark, w.log_dir), header, lines, {
        "from_version": 0, "to_version": 10**9, "cursor_version": 0,
        "cursor_id": 0, "limit": 10,
    })
    plan = docs._sc._jvm.PythonSQLUtils.explainString(
        docs._jdf.queryExecution(), "extended"
    )
    for tok in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert tok not in plan


def test_no_loss_no_dup_across_batch_boundaries(spark, base, tmp_path):
    """Property (T4): any batch-size sequence delivers each changed invoice
    exactly once, including under version ties straddling boundaries."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=2, keys=range(0, 30), seed=11)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out_dir = str(tmp_path / "docs")

    seen = []
    rng = random.Random(3)
    while True:
        limit = rng.choice([1, 2, 3, 7])
        res = pl.pull_batch(
            spark, w.log_dir, "c", reg, header, lines, MODEL, out_dir, limit=limit
        )
        files = {f for f in os.listdir(out_dir)}
        seen.append((res.processed, res.last_version, res.last_id))
        if not res.has_more and res.processed < limit:
            break

    oracle = _oracle_latest(spark, w.log_dir, lines)
    present = {r.o_orderkey for r in header.select("o_orderkey").collect()}
    expected_n = len([k for k in oracle if k in present])
    total = sum(p for p, _, _ in seen)
    assert total == expected_n, f"delivered {total}, expected {expected_n}"
    # cursor monotonicity
    cursors = [(v, i) for _, v, i in seen]
    assert cursors == sorted(cursors)


def test_resume_after_sink_failure(spark, base, tmp_path):
    """T3: injected sink failure must NOT advance the cursor; the retry
    delivers the same batch (idempotent filenames absorb any re-writes)."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=5)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out_dir = str(tmp_path / "docs")

    before = reg.read("c")
    with pytest.raises(OSError):
        pl.pull_batch(
            spark, w.log_dir, "c", reg, header, lines, MODEL, out_dir,
            limit=5, fail_sink=True,
        )
    after_fail = reg.read("c")
    assert (after_fail.last_sync_version, after_fail.last_processed_id) == (
        before.last_sync_version,
        before.last_processed_id,
    )
    assert not os.path.exists(out_dir) or not os.listdir(out_dir)

    res = pl.pull_batch(
        spark, w.log_dir, "c", reg, header, lines, MODEL, out_dir, limit=5
    )
    assert res.processed > 0
    after = reg.read("c")
    assert (after.last_sync_version, after.last_processed_id) == (
        res.last_version,
        res.last_id,
    )


def test_empty_pull_does_not_advance(spark, base, tmp_path):
    header, lines = base
    w = cl.ChangeLogWriter(spark, str(tmp_path / "changelog"))
    w.append([(cl.HEADER_TABLE, 1, "I")])
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    r1 = pl.pull_batch(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=10)
    assert r1.processed == 1
    r2 = pl.pull_batch(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=10)
    assert r2.processed == 0 and r2.has_more is False
    assert reg.read("c").last_sync_version == r1.last_version


def test_header_missing_keys_do_not_stall_or_starve(spark, base, tmp_path):
    """Regression (round-2 verdict #1): batched keys absent from the header
    (deleted invoices) must neither starve later deliverable keys nor leave
    the cursor stuck re-scanning an all-dropped log tail. The cursor
    advances over the PRE-JOIN batch; has_more derives from its count."""
    header, lines = base
    present = [r.o_orderkey for r in header.select("o_orderkey").orderBy("o_orderkey").limit(4).collect()]
    w = cl.ChangeLogWriter(spark, str(tmp_path / "changelog"))
    # low versions: keys with NO header row — every small batch hits them first
    w.append([(cl.HEADER_TABLE, 990000 + i, "D") for i in range(6)])
    # middle: deliverable keys
    w.append([(cl.HEADER_TABLE, k, "U") for k in present])
    # tail: all-missing again (the permanent-re-scan case)
    w.append([(cl.HEADER_TABLE, 990100 + i, "D") for i in range(4)])

    reg = SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    results = pl.drain(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=3)

    delivered = {int(f.split("_v")[0]) for f in os.listdir(out)}
    assert delivered == set(present), "dropped keys ate batch slots"
    # the cursor sits at the global high-watermark: the all-missing tail was
    # consumed, so the next pull is empty and re-scans nothing
    hw = cl.current_version(spark, w.log_dir)
    assert reg.read("c").last_sync_version == hw
    res = pl.pull_batch(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=3)
    assert res.processed == 0 and res.has_more is False


def test_poison_record_segregated_batch_continues(spark, base, tmp_path, monkeypatch):
    """Failed-document segregation (invoice-api/server.js:33-42,183-203):
    with error_dir set, a poison record lands in the error directory, the
    other N−1 documents are delivered, the cursor advances over the FULL
    batch, and the next pull is empty (clean resume)."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=5)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out_dir = str(tmp_path / "docs")
    err_dir = str(tmp_path / "errors")

    oracle = _oracle_latest(spark, w.log_dir, lines)
    present = {r.o_orderkey for r in header.select("o_orderkey").collect()}
    keys = sorted(k for k in oracle if k in present)
    poison_id, expected_n = keys[0], len(keys)
    assert expected_n >= 2

    real_documents = pl._documents

    def poisoned(*args, **kwargs):
        docs = real_documents(*args, **kwargs)
        return docs.withColumn(
            "doc_json",
            F.when(F.col("invoice_id") == poison_id, F.lit(None).cast("string"))
            .otherwise(F.col("doc_json")),
        )

    monkeypatch.setattr(pl, "_documents", poisoned)
    res = pl.pull_batch(
        spark, w.log_dir, "c", reg, header, lines, MODEL, out_dir,
        limit=1000, error_dir=err_dir,
    )
    assert res.processed == expected_n - 1
    delivered = [f for f in os.listdir(out_dir) if f.endswith(".json")]
    assert len(delivered) == expected_n - 1
    assert not any(f.startswith(f"{poison_id}_v") for f in delivered)
    errs = os.listdir(err_dir)
    assert len(errs) == 1
    assert errs[0].startswith(f"{poison_id}_v") and errs[0].endswith(".error")
    with open(os.path.join(err_dir, errs[0])) as f:
        err_doc = json.load(f)
    assert err_doc["doc_filename"].startswith(f"{poison_id}_v")
    assert "TypeError" in err_doc["error"] or "Error" in err_doc["error"]
    # cursor advanced over the whole batch — the poison record is consumed
    after = reg.read("c")
    assert (after.last_sync_version, after.last_processed_id) == (
        res.last_version, res.last_id,
    )
    # clean resume: nothing left to pull
    monkeypatch.setattr(pl, "_documents", real_documents)
    res2 = pl.pull_batch(
        spark, w.log_dir, "c", reg, header, lines, MODEL, out_dir,
        limit=1000, error_dir=err_dir,
    )
    assert res2.processed == 0 and res2.has_more is False


def test_stale_cursor_refused_after_retention(spark, base, tmp_path):
    """The min-valid-version contract: after expire_changelog raises the
    retention floor past a consumer's cursor, pull_batch REFUSES the pull
    (StaleCursorError) instead of silently skipping the expired changes;
    consumer_lag flags the same consumer stale; reset_consumer restores a
    working (from-scratch) pull. A consumer already past the floor is
    untouched."""
    header, lines = base
    w = _gen_changes(spark, tmp_path)
    log = w.log_dir
    reg = SyncStateRegistry(str(tmp_path / "sreg"))
    out = str(tmp_path / "sdocs")

    # behind: consumed a little; ahead: fully drained
    r1 = pl.pull_batch(spark, log, "behind", reg, header, lines, MODEL, out, limit=5)
    assert r1.processed > 0
    pl.drain(spark, log, "ahead", reg, header, lines, MODEL, out, limit=500)
    behind_v = reg.read("behind").last_sync_version
    ahead_v = reg.read("ahead").last_sync_version
    assert behind_v < ahead_v

    floor = behind_v + 1
    pl.expire_changelog(spark, log, min_version=floor)
    assert cl.retention_floor(log) == floor

    with pytest.raises(pl.StaleCursorError, match="behind"):
        pl.pull_batch(spark, log, "behind", reg, header, lines, MODEL, out)
    stale = {
        r.sync_name: r.cursor_stale
        for r in pl.consumer_lag(spark, reg, log).collect()
    }
    assert stale["behind"] is True and stale["ahead"] is False

    # ahead consumer still pulls fine (nothing pending, no error)
    ok = pl.pull_batch(spark, log, "ahead", reg, header, lines, MODEL, out)
    assert ok.processed == 0

    # reset, then... a reset cursor is version 0 < floor: the contract is
    # re-sync from a base snapshot; incremental pull over the expired
    # range must STILL be refused so loss cannot sneak back in
    pl.reset_consumer(reg, str(tmp_path / "schk"), "behind")
    with pytest.raises(pl.StaleCursorError):
        pl.pull_batch(spark, log, "behind", reg, header, lines, MODEL, out)


def test_pull_batch_cold_start_empty_log(spark, base, tmp_path):
    """A consumer polling before the producer has written any change gets
    an empty batch at version 0, not PATH_NOT_FOUND — and the cursor
    stays at the origin so the first real change is picked up later."""
    header, lines = base
    reg = SyncStateRegistry(str(tmp_path / "coldreg"))
    res = pl.pull_batch(
        spark, str(tmp_path / "cold_log"), "c", reg, header, lines, MODEL,
        str(tmp_path / "cold_docs"),
    )
    assert res.processed == 0 and res.has_more is False
    st = reg.read("c")
    assert (st.last_sync_version, st.last_processed_id) == (0, 0)


def test_streaming_available_now_and_incremental_resume(spark, base, tmp_path):
    """Structured Streaming runner: first drain processes everything; a
    second run with the same checkpoint only sees newly appended files."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 15), seed=13)
    out_dir = str(tmp_path / "docs")
    chk = str(tmp_path / "chk")

    m1 = pl.run_available_now(
        spark, w.log_dir, "s1", header, lines, MODEL, out_dir, chk
    )
    assert m1["documents"] > 0
    n_files_1 = len(os.listdir(out_dir))

    # no new data -> no new documents
    m2 = pl.run_available_now(
        spark, w.log_dir, "s1", header, lines, MODEL, out_dir, chk
    )
    assert m2["documents"] == 0

    # append a change for a fresh key; only it is processed
    w.append([(cl.HEADER_TABLE, 55, "U")])
    m3 = pl.run_available_now(
        spark, w.log_dir, "s1", header, lines, MODEL, out_dir, chk
    )
    assert m3["documents"] == 1
    assert len(os.listdir(out_dir)) == n_files_1 + 1


def test_stream_timeout_stops_query(spark, base, tmp_path, monkeypatch):
    """A stream still running at ``timeout_s`` is stopped and the call
    raises TimeoutError: no query is left writing after the caller moved
    on, and the checkpoint resumes the drain on the next run."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=17)
    out_dir, chk = str(tmp_path / "docs"), str(tmp_path / "chk")
    real_documents = pl._documents

    def slow(*args, **kwargs):
        time.sleep(3)
        return real_documents(*args, **kwargs)

    monkeypatch.setattr(pl, "_documents", slow)
    with pytest.raises(TimeoutError):
        pl.run_available_now(
            spark, w.log_dir, "t", header, lines, MODEL, out_dir, chk, timeout_s=1
        )
    assert not spark.streams.active

    # whether or not the cut batch committed, the resumed run leaves every
    # changed invoice's latest document delivered
    monkeypatch.setattr(pl, "_documents", real_documents)
    pl.run_available_now(spark, w.log_dir, "t", header, lines, MODEL, out_dir, chk)
    assert not spark.streams.active
    present = {r.o_orderkey for r in header.select("o_orderkey").collect()}
    expected = {
        f"{k}_v{v}.json"
        for k, (v, _op) in _oracle_latest(spark, w.log_dir, lines).items() if k in present
    }
    assert set(os.listdir(out_dir)) == expected


def test_stream_cursor_covers_header_less_keys(spark, base, tmp_path):
    """The stream's registry cursor advances over every consumed key, as
    ``pull_batch`` does: a last micro-batch that changes only an invoice
    absent from the header writes no document but still moves the cursor
    to that change, so ``consumer_lag`` does not report it pending."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=19)
    w.append([(cl.HEADER_TABLE, 990000, "D")])
    reg = SyncStateRegistry(str(tmp_path / "state"))
    m = pl.run_available_now(
        spark, w.log_dir, "s", header, lines, MODEL, str(tmp_path / "docs"),
        str(tmp_path / "chk"), registry=reg, max_files_per_trigger=1,
    )
    assert m["documents"] > 0
    change = spark.read.parquet(w.log_dir).filter(F.col("key_id") == 990000).first()
    st = reg.read("s")
    assert (st.last_sync_version, st.last_processed_id) == (change.change_version, 990000)
