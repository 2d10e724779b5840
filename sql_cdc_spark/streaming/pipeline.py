"""The CDC document pipeline — the reference's flagship
``GET /api/invoices/changes`` flow (invoice-api/server.js:83-365,
sqls/storedprocedure.sql:4-57) rebuilt two ways:

1. ``pull_batch`` — the exact reference semantics: checkpointed,
   resumable, multi-consumer incremental pull with a composite keyset
   cursor, snapshot-bounded scan, inclusive re-read + dedup, bounded
   ordered batch, per-document sink, advance-only-on-success.
2. ``run_available_now`` — the idiomatic Spark shape: Structured
   Streaming over the change log through the engine's one drain,
   ``feed.drain_feed`` (foreachBatch + checkpointLocation); offsets
   replace the hand-rolled cursor, idempotent (deterministically named)
   document writes give effectively-exactly-once (T3).

Both run the same generated Spark SQL statement (``_documents_sql``),
so the relational core is written once: the pull binds its cursor,
watermark and limit as parameter markers, a stream micro-batch runs it
unbounded.

Scale stance: a pull is the watermark plus ONE Spark action. Its
≤ ``limit`` documents come to the driver with the keys the cursor needs
anyway, and the driver writes them — at the reference's batch size a
pull is bound by fixed per-job cost, not by data, so a second
(partition-parallel) sink job would only add cost. A stream micro-batch
streams its documents to the driver one partition at a time. The
per-record JSON/BSON files exist for parity with the reference
(server.js:183-203); at scale, ``write_documents_partitioned`` — one
partition-parallel ``df.write.json`` per batch — is the 100 TB path. On
a cluster, out_dir must be a shared filesystem (S3/HDFS).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.streaming import changelog as cl
from sql_cdc_spark.streaming.feed import drain_feed
from sql_cdc_spark.streaming.registry import SyncStateRegistry


@dataclass
class InvoiceModel:
    """Maps the generic header/line document model onto concrete tables."""

    header_key: str                 # header PK column, e.g. o_orderkey
    line_key_expr: str              # SQL expr over lines yielding the line PK
    line_parent_key: str            # FK on lines back to the header
    header_cols: list[str]
    line_cols: list[str]
    line_order_col: str


@dataclass
class BatchResult:
    """One pull's outcome. ``stage_ms`` splits its wall time:

    - ``read_state``: reading the consumer's cursor;
    - ``query``: from the watermark to the batch's rows — documents
      assembled — on the driver (watermark included);
    - ``sink``: the document file writes only;
    - ``update_state``: the cursor advance.

    An empty pull stops after ``query``."""

    consumer: str
    from_version: int
    to_version: int
    processed: int
    has_more: bool
    last_version: int = 0
    last_id: int = 0
    stage_ms: dict[str, float] = field(default_factory=dict)
    docs_per_second: float = 0.0


def _ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _documents_sql(model: InvoiceModel, bounded: bool) -> str:
    """The reference's sproc (sqls/storedprocedure.sql:4-57) as one Spark
    SQL statement over the ``{log}``, ``{header}`` and ``{lines}`` frames,
    generated from the model:

    - change scan: header rows pass through; line rows recover the
      invoice key by joining the base line table on the line PK
      (storedprocedure.sql:14-26);
    - latest-per-key carrying the winning version's op: one
      map-side-combining ``max(struct(version, op))`` (:28-34);
    - ``bounded`` only: the snapshot-bounded inclusive re-read
      ``version BETWEEN :from_version AND :to_version``, the composite
      keyset filter strictly after ``(:cursor_version, :cursor_id)``
      (server.js:165-168) and a ``LIMIT :limit`` under the total
      (version, key) order (:35,56);
    - header enrichment and the nested line array, sorted by the line
      order column (:42-52), serialized to JSON under the deterministic
      name ``{invoice}_v{version}.json`` (server.js:64-65, timestamp
      dropped: determinism IS the idempotency mechanism).

    One row per batched key: ``(invoice_id, change_version, doc_filename,
    doc_json)``. A key with no header row (a deleted invoice) keeps its
    row with a null filename and document: it produces no document but is
    still consumed, so the cursor advances over it. The header and line
    rows of the batched keys are picked by semi-joins against the batch
    (a broadcast while it is small, as a pull's is), so only the batch's
    own lines reach a shuffle, and one aggregation per key nests them:
    the documents need no outer join."""
    hk, pk = _ident(model.header_key), _ident(model.line_parent_key)
    header_cols = [_ident(c) for c in model.header_cols if c != model.header_key]
    line_cols = [_ident(model.line_order_col)] + [
        _ident(c) for c in model.line_cols if c != model.line_order_col
    ]
    in_range = (
        " WHERE change_version BETWEEN :from_version AND :to_version" if bounded else ""
    )
    batch = (
        "SELECT invoice_id, m.change_version AS change_version, m.op AS op FROM latest"
    )
    if bounded:
        batch += (
            " WHERE m.change_version > :cursor_version"
            " OR (m.change_version = :cursor_version AND invoice_id > :cursor_id)"
            " ORDER BY change_version, invoice_id LIMIT :limit"
        )
    hdr_fields = "".join(f", hdr.{c} AS {c}" for c in header_cols)
    return f"""
WITH changes AS (
  SELECT * FROM {{log}}{in_range}
), changed AS (
  SELECT key_id AS invoice_id, change_version, op FROM changes
  WHERE table_name = :header_table
  UNION ALL
  SELECT l.invoice_id, c.change_version, c.op FROM changes c
  JOIN (SELECT {model.line_key_expr} AS line_id, {pk} AS invoice_id FROM {{lines}}) l
    ON l.line_id = c.key_id
  WHERE c.table_name = :line_table
), latest AS (
  SELECT invoice_id, max(struct(change_version, op)) AS m FROM changed
  GROUP BY invoice_id
), batch AS (
  {batch}
), parts AS (
  SELECT invoice_id, change_version, op, NULL AS hdr, NULL AS line FROM batch
  UNION ALL
  SELECT h.{hk}, NULL, NULL, struct({", ".join(f"h.{c}" for c in [hk, *header_cols])}), NULL
  FROM {{header}} h LEFT SEMI JOIN batch b ON h.{hk} = b.invoice_id
  UNION ALL
  SELECT l.{pk}, NULL, NULL, NULL, struct({", ".join(f"l.{c}" for c in line_cols)})
  FROM {{lines}} l LEFT SEMI JOIN batch b ON l.{pk} = b.invoice_id
), keyed AS (
  SELECT invoice_id, first(change_version, true) AS change_version,
         first(op, true) AS op, first(hdr, true) AS hdr,
         array_sort(collect_list(line)) AS lines
  FROM parts GROUP BY invoice_id
)
SELECT invoice_id, change_version,
  IF(hdr IS NULL, NULL, concat(CAST(invoice_id AS STRING), '_v',
     CAST(change_version AS STRING), '.json')) AS doc_filename,
  IF(hdr IS NULL, NULL, to_json(struct(
     invoice_id, change_version, op{hdr_fields}, lines))) AS doc_json
FROM keyed
"""


def _documents(
    session: SparkSession,
    model: InvoiceModel,
    changes: DataFrame,
    header: DataFrame,
    lines: DataFrame,
    bounds: dict | None = None,
) -> DataFrame:
    """The documents frame of ``_documents_sql``: the change frame, header
    and lines go in as ``spark.sql`` DataFrame arguments and the cursor
    and watermark as named parameter markers. ``bounds`` (``from_version``,
    ``to_version``, ``cursor_version``, ``cursor_id``, ``limit``) selects
    the pull's bounded batch; without it every key of ``changes`` is
    batched (a stream micro-batch)."""
    args = {"header_table": cl.HEADER_TABLE, "line_table": cl.LINE_TABLE, **(bounds or {})}
    return session.sql(
        _documents_sql(model, bounds is not None), args=args,
        log=changes, header=header, lines=lines,
    )


def _atomic_write(path: str, data, mode: str = "w") -> None:
    """Write-then-rename with tmp cleanup on ANY failure — a poison
    record must not leave a stray ``.tmp`` behind in the sink dir."""
    tmp = os.path.join(
        os.path.dirname(path), f".{os.path.basename(path)}.tmp"
    )
    try:
        with open(tmp, mode) as f:
            f.write(data)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def _segregate_error(error_dir: str, fname: str, payload, exc: Exception) -> None:
    """Failed-document segregation (invoice-api/server.js:33-42's error
    directory, 183-203's per-record loop): the poison record lands in
    ``error_dir`` as ``<fname>.error`` with the failure reason and raw
    payload, and the batch continues — one bad record must not wedge the
    feed. Atomic rename like the main sink.

    The evidence NAME is sanitized (path separators and other hostile
    characters replaced): a record poisoned precisely BECAUSE its
    filename is malformed must not crash the segregation path too — the
    original filename survives verbatim inside the evidence JSON."""
    os.makedirs(error_dir, exist_ok=True)
    safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in fname)
    if safe != fname:
        # sanitization can collide ('a/b.json' and 'a?b.json' both map to
        # 'a_b.json') and _atomic_write's os.replace would silently
        # overwrite the earlier record's evidence — suffix a hash of the
        # RAW name so every distinct poison filename keeps its own file
        import hashlib

        safe = f"{safe}.{hashlib.md5(fname.encode()).hexdigest()[:8]}"
    _atomic_write(
        os.path.join(error_dir, f"{safe}.error"),
        json.dumps(
            {
                "doc_filename": fname,
                "error": f"{type(exc).__name__}: {exc}",
                "payload": payload if isinstance(payload, str) else None,
            }
        ),
    )


def _deliver(docs, out_dir: str, error_dir: str | None, write_one) -> int:
    """Per-record delivery of ``(doc_filename, doc_json)`` pairs from the
    driver. ``write_one(out_dir, fname, payload)`` does the format-specific
    write. With ``error_dir`` set, a record whose write raises is
    segregated there and the batch CONTINUES; without it, the exception
    propagates and fails the batch. Returns the number of documents
    DELIVERED (excluding segregated errors), so the advance-only-on-success
    guard sees true totals."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for fname, js in docs:
        try:
            write_one(out_dir, fname, js)
            n += 1
        except Exception as exc:  # noqa: BLE001 — segregation path
            if error_dir is None:
                raise
            _segregate_error(error_dir, fname, js, exc)
    return n


def _write_json(out_dir: str, fname: str, js) -> None:
    _atomic_write(os.path.join(out_dir, fname), js)


def _write_bson(out_dir: str, fname: str, js) -> None:
    from sql_cdc_spark.functions import bsoncodec

    fname = fname.removesuffix(".json") + ".bson"
    data = bsoncodec.encode_document(json.loads(js))
    _atomic_write(os.path.join(out_dir, fname), data, mode="wb")


def _local_docs(docs: DataFrame):
    """A documents frame's ``(doc_filename, doc_json)`` pairs, streamed to
    the driver one partition at a time."""
    return docs.select("doc_filename", "doc_json").toLocalIterator()


def write_documents(
    docs: DataFrame, out_dir: str, error_dir: str | None = None
) -> int:
    """Per-record JSON document sink, written from the driver.
    Deterministic filenames make re-writes idempotent (at-least-once
    delivery upgraded to effectively-exactly-once, SURVEY.md §7 hard-part
    1). With ``error_dir``, per-record failures are segregated there and
    the batch continues (server.js:33-42); the cursor still advances over
    the full batch — an errored record is consumed, its evidence parked
    for operator replay. Returns the number of documents DELIVERED
    (excluding segregated errors)."""
    return _deliver(_local_docs(docs), out_dir, error_dir, _write_json)


def write_documents_partitioned(docs: DataFrame, out_dir: str, batch_id: int) -> int:
    """Scale-mode document sink: one JSON part-file set per batch under
    ``batch_id=N/``, written with overwrite — replaying a failed batch
    rewrites the same directory, so delivery is idempotent without
    per-record filenames. This is the 100 TB path (bounded file count,
    partition-parallel, no per-row driver work); the per-record sink above
    is the strict reference-parity mode. The document count rides the
    write job (an Observation), so the batch is evaluated once."""
    from pyspark.sql import Observation

    path = os.path.join(out_dir, f"batch_id={int(batch_id)}")
    obs = Observation("partitioned_docs")
    docs.select("doc_filename", "doc_json").observe(
        obs, F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").json(path)
    return int(obs.get["n"])


class StaleCursorError(RuntimeError):
    """A consumer's cursor predates the changelog retention floor: the
    changes between its cursor and the floor are GONE, so an incremental
    pull would silently skip them. The consumer must reset and re-sync
    from a base snapshot — the CHANGE_TRACKING_MIN_VALID_VERSION contract
    of the reference's backing store (setup-invoice-db.sql:70-72's
    retention window), surfaced as an error instead of silent loss."""


def pull_batch(
    spark: SparkSession,
    log_dir: str | DataFrame,
    consumer: str,
    registry: SyncStateRegistry,
    header: DataFrame,
    lines: DataFrame,
    model: InvoiceModel,
    out_dir: str,
    limit: int = 1000,
    fail_sink: bool = False,
    error_dir: str | None = None,
) -> BatchResult:
    """One checkpointed incremental pull (invoice-api/server.js:83-365):

    1. read consumer cursor (auto-create)              server.js:100-125
    2. snapshot watermark = current version            storedprocedure.sql:11-12
    3. inclusive re-scan from last_sync_version        server.js:134
    4. collapse to latest-per-invoice ≤ watermark      storedprocedure.sql:14-34
    5. composite keyset filter (version, invoice)      server.js:165-168
    6. bounded ordered batch                           storedprocedure.sql:35,56
    7. assemble + write documents (idempotent names)   server.js:183-203
    8. advance cursor only if sink succeeded           server.js:231-249

    ``fail_sink`` injects a sink failure (for resume tests).

    ``log_dir`` is a parquet log directory, OR a ready changelog
    DataFrame in the same (table_name, key_id, change_version, op, …)
    convention — e.g. a partitioned JDBC read of the change-tracking
    table living in an RDBMS (sources/jdbc.py), the reference's literal
    deployment. A DataFrame source has no retention marker; its
    retention contract belongs to the backing store.
    """
    t0 = time.time()
    stage_ms: dict[str, float] = {}

    state = registry.read(consumer)
    stage_ms["read_state"] = (time.time() - t0) * 1000

    # validity gate (server-side min-valid-version check): the inclusive
    # tie re-read below needs the cursor VERSION itself still retained —
    # a cursor below the floor means expired, unconsumed changes, and
    # advancing past them would be silent data loss
    floor = 0 if isinstance(log_dir, DataFrame) else cl.retention_floor(log_dir)
    if floor and state.last_sync_version < floor:
        raise StaleCursorError(
            f"consumer {consumer!r} cursor version "
            f"{state.last_sync_version} predates the retention floor "
            f"{floor}; reset_consumer() and re-sync from a base snapshot"
        )

    t1 = time.time()
    if isinstance(log_dir, DataFrame):
        changes = log_dir
        row = changes.agg(F.max("change_version")).first()
        to_version = int(row[0] or 0)
    else:
        to_version = cl.current_version(spark, log_dir)
        changes = cl.read_changelog(spark, log_dir)
    # inclusive re-read of the cursor version (ties may straddle a batch
    # boundary), snapshot-bounded above; one action brings the batch's
    # rows — documents included — to the driver
    docs = _documents(spark, model, changes, header, lines, {
        "from_version": state.last_sync_version, "to_version": to_version,
        "cursor_version": state.last_sync_version,
        "cursor_id": state.last_processed_id, "limit": limit,
    })
    rows = docs.toArrow().to_pylist()
    stage_ms["query"] = (time.time() - t1) * 1000

    if not rows:
        return BatchResult(
            consumer, state.last_sync_version, to_version, 0, False,
            state.last_sync_version, state.last_processed_id, stage_ms,
        )
    if fail_sink:
        raise OSError("injected sink failure")

    t2 = time.time()
    written = _deliver(
        ((r["doc_filename"], r["doc_json"]) for r in rows if r["doc_filename"] is not None),
        out_dir, error_dir, _write_json,
    )
    stage_ms["sink"] = (time.time() - t2) * 1000

    # The cursor advances over the WHOLE batch: a batched key with no
    # header row (deleted invoice, op='D') produces no document, but it is
    # still consumed — otherwise a log tail of dropped keys would never
    # advance the cursor and every future poll would re-scan it forever.
    # has_more likewise counts every batched key, so a batch made entirely
    # of dropped keys keeps drain() moving. (The reference sproc limits
    # AFTER joining InvoiceHeader, sqls/storedprocedure.sql:35,55-56, so
    # its deleted keys never enter the batch; advancing past them here is
    # the equivalent no-starvation guarantee.) Advance to the batch's last
    # (version, key) (server.js:235-249) — only reached when the sink
    # succeeded.
    t3 = time.time()
    last_version, last_id = max((r["change_version"], r["invoice_id"]) for r in rows)
    registry.advance(consumer, last_version, last_id)
    stage_ms["update_state"] = (time.time() - t3) * 1000

    total_s = time.time() - t0
    return BatchResult(
        consumer=consumer,
        from_version=state.last_sync_version,
        to_version=to_version,
        processed=written,
        has_more=len(rows) == limit,
        last_version=last_version,
        last_id=last_id,
        stage_ms=stage_ms,
        docs_per_second=written / total_s if total_s > 0 else 0.0,
    )


def drain(
    spark: SparkSession,
    log_dir: str | DataFrame,
    consumer: str,
    registry: SyncStateRegistry,
    header: DataFrame,
    lines: DataFrame,
    model: InvoiceModel,
    out_dir: str,
    limit: int = 1000,
    max_batches: int = 1000,
) -> list[BatchResult]:
    """Drain-until-empty loop (invoice-api/consumer.js:34-37 'immediate
    re-poll while hasMore') — the batch analog of trigger(availableNow)."""
    results = []
    for _ in range(max_batches):
        res = pull_batch(
            spark, log_dir, consumer, registry, header, lines, model, out_dir, limit
        )
        results.append(res)
        if not res.has_more:
            break
    return results


def run_available_now(
    spark: SparkSession,
    log_dir: str,
    consumer: str,
    header: DataFrame,
    lines: DataFrame,
    model: InvoiceModel,
    out_dir: str,
    checkpoint_root: str,
    registry: SyncStateRegistry | None = None,
    max_files_per_trigger: int | None = None,
    timeout_s: int = 300,
    doc_format: str = "json",
    error_dir: str | None = None,
) -> dict:
    """Structured Streaming form: the change log drained through
    ``feed.drain_feed`` with one checkpointLocation per consumer name (T6:
    independent named consumers = independent checkpoints; T7 reset =
    delete the dir). Each micro-batch runs the pull's statement unbounded
    and writes its documents through the idempotent per-document sink;
    the drain's state is the running document count.

    trigger(availableNow=True) drains everything present then stops —
    the reference's poll-until-hasMore loop, minus the hand-rolled cursor:
    exact file-source offsets in the checkpoint replace (version, id).
    ``max_files_per_trigger`` is the backpressure bound — the reference's
    ``limit`` analog (T8). With a ``registry``, every non-empty
    micro-batch advances the consumer's cursor to its last (version,
    key), header-less and segregated keys included, as ``pull_batch``
    does, so ``consumer_lag`` sees what the stream consumed.

    ``doc_format="bson"`` writes reference-parity .bson files
    (invoice-api/server.js:62-80) through the same idempotent sink.

    A stream still running after ``timeout_s`` is stopped and
    ``TimeoutError`` raised; its checkpoint resumes it on the next call.
    Returns ``{"batches", "documents"}``.
    """
    if doc_format not in ("json", "bson"):
        raise ValueError(f"doc_format must be 'json' or 'bson', got {doc_format!r}")
    write_one = _write_bson if doc_format == "bson" else _write_json
    # A micro-batch runs in the stream's own session, cloned at start():
    # header and lines reach it as temp views registered before start.
    views = {k: f"_cdc_{k}_{uuid.uuid4().hex}" for k in ("header", "lines")}
    header.createOrReplaceTempView(views["header"])
    lines.createOrReplaceTempView(views["lines"])

    def _apply(documents: int, batch_df: DataFrame, _batch_id: int) -> int:
        session = batch_df.sparkSession
        docs = _documents(session, model, batch_df, session.table(views["header"]),
                          session.table(views["lines"]))
        last = None

        def _rows():
            # one pass over the batch's rows: documents to the sink, every
            # key (header-less ones too) to the cursor
            nonlocal last
            for r in docs.toLocalIterator():
                key = (r.change_version, r.invoice_id)
                if last is None or key > last:
                    last = key
                if r.doc_filename is not None:
                    yield r.doc_filename, r.doc_json

        n = _deliver(_rows(), out_dir, error_dir, write_one)
        # the cursor covers the whole batch, as in pull_batch; a batch
        # with no rows has nothing to advance to
        if registry is not None and last is not None:
            registry.advance(consumer, *last)
        return documents + n

    try:
        documents, batches = drain_feed(
            spark, log_dir, cl.CHANGELOG_SCHEMA, os.path.join(checkpoint_root, consumer),
            0, _apply, max_files_per_trigger=max_files_per_trigger, timeout_s=timeout_s,
        )
    finally:
        for name in views.values():
            spark.catalog.dropTempView(name)
    return {"batches": batches, "documents": documents}


def reset_consumer(registry: SyncStateRegistry, checkpoint_root: str, consumer: str) -> None:
    """T7: rewind a named consumer to the beginning — registry row back to
    (0,0) and the streaming checkpoint removed (server.js:424-451)."""
    import shutil

    registry.reset(consumer)
    chk = os.path.join(checkpoint_root, consumer)
    if os.path.exists(chk):
        shutil.rmtree(chk)


def consumer_lag(
    spark: SparkSession, registry: "SyncStateRegistry", log_dir: str | DataFrame
) -> DataFrame:
    """Ops visibility: per registered consumer, the composite cursor, the
    log's current high watermark, the version lag, and the EXACT count of
    pending change rows — pending under the same composite
    (version, key) order ``pull_batch`` consumes in, so the number is the
    true backlog, not an approximation. The report an operator reads
    before scaling consumers or tuning batch limits (the reference's
    sync-state table joined against CHANGE_TRACKING_CURRENT_VERSION).

    One pass over the log: the (tiny, control-plane) consumer table is
    broadcast against the changes and both the pending flag and the
    global watermark aggregate per consumer with map-side combine —
    never one scan per consumer. Consumers with an empty backlog still
    emit a row; an empty log reports watermark 0 for everyone."""
    from sql_cdc_spark.streaming import changelog as cl

    rows = [
        (c.sync_name, c.last_sync_version, c.last_processed_id)
        for c in registry.list_consumers()
    ]
    schema = "sync_name string, cursor_version long, cursor_id long"
    cdf = spark.createDataFrame(rows, schema)
    # cold start: consumers can register before the first change is ever
    # written — a missing log is an empty log (watermark 0, no backlog),
    # not an error
    missing = not isinstance(log_dir, DataFrame) and not os.path.isdir(log_dir)
    if not rows or missing:
        return cdf.select(
            "sync_name", "cursor_version", "cursor_id",
            F.lit(0).cast("long").alias("current_version"),
            F.greatest(
                F.lit(0).cast("long") - F.col("cursor_version"),
                F.lit(0).cast("long"),
            ).alias("version_lag"),
            F.lit(0).cast("long").alias("pending_changes"),
            F.lit(False).alias("cursor_stale"),
        ).orderBy("sync_name")
    if isinstance(log_dir, DataFrame):
        floor, changes = 0, log_dir
    else:
        floor = cl.retention_floor(log_dir)
        changes = cl.read_changelog(spark, log_dir)
    v, k = F.col("change_version"), F.col("key_id")
    pending = (v > F.col("cursor_version")) | (
        (v == F.col("cursor_version")) & (k > F.col("cursor_id"))
    )
    report = (
        changes.crossJoin(F.broadcast(cdf))
        .groupBy("sync_name", "cursor_version", "cursor_id")
        .agg(
            F.sum(F.when(pending, 1).otherwise(0)).alias("pending_changes"),
            F.max("change_version").alias("current_version"),
        )
    )
    return (
        cdf.join(report.select("sync_name", "pending_changes", "current_version"),
                 "sync_name", "left")
        .select(
            "sync_name",
            "cursor_version",
            "cursor_id",
            F.coalesce("current_version", F.lit(0)).alias("current_version"),
            F.greatest(
                F.coalesce("current_version", F.lit(0)) - F.col("cursor_version"),
                F.lit(0).cast("long"),
            ).alias("version_lag"),
            F.coalesce("pending_changes", F.lit(0)).alias("pending_changes"),
            # stale = pull_batch would refuse this cursor (StaleCursorError)
            (F.lit(floor > 0) & (F.col("cursor_version") < F.lit(floor))).alias(
                "cursor_stale"
            ),
        )
        .orderBy("sync_name")
    )


def retry_failed_documents(out_dir: str, error_dir: str) -> tuple[int, int]:
    """Operator replay for the failed-document error directory: re-attempt
    delivery of every parked ``.error`` record whose raw payload was
    captured, writing it to ``out_dir`` under its original filename
    (atomic, idempotent — same deterministic name the sink would have
    used) and removing the evidence file on success. Records parked
    without a payload stay parked (nothing to deliver), as do records
    whose evidence file is unreadable or whose recorded filename would
    escape ``out_dir`` (absolute or ``..`` paths — the filename is data,
    and a record was often parked precisely because it is malformed).
    Returns (delivered, still_parked).

    Control-plane sized by construction — errors are the exception path —
    so this is a driver-side loop, not a Spark job."""
    if not os.path.isdir(error_dir):
        return 0, 0
    delivered, parked = 0, 0
    os.makedirs(out_dir, exist_ok=True)
    out_root = os.path.realpath(out_dir)
    for fn in sorted(os.listdir(error_dir)):
        if not fn.endswith(".error"):
            continue
        path = os.path.join(error_dir, fn)
        try:
            with open(path) as f:
                rec = json.load(f)
            payload = rec.get("payload")
            doc_filename = rec.get("doc_filename")
        except (OSError, ValueError):
            # corrupt/foreign evidence file: park it, keep the loop alive
            parked += 1
            continue
        if payload is None or not isinstance(doc_filename, str):
            parked += 1
            continue
        # the recorded filename is DATA — refuse any form that resolves
        # outside the sink directory instead of delivering it there
        target = os.path.realpath(os.path.join(out_root, doc_filename))
        if os.path.dirname(target) != out_root:
            parked += 1
            continue
        try:
            _atomic_write(target, payload)
        except Exception:  # noqa: BLE001 — still-failing records stay parked
            parked += 1
            continue
        os.remove(path)
        delivered += 1
    return delivered, parked


def compact_documents(spark: SparkSession, out_dir: str, parquet_dir: str) -> int:
    """Compact the per-record JSON document directory into parquet — the
    small-files answer at scale (T9-adjacent): the per-record sink is the
    reference-parity delivery format; long-term storage re-compacts to a
    columnar table (one file per partition instead of one per invoice).
    Returns the number of compacted documents, counted by an Observation
    riding the write job itself — ONE pass over the data, no second scan
    of the freshly written output.

    A directory with no documents yet (cold start, or everything
    segregated) compacts to 0 without writing: the documents are
    schema-free JSON, so there is no schema to give an empty parquet."""
    from pyspark.sql import Observation

    if not any(
        f.endswith(".json")
        for f in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
    ):
        return 0

    obs = Observation("compact_count")
    docs = spark.read.json(out_dir).observe(obs, F.count(F.lit(1)).alias("n"))
    docs.write.mode("overwrite").parquet(parquet_dir)
    return int(obs.get["n"])


def expire_changelog(
    spark: SparkSession, log_dir: str, min_version: int
) -> int:
    """Change-retention cleanup (T9, setup-invoice-db.sql:70-72's 3-day
    auto-cleanup): drop change rows below min_version. Consumers whose
    cursor is older than min_version must reset — same constraint the
    reference documents, and ENFORCED here: the floor is recorded in the
    log (``changelog.retention_floor``) and pull_batch raises
    StaleCursorError for cursors below it instead of silently skipping
    the expired range. Rewrites the log atomically: the compacted copy is
    staged in a sibling directory (same filesystem, so both os.replace
    calls are atomic renames — never EXDEV), and the ``.expired`` backup of
    the old log is deleted only after the new log is in place, so a crash
    at any point leaves either the old or the new log recoverable.
    Returns rows retained."""
    import shutil
    import tempfile

    from sql_cdc_spark.streaming import changelog as cl

    from pyspark.sql import Observation

    obs = Observation("expire_kept")
    kept = (
        cl.read_changelog(spark, log_dir)
        .filter(F.col("change_version") >= min_version)
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    # capture the CURRENT floor before anything is destroyed: the marker
    # lives inside the old log dir, so reading it after the swap would
    # see 0 and let a lower min_version silently lower the floor — the
    # exact monotone-floor contract this function exists to enforce
    old_floor = cl.retention_floor(log_dir)
    parent = os.path.dirname(os.path.abspath(log_dir.rstrip("/")))
    tmp = tempfile.mkdtemp(prefix="changelog_compact_", dir=parent)
    new_dir = os.path.join(tmp, "log")
    kept.write.parquet(new_dir)
    # retained-row count rides the write job itself (same single-pass
    # pattern as compact_documents) — no second scan of the new log
    n = obs.get["n"]
    # stage the floor marker INSIDE the new log before the swap, so the
    # floor is never absent while expired rows are gone: a crash at any
    # point leaves a dir whose marker matches its contents
    cl.write_retention_floor(new_dir, max(old_floor, int(min_version)))
    old = log_dir.rstrip("/") + ".expired"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.replace(log_dir, old)
    try:
        os.replace(new_dir, log_dir)
    except OSError:
        # roll the old log back so the path never dangles
        os.replace(old, log_dir)
        raise
    shutil.rmtree(old)
    shutil.rmtree(tmp, ignore_errors=True)
    return int(n)


def list_documents(spark: SparkSession, out_dir: str, suffix: str = ".json") -> DataFrame:
    """S7: document-directory listing source — path/size/mtime newest
    first (invoice-api/server.js:368-398), via the binaryFile reader.
    ``suffix=".bson"`` lists a BSON-mode sink (the reference's own
    filter, server.js:373)."""
    return (
        spark.read.format("binaryFile")
        .load(out_dir)
        .filter(F.col("path").endswith(suffix))
        .select("path", F.col("length").alias("size_bytes"), "modificationTime")
        .orderBy(F.col("modificationTime").desc(), F.col("path"))
    )


def read_document(out_dir: str, filename: str) -> dict:
    """S8: single-document reader (invoice-api/server.js:401-421).
    Dispatches on extension: ``.bson`` files decode via the BSON codec
    (BSON.deserialize, server.js:412), anything else parses as JSON."""
    path = os.path.join(out_dir, filename)
    if filename.endswith(".bson"):
        from sql_cdc_spark.functions import bsoncodec

        with open(path, "rb") as f:
            return bsoncodec.decode_document(f.read())
    with open(path) as f:
        return json.load(f)


def write_documents_bson(
    docs: DataFrame, out_dir: str, error_dir: str | None = None
) -> int:
    """Per-record BSON document sink — strict byte-parity mode with the
    reference's saveInvoiceAsBSON (invoice-api/server.js:62-80): each
    document becomes one ``.bson`` file whose bytes are what js-bson's
    BSON.serialize would produce for the same JSON. Same idempotent
    deterministic-filename and error-segregation contract as
    write_documents (a record whose JSON parse or BSON encode fails is a
    poison record too)."""
    return _deliver(_local_docs(docs), out_dir, error_dir, _write_bson)
