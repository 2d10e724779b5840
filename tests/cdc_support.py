"""Shared inputs of the CDC pipeline tests: the invoice model over the
TPC-H orders/lineitem tables, a change-log generator and a plain-Python
oracle of the latest change per invoice."""

import random

from sql_cdc_spark.streaming import changelog as cl
from sql_cdc_spark.streaming import pipeline as pl

MODEL = pl.InvoiceModel(
    header_key="o_orderkey",
    line_key_expr="l_orderkey * 8 + l_linenumber",
    line_parent_key="l_orderkey",
    header_cols=["o_custkey", "o_totalprice"],
    line_cols=["l_linenumber", "l_quantity", "l_extendedprice"],
    line_order_col="l_linenumber",
)


def _gen_changes(spark, tmp_path, n_rounds=3, keys=range(0, 40), seed=7):
    """Change log with header changes, line changes, repeats (multiple
    versions per key), and tie batches."""
    w = cl.ChangeLogWriter(spark, str(tmp_path / "changelog"), seed=seed)
    rng = random.Random(seed)
    expected_latest = {}  # invoice -> version
    for _ in range(n_rounds):
        rows = []
        for k in keys:
            if rng.random() < 0.5:
                rows.append((cl.HEADER_TABLE, k, rng.choice("IU")))
            if rng.random() < 0.5:
                ln = rng.randint(1, 7)
                rows.append((cl.LINE_TABLE, k * 8 + ln, "U"))
        rng.shuffle(rows)
        w.append(rows)
        # tie batch: several invoices share one version
        tie_keys = rng.sample(list(keys), 5)
        w.append_with_ties([(cl.HEADER_TABLE, k, "U") for k in tie_keys])
    return w


def _oracle_latest(spark, log_dir, lines):
    """Brute-force oracle in plain Python, independent of the pipeline:
    latest (version, op) per invoice from the raw log rows, each line
    change mapped to its invoice through the raw line rows (the line PK
    is ``l_orderkey * 8 + l_linenumber``, as in MODEL)."""
    parent = {
        r.l_orderkey * 8 + r.l_linenumber: r.l_orderkey
        for r in lines.select("l_orderkey", "l_linenumber").collect()
    }
    latest = {}
    for r in spark.read.parquet(log_dir).collect():
        if r.table_name == cl.HEADER_TABLE:
            invoice = r.key_id
        elif r.table_name == cl.LINE_TABLE and r.key_id in parent:
            invoice = parent[r.key_id]
        else:
            continue
        cur = latest.get(invoice)
        if cur is None or (r.change_version, r.op) > cur:
            latest[invoice] = (r.change_version, r.op)
    return latest
