"""Seeded input generator: the ten test tables (TPC-H-shaped ``orders`` /
``lineitem``, their dimensions, ``events``, ``documents`` and
``embeddings``) and CDC change logs over ``orders`` / ``lineitem``.

Everything here is numpy + pyarrow, so inputs exist before Spark starts and
the engine only ever receives generated files. The same ``seed`` always
gives the same tables and logs.

Scale follows TPC-H: ``sf=0.1`` is 150,000 orders and about 600,000 line
items (1 to 7 per order, numbered 1..n). Schemas match the ten test tables
``sql_cdc_spark.tables`` loads; change logs follow
``sql_cdc_spark.streaming.changelog.CHANGELOG_SCHEMA`` (line rows carry the
line key ``l_orderkey * 8 + l_linenumber``, never the invoice key).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = ["orders", "lineitem", "region", "nation", "customer", "supplier", "part",
               "events", "documents", "embeddings"]
CDC_TABLES = ["orders", "lineitem"]
HEADER_TABLE = "invoice_header"  # changelog.HEADER_TABLE
LINE_TABLE = "invoice_line"  # changelog.LINE_TABLE
LINE_KEY_MULT = 8  # line_id = l_orderkey * 8 + l_linenumber (1..7)
ZIPF_S = 1.2  # invoice skew of the update rounds

_US_PER_DAY = 86_400 * 1_000_000
_ORDER_EPOCH = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_EPOCH).days
_LOG_EPOCH_US = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
_EVENT_EPOCH = dt.datetime(2024, 1, 1)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = (["small", "large", "red", "blue", "hot", "cold", "green", "old"],
               ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"])
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
          "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
          "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
          "window"]
EMBED_DIM = 64


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLE_NAMES.index(name)])


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(values).take(pa.array(rng.choice(len(values), n, p=p)))


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us", tz=tz))


def _epoch_us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def _n_orders(sf: float) -> int:
    return max(10, int(1_500_000 * sf))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents of 10-99 words; one in twenty repeats an earlier
    document with " dup" appended, so near-duplicate search has pairs."""
    lengths = rng.integers(10, 100, n)
    words = np.asarray(_WORDS)[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            text[i] = text[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": pa.array(text),
        "lang": _pick(rng, _LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.fromiter(map(len, text), "int64", n),
    })


def line_counts(seed: int, sf: float) -> np.ndarray:
    """Lines per order of the generated ``lineitem`` (order key = index):
    what a change-log producer knows about the base tables."""
    return _rng(seed, "lineitem").integers(1, 8, _n_orders(sf))


def make_table(name: str, seed: int, sf: float) -> pa.Table:
    """One of ``TABLE_NAMES`` at scale ``sf``."""
    k = _n_orders(sf)
    rng = _rng(seed, name)
    n_cust, n_supp, n_part = max(10, k // 10), max(10, k // 150), max(10, k * 2 // 15)
    if name == "orders":
        days = rng.integers(0, _ORDER_DAYS, k)  # first draw: lineitem replays it
        return pa.table({
            "o_orderkey": np.arange(k, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, k).astype("int64"),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, k), 2),
            "o_orderdate": _ts(_epoch_us(_ORDER_EPOCH) + days * _US_PER_DAY),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], k),
        })
    if name == "lineitem":
        counts = rng.integers(1, 8, k)  # first draw: same as line_counts
        m = int(counts.sum())
        starts = np.repeat(np.cumsum(counts) - counts, counts)
        odays = _rng(seed, "orders").integers(0, _ORDER_DAYS, k)
        ship = np.repeat(odays, counts) + rng.integers(1, 122, m)
        return pa.table({
            "l_orderkey": np.repeat(np.arange(k, dtype="int64"), counts),
            "l_partkey": rng.integers(0, n_part, m).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, m).astype("int64"),
            "l_linenumber": (np.arange(m) - starts + 1).astype("int32"),
            "l_quantity": rng.integers(1, 51, m).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _ts(_epoch_us(_ORDER_EPOCH) + ship * _US_PER_DAY),
        })
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        return pa.table({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        })
    if name == "part":
        adj, noun = _PART_WORDS
        return pa.table({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2),
        })
    if name == "events":
        n = max(1000, k * 2 // 3)
        us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
        return pa.table({
            "event_id": np.arange(n, dtype="int64"),
            "ts": _ts(_epoch_us(_EVENT_EPOCH) + us),
            "user_id": rng.integers(0, max(10, k // 100), n).astype("int64"),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.round(rng.uniform(0.01, 500.0, n), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]),
        })
    if name == "documents":
        return _documents(rng, max(500, k // 30))
    if name == "embeddings":
        n = max(500, k // 75)
        vec = rng.standard_normal((n, EMBED_DIM)).astype("float32")
        vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        return pa.table({
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), EMBED_DIM).cast(
                pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype("int32"),
        })
    raise ValueError(f"unknown table {name!r}")


def write_tables(out_dir: str, seed: int, sf: float, names: list[str]) -> None:
    """Write ``{name}.parquet`` for each of ``names`` under ``out_dir``, the
    layout ``sql_cdc_spark.tables.load`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(make_table(name, seed, sf), os.path.join(out_dir, f"{name}.parquet"))


# -- change logs -------------------------------------------------------------


def changes_table(tables: np.ndarray, keys: np.ndarray, versions: np.ndarray,
                  ops: np.ndarray) -> pa.Table:
    """A change-log file in the CHANGELOG_SCHEMA convention. ``ts`` is
    derived from the version, so the file content is a function of the
    inputs only."""
    return pa.table({
        "table_name": pa.array(tables, pa.string()),
        "key_id": pa.array(keys, pa.int64()),
        "change_version": pa.array(versions, pa.int64()),
        "op": pa.array(ops, pa.string()),
        "ts": _ts(_LOG_EPOCH_US + versions * 1000, tz="UTC"),
    })


def insert_log(seed: int, counts: np.ndarray, n_invoices: int,
               invoices_per_file: int) -> list[pa.Table]:
    """``n_invoices`` invoices, sampled by seed, logged as inserts: each
    invoice's header row then its line rows, one version per row from 1,
    in a seeded invoice order. One file per ``invoices_per_file`` invoices."""
    rng = np.random.default_rng([seed, 100])
    inv = rng.choice(len(counts), n_invoices, replace=False).astype("int64")
    files, version = [], 1
    for lo in range(0, n_invoices, invoices_per_file):
        chunk = inv[lo:lo + invoices_per_file]
        per = counts[chunk] + 1  # header + lines
        m = int(per.sum())
        owner = np.repeat(chunk, per)
        pos = np.arange(m) - np.repeat(np.cumsum(per) - per, per)  # 0 = header
        is_header = pos == 0
        keys = np.where(is_header, owner, owner * LINE_KEY_MULT + pos)
        tables = np.where(is_header, HEADER_TABLE, LINE_TABLE)
        versions = np.arange(version, version + m, dtype="int64")
        files.append(changes_table(tables, keys, versions, np.full(m, "I")))
        version += m
    return files


def round_invoices(seed: int, counts: np.ndarray, n_invoices: int) -> np.ndarray:
    """The invoices the update rounds touch, in Zipf rank order (rank 0 is
    the hottest)."""
    rng = np.random.default_rng([seed, 200])
    return rng.choice(len(counts), n_invoices, replace=False).astype("int64")


def update_round(seed: int, round_no: int, counts: np.ndarray, invoices: np.ndarray,
                 rows: int, first_version: int) -> pa.Table:
    """One round of updates: ``rows`` change rows over ``invoices`` with
    Zipf(``ZIPF_S``) invoice skew — 80% line 'U', 15% header 'U', 5% header
    'D' — one version per row starting at ``first_version``."""
    rng = np.random.default_rng([seed, 300, round_no])
    p = 1.0 / np.arange(1, len(invoices) + 1) ** ZIPF_S
    inv = invoices[rng.choice(len(invoices), rows, p=p / p.sum())]
    kind = rng.choice(3, rows, p=[0.80, 0.15, 0.05])  # line U, header U, header D
    line_no = 1 + (rng.random(rows) * counts[inv]).astype("int64")
    keys = np.where(kind == 0, inv * LINE_KEY_MULT + line_no, inv)
    tables = np.where(kind == 0, LINE_TABLE, HEADER_TABLE)
    ops = np.where(kind == 2, "D", "U")
    versions = np.arange(first_version, first_version + rows, dtype="int64")
    return changes_table(tables, keys, versions, ops)


def latest_per_invoice(log: pa.Table) -> dict[int, int]:
    """invoice → highest change_version among its header and line rows —
    the collapse a pull performs, computed from the log alone."""
    keys = log["key_id"].to_numpy()
    line = np.asarray(log["table_name"].to_pylist()) == LINE_TABLE
    inv = np.where(line, keys // LINE_KEY_MULT, keys)
    ver = log["change_version"].to_numpy()
    order = np.lexsort((ver, inv))
    inv, ver = inv[order], ver[order]
    last = np.r_[inv[1:] != inv[:-1], True]
    return dict(zip(inv[last].tolist(), ver[last].tolist()))


def write_log_file(log_dir: str, index: int, table: pa.Table) -> str:
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, f"part-{index:05d}.parquet")
    tmp = os.path.join(log_dir, f".part-{index:05d}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)  # a file source must never list a partial file
    return path
