"""Correctness checks, run outside every timed region. Each returns a list
of problems; an empty list is a pass."""

from __future__ import annotations

import importlib.util
import json
import os
import random
import re
from collections import defaultdict
from fractions import Fraction

_DOC_NAME = re.compile(r"^(\d+)_v(\d+)\.json$")


def check_documents(out_dir: str, expected: set[tuple[int, int]]) -> list[str]:
    """Compare the delivered ``{invoice}_v{version}.json`` files with the
    expected (invoice, version) pairs. Reports missing files, stale files
    (an invoice delivered at a version it should not have, in place of the
    expected one), duplicates (an extra version beside the expected one),
    extra invoices, and stray files."""
    got: set[tuple[int, int]] = set()
    problems = []
    names = os.listdir(out_dir) if os.path.isdir(out_dir) else []
    for name in names:
        m = _DOC_NAME.match(name)
        if m:
            got.add((int(m.group(1)), int(m.group(2))))
        else:
            problems.append(f"stray file {name}")
    exp_by_inv: dict[int, set[int]] = defaultdict(set)
    got_by_inv: dict[int, set[int]] = defaultdict(set)
    for inv, ver in expected:
        exp_by_inv[inv].add(ver)
    for inv, ver in got:
        got_by_inv[inv].add(ver)
    missing = expected - got
    for inv, ver in sorted(got - expected):
        want = exp_by_inv.get(inv)
        if want is None:
            problems.append(f"extra invoice {inv}_v{ver}")
        elif want - got_by_inv[inv]:
            problems.append(f"stale {inv}_v{ver} (expected v{sorted(want)})")
        else:
            problems.append(f"duplicate {inv}_v{ver} (expected v{sorted(want)})")
    problems.extend(f"missing {inv}_v{ver}" for inv, ver in sorted(missing))
    return problems


def check_cursor(state, expected: tuple[int, int]) -> list[str]:
    got = (state.last_sync_version, state.last_processed_id)
    return [] if got == expected else [f"cursor {state.sync_name} at {got}, expected {expected}"]


def check_document_content(out_dir: str, expected: dict[int, int], tables_dir: str,
                           sample: int, seed: int) -> list[str]:
    """Rebuild a seeded sample of delivered documents with DuckDB straight
    from the generated parquet — header plus lines sorted by l_linenumber —
    and compare field by field with what the sink wrote."""
    import duckdb

    invs = sorted(expected)
    pick = sorted(random.Random(seed).sample(invs, min(sample, len(invs))))
    if not pick:
        return []
    con = duckdb.connect()
    try:
        rows = con.execute(f"""
            SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
                   list(struct_pack(l_linenumber := l.l_linenumber,
                                    l_quantity := l.l_quantity,
                                    l_extendedprice := l.l_extendedprice)
                        ORDER BY l.l_linenumber) AS lines
            FROM '{tables_dir}/orders.parquet' o
            JOIN '{tables_dir}/lineitem.parquet' l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IN ({','.join(map(str, pick))})
            GROUP BY ALL""").fetchall()
    finally:
        con.close()
    problems = []
    for okey, cust, total, lines in rows:
        path = os.path.join(out_dir, f"{okey}_v{expected[okey]}.json")
        try:
            with open(path) as f:
                doc = json.load(f)
        except OSError as exc:
            problems.append(f"unreadable {path}: {exc}")
            continue
        want = {"invoice_id": okey, "change_version": expected[okey], "op": "I",
                "o_custkey": cust, "o_totalprice": total, "lines": lines}
        if doc != want:
            problems.append(f"content {okey}: got {doc}, expected {want}")
    if len(rows) != len(pick):
        problems.append(f"DuckDB rebuilt {len(rows)} of {len(pick)} sampled invoices")
    return problems


def oracle_connection(tables_dir: str, names: list[str]):
    """A DuckDB connection with each generated table registered as a view
    under its own name, as the query oracles expect."""
    import duckdb

    con = duckdb.connect()
    for name in names:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tables_dir}/{name}.parquet'")
    return con


def _normalize_rows():
    """The row normaliser of the repository's oracle tests
    (``tests/conftest.py``), so results compare exactly as tier-1 compares
    them: columns by name, rows sorted, floats to 9 significant digits."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "oracle_conftest", os.path.join(root, "tests", "conftest.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.normalize_rows


def check_query(cols: list[str], rows: list[tuple], con, sql: str,
                tie=None) -> tuple[list[str], list[str]]:
    """Compare a query's collected result with its DuckDB oracle: column
    names, row count, and the order-insensitive normalised values.

    ``tie(spark_row, oracle_row)``, given each differing row pair as a
    dict of normalised values by column, says whether the pair is a
    proven rounding tie (see ``quality_tie``). Returns the problems and,
    separately, the tied rows, which are reported but are not problems."""
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(cols) != sorted(duck_cols):
        return [f"columns {sorted(cols)} != oracle {sorted(duck_cols)}"], []
    if len(rows) != len(duck_rows):
        return [f"{len(rows)} rows != oracle {len(duck_rows)}"], []
    normalize_rows = _normalize_rows()
    names = sorted(cols)
    diff, ties = [], []
    for a, b in zip(normalize_rows(cols, rows), normalize_rows(duck_cols, duck_rows)):
        if a == b:
            continue
        pair = dict(zip(names, a)), dict(zip(names, b))
        if tie is not None and tie(*pair):
            ties.append(f"spark={a} oracle={b}")
        else:
            diff.append((a, b))
    problems = [f"{len(diff)} of {len(rows)} sorted rows differ; first: spark={diff[0][0]} "
                f"oracle={diff[0][1]}"] if diff else []
    return problems, ties


def exact_quality(text: str) -> Fraction:
    """The unrounded score of ``functions.text.quality_score`` in exact
    rational arithmetic: the same three capped terms over whitespace
    tokens, characters and ``the``/``a`` hits in the padded lower text."""
    n_tok = len(re.split(r"\s+", text.strip()))
    padded = f" {text.lower()} "
    stop = sum((len(padded) - len(padded.replace(w, ""))) // len(w) for w in (" the ", " a "))
    return (Fraction(4, 10) * min(Fraction(n_tok, 100), 1)
            + Fraction(3, 10) * min(Fraction(len(text) - n_tok + 1, n_tok) / 8, 1)
            + Fraction(3, 10) * min(Fraction(stop, n_tok) * 5, 1))


def quality_tie(text: str, spark: float, oracle: float) -> bool:
    """Whether ``spark`` and ``oracle`` are the two 6-decimal neighbours of
    an exact tie: the exact score of ``text`` lies halfway between them.

    The score is defined to 6 decimals, and on such a tie its double is
    only within an ulp of the half. Spark's ``round`` goes half-up on the
    double's shortest decimal form and DuckDB's on its binary value, so
    the two round the same score to opposite sides. Any other difference
    is no tie."""
    half = exact_quality(text) * 10**6
    lo, hi = sorted((round(spark * 10**6), round(oracle * 10**6)))
    return half.denominator == 2 and (lo, hi) == (half.numerator // 2, half.numerator // 2 + 1)
