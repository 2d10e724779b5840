"""Named query registry — the driver contract surface.

Each domain module exports ``QUERIES: dict[str, QueryEntry]`` where a
QueryEntry pairs the Spark callable ``(spark, sf_dir) -> DataFrame`` with
its DuckDB oracle SQL (or None for non-SQL-expressible ops, which the
driver checks rows-only).

Column-name discipline: the driver's comparator sorts columns by name
before hashing, so every computed column is aliased identically in the
Spark plan and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class QueryEntry(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


def _registry() -> dict[str, QueryEntry]:
    # imports deferred so `import sql_cdc_spark.queries` stays cheap and a
    # syntax error in one domain module is easy to localize
    from . import (
        cdc_q,
        corpus_q,
        dedup_q,
        events_q,
        functions_q,
        multimodal_q,
        relational_q,
        scale_q,
        similarity_q,
        text_q,
        tpch_q,
        windows_q,
    )

    reg: dict[str, QueryEntry] = {}
    for mod in (
        relational_q,
        functions_q,
        windows_q,
        tpch_q,
        events_q,
        cdc_q,
        dedup_q,
        similarity_q,
        text_q,
        multimodal_q,
        scale_q,
        corpus_q,
    ):
        overlap = reg.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        reg.update(mod.QUERIES)
    return reg


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: entry.fn for name, entry in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: entry.oracle
        for name, entry in _registry().items()
        if entry.oracle is not None
    }
