"""Query registry backing the driver contract (``__spark_entry__.py``).

Each implemented operator from SURVEY.md §2 registers a named query
callable ``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a
DuckDB oracle SQL string computing the same result on the same parquet
tables. Column names must match exactly (the driver sorts columns by name
and hashes values); every computed column is aliased identically on both
sides, and doubles are rounded identically on both sides so the
order-insensitive value hash is stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a driver-facing query; ``oracle`` is DuckDB SQL or None for
    non-SQL-expressible ops (driver then records a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side-effects run;
    ``QUERIES`` keeps module registration order."""
    from .queries import (  # noqa: F401
        analytics,
        carprice,
        corpus,
        events,
        llmdata,
        mining,
        mlmodels,
        pricing,
        quality,
        relational,
        sourcesio,
        statistics,
        trends,
        windows,
    )
