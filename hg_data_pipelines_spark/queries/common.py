"""Shared helpers for declared queries.

Determinism rules (SURVEY.md §7.2, FIXTURES.md §3) implemented here:

- **Float sums must be order-independent.** A plain double SUM over 60k rows
  accumulates ~1e-5 of association-order noise — enough to flip a value hash.
  ``dsum`` casts to DECIMAL(38,6) before summing (exact, commutative) and
  casts the exact total back to double; the SQL oracles use the literal
  ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`` equivalent. Scale 6 keeps
  cast-rounding away from representable halfway points for 2-3dp data.
- **Every window/top-k order includes a unique tiebreak key** so row_number /
  LIMIT are total-order deterministic on both engines.
- **Nondeterministic columns (uuid) never appear in declared output.**
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query (and its DuckDB oracle, if expressible)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, *names: str, scan_parallel: bool | str = False):
    """Load one or more TESTDATA tables (schema-enforced parquet scans).

    ``scan_parallel=True`` opts this call site into the small-input scan
    repartition (io.py) — use it only when the map side above the scan is
    compute-dense (shingling, tokenizing, vector kernels), never for cheap
    filter/project/hash-aggregate plans that re-shuffle immediately anyway.
    """
    dfs = tuple(load_table(spark, sf_dir, n, scan_parallel=scan_parallel) for n in names)
    return dfs[0] if len(dfs) == 1 else dfs


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent double sum via exact DECIMAL(38,6) accumulation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,6)")).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent mean: exact decimal sum divided by count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast("decimal(38,6)")).cast("double") / F.count(c)
    ).alias(alias)


# SQL-side templates for the same two aggregations (DuckDB dialect == ANSI).
def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
