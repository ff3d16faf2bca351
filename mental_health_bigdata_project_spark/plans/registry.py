"""Registration plumbing for the query/oracle registry.

Every query is a function ``(spark: SparkSession, sf_dir: str) -> DataFrame``
plus (when SQL-expressible) a DuckDB oracle SQL string over the driver's
pre-registered views (region nation customer supplier part orders
lineitem events documents embeddings).

Conventions that keep the driver's order-insensitive value-hash stable
across Spark and DuckDB (see SURVEY.md §5.2):

- Every computed column is aliased identically on both sides.
- SUM/AVG over *double* columns are exact and convert to DOUBLE once:
  float summation order is nondeterministic under parallelism.  The
  oracle SQL sums DECIMAL(18,s) casts (``dsum_sql``/``davg_sql``); the
  Spark side sums the same values as exact 64-bit integer units
  (``plans.common``: ``units``, ``lsum``, ``dsum``, ``davg``), so both
  hold the same decimal before the one conversion.  A computed double
  is rounded with ``round(x, s)`` before either side takes its units.
- Ties at LIMIT / row_number boundaries always carry a deterministic
  tiebreak key.
- ``events.ts`` is CAST(ts AS TIMESTAMP) in oracle SQL.  The testdata
  stores it as parquet MICROS; for a file storing NANOS the cast
  matches the engine's ns->us truncation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(qid: str, oracle: str | None = None):
    """Decorator: register a query builder (and optional oracle SQL)."""
    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[qid] = fn
        if oracle is not None:
            ORACLES[qid] = oracle
        return fn
    return wrap


# --- shared SQL fragments ------------------------------------------------

# events with ts normalized to microseconds (matches sources.tables).
EVENTS_TS = ("(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
             "event_type, value, props FROM events)")


def dsum_sql(col: str, alias: str, scale: int = 2) -> str:
    """Deterministic double-sum: CAST(SUM(CAST(c AS DECIMAL)) AS DOUBLE)."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def davg_sql(col: str, alias: str, scale: int = 2) -> str:
    """Deterministic double-avg: exact decimal sum, one double division."""
    return (f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE)"
            f" / COUNT({col}) AS {alias}")
