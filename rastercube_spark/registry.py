"""Query registry: the single source of truth for the declared query
surface (SURVEY.md §2.9).

Every operator the engine claims is registered here with a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the equivalent
DuckDB oracle SQL. ``__spark_entry__.py`` re-exports these to the driver.
Both maps keep registration order, which is the import order of
``rastercube_spark.queries``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation and (optionally) its oracle SQL.

    A name registers once: a second ``@query(name)`` raises ``ValueError``
    instead of silently replacing the first.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # Importing the package populates the registry via decorators.
    import rastercube_spark.queries  # noqa: F401


def queries() -> dict[str, QueryFn]:
    _load_all()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)
