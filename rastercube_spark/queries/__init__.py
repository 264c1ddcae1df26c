"""Declared query surface (SURVEY.md §2.9).

Importing this package registers every query in the registry. Each module
covers one block of the surface; each query has a Spark implementation
(DataFrame-first so Catalyst optimizes it) and, where SQL-expressible, a
DuckDB oracle string.
"""

# Import order is the registration order: registry.queries() and
# registry.oracle_sql() list the queries module by module in this order.
from rastercube_spark.queries import (  # noqa: F401
    aggregations,
    datapipe,
    joins,
    raster,
    scalars,
    scans,
    setops,
    sortlimit,
    streaming,
    udfs,
    windows,
)
