"""Query registry: named (Spark plan, DuckDB oracle SQL) pairs.

``plans.queries`` is the FUNCTION ``queries()``, the registry's public
entry point (``__spark_entry__.queries`` calls it). Importing it here
shadows the submodule of the same name, so ``plans.queries.QUERIES``
raises ``AttributeError``; reach the module with
``importlib.import_module("w4h_integrated_toolkit_spark.plans.queries")``.
Its ``QUERIES`` is the same dict as ``plans.QUERIES``.
"""

from .queries import QUERIES, oracle_sql, queries  # noqa: F401
