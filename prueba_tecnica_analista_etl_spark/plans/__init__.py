"""Declared query plans (SURVEY.md §2.11) — the engine's contract.

``REGISTRY`` holds every query in registration order. The driver
window order is derived from the committed correctness records in
``__spark_entry__.order``.
"""

from prueba_tecnica_analista_etl_spark.plans.queries import (  # noqa: F401
    REGISTRY,
    QuerySpec,
    oracle_sql,
)

# Importing extension modules registers their queries (decorator
# side-effect on the shared REGISTRY).
from prueba_tecnica_analista_etl_spark.plans import extensions_text  # noqa: E402,F401
from prueba_tecnica_analista_etl_spark.plans import extensions_pipeline  # noqa: E402,F401
from prueba_tecnica_analista_etl_spark.plans import extensions_scale  # noqa: E402,F401
from prueba_tecnica_analista_etl_spark.plans import extensions_distributed  # noqa: E402,F401
