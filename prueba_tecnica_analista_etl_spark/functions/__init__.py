"""Scalar function library (SURVEY.md §2.8) — native-expression
rewrites of the reference's string/regex/cast/JSON cleaning steps.
Everything here is a Column→Column builder (JVM-side, codegen'd);
UDF-free by policy (§2.10 U1/U2).
"""

from prueba_tecnica_analista_etl_spark.functions.cleanse import (
    digits_only,
    json_long,
    split_composite,
    try_double_or_zero,
)
from prueba_tecnica_analista_etl_spark.functions.validate import (
    email_valid,
    phone_status,
)

__all__ = [
    "digits_only",
    "try_double_or_zero",
    "split_composite",
    "json_long",
    "email_valid",
    "phone_status",
]
