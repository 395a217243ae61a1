"""Cleansing/casting scalar builders (F1-F2, F7-F10, F14).

The reference cleans stringly-typed data cell-by-cell in pandas
(strip/replace) and casts text→decimal with errors→0 in Power Query;
these are the equivalent Catalyst expressions (whole-stage-codegen'd,
no Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def digits_only(c: Column) -> Column:
    """Strip every non-digit (F2 generalization of the phone clean
    ``str.replace(r'[+\\-\\s]','')``)."""
    return F.regexp_replace(c, "[^0-9]", "")


def strip_phone_chars(c: Column) -> Column:
    """Exact reference phone clean: remove ``+``, ``-``, whitespace
    (``nb:100``)."""
    return F.regexp_replace(c, r"[+\-\s]", "")


def try_double_or_zero(c: Column) -> Column:
    """Text→double with errors→0 (F8): the Excel ``Col_10`` cast
    "Reemplazar errores con valor 0" — ``coalesce(try_cast, 0.0)``."""
    return F.coalesce(c.try_cast("double"), F.lit(0.0))


def json_long(c: Column, path: str) -> Column:
    """JSON field → BIGINT with errors→0 (F10+F8): schema-on-read for
    string-encoded props (testdata ``events.props``)."""
    return F.coalesce(
        F.get_json_object(c, path).try_cast("long"), F.lit(0)
    )
