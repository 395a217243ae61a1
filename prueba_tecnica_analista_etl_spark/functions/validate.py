"""Validation rule classifiers (F3-F5, U1/U2).

The reference validates emails with a row-wise ``re.match`` lambda and
phones with a named Python UDF (``validar_telefono``). Policy rewrite:
both are pure when-chain/rlike expressions (JVM-side).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Anchored (rlike is substring-match); Java-regex compatible.
EMAIL_RE = r"^[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}$"


def email_valid(c: Column) -> Column:
    """Boolean email validity (F3; ``nb:79`` semantics incl. trim).

    NULL input classifies as **False**, not NULL: the reference's
    ``.astype(str)`` path turns missing emails into the literal string
    ``"nan"`` (invalid), so downstream ``== False`` filters must see
    missing emails as invalid too — a bare ``rlike`` would propagate
    NULL and silently drop them from both sides.
    """
    return F.coalesce(F.trim(c).rlike(EMAIL_RE), F.lit(False))


def phone_status(c: Column) -> Column:
    """Phone classification when-chain (F5; ``validar_telefono``):
    cleaned 10-digit starting '3' → Celular, 10-digit starting '601' →
    Fijo, else 'No Apto'. Input must already be digit-cleaned."""
    is_digits = c.rlike("^[0-9]+$")
    ten = F.length(c) == 10
    return (
        F.when(is_digits & ten & c.startswith("3"), F.lit("Celular"))
        .when(is_digits & ten & c.startswith("601"), F.lit("Fijo"))
        .otherwise(F.lit("No Apto"))
    )

