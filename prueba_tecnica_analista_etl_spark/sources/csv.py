"""CSV family readers/writers (S1-S3, S6).

The reference ingests two dirty CSV families (SURVEY.md §1.3):
``;``-delimited with UTF-8 BOM and a *corrupt header row* (duplicate
column names), and ``,``-delimited (reference ``ETL_Prueba_Tecnica.ipynb``
load cell; ``seccion3_sql.sql:92-108``). The repair strategy matches the
reference's ``names=columnas, header=0`` semantic: the stored header row
is skipped and an explicit positional schema is applied — never trust
the embedded names (S2; two ``Col_7``s would otherwise collide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

N_FLIGHT_COLS = 19


def flights_schema(as_strings: bool = True) -> T.StructType:
    """The fixed-by-convention 19-column flights schema.

    Bronze layer is all-strings by design (the reference's
    VARCHAR-everything decision, ``seccion3_sql.sql:28-34``): dirty
    values like ``998E`` must survive ingestion; typing happens later
    via ``try_cast`` (functions.cleanse).
    """
    assert as_strings, "bronze is stringly-typed; cast in silver"
    return T.StructType(
        [
            T.StructField(f"Col_{i}", T.StringType(), True)
            for i in range(1, N_FLIGHT_COLS + 1)
        ]
    )


def read_csv_repaired(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = ";",
) -> DataFrame:
    """CSV scan with positional header override (S1+S2).

    ``header=True`` + explicit ``schema`` = Spark skips the stored
    header row and applies our names positionally — exactly the
    reference's corrupt-header repair. Spark's UTF-8 reader handles the
    BOM via the ``encoding`` option; ``mode=PERMISSIVE`` keeps dirty
    rows (nulls) instead of failing, mirroring pandas' tolerance.

    Distributed + splittable: at 100 TB this scan parallelizes per
    128 MB file split with no custom DataSource needed.
    """
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", sep)
        .option("encoding", "UTF-8")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with header (S6; reference export cell ``nb:116``),
    coalesced to one file for parity with the reference's one-file
    ``to_csv`` (its one caller writes a query result from the CLI)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
