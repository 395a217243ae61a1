"""Golden-number tests against the REAL reference data (read-only at
/root/reference). These are the strongest correctness proof available:
the engine runs the reference's own pipelines on the reference's own
CSVs and must reproduce the numbers recomputed in SURVEY.md §5 —
the exact checks a user replicating the reference would make first.

EP1 (pandas notebook, ``Seccion_2_Python``): union 15,000 → keep-first
dedup by Col_1 → 7,669 survivors; 7,538 valid / 131 invalid emails;
6,767 Celular / 27 Fijo / 875 No Apto phones; top duplicate
``45233075``×32; Excel pivot TK=2068/958840.2 … TOTAL 15000/11274856.1.

EP2 (SQL stored procedure, ``Seccion_3_SQL``): base 2,754 uniques, new
5,423 uniques, 2,754 updates + 2,669 inserts → final 5,423 rows (the
docs claim 10,000 but the code's semantics produce 5,423 — SURVEY.md
header note; we reproduce the CODE, ``seccion3_sql.sql:142-318``).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.functions.cleanse import (
    try_double_or_zero,
)
from prueba_tecnica_analista_etl_spark.operators.dedupe import (
    ROW_COL,
    SRC_COL,
    keep_first,
    tag_source_order,
)
from prueba_tecnica_analista_etl_spark.operators.pivot import (
    count_sum_pivot,
    count_sum_rollup,
    top_duplicates,
)
from prueba_tecnica_analista_etl_spark.operators.upsert import (
    upsert_with_metrics,
)
from prueba_tecnica_analista_etl_spark.pipelines.flights import (
    flights_pipeline,
)
from prueba_tecnica_analista_etl_spark.sources.csv import (
    flights_schema,
    read_csv_repaired,
)

REF = "/root/reference"
S2 = f"{REF}/Seccion_2_Python"
S3 = f"{REF}/Seccion_3_SQL"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(S2), reason="reference data not present"
)


@pytest.fixture(scope="module")
def ep1(spark):
    """EP1 on the real v2 CSVs: the 10000 file is primary (concatenated
    first, so its rows win keep-first — ``nb:44``); the 5000v2 file
    carries the corrupt duplicate header the reader must discard."""
    return flights_pipeline(
        spark,
        f"{S2}/flights_10000v2.csv",
        f"{S2}/flights_5000v2.csv",
    )


def test_union_is_15000(ep1):
    assert ep1["union"].count() == 15_000  # readme:18


def test_dedup_survivors_7669(ep1):
    assert ep1["deduped"].count() == 7_669  # nb:60 (rerun)


def test_email_golden_counts(ep1):
    got = {
        r["Email_Valido"]: r["cnt"]
        for r in ep1["validated"]
        .groupBy("Email_Valido")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == {True: 7_538, False: 131}  # nb:79 (rerun)


def test_phone_golden_counts(ep1):
    got = {
        r["Telefono_Estado"]: r["cnt"]
        for r in ep1["validated"]
        .groupBy("Telefono_Estado")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # nb:100 (rerun)
    assert got == {"Celular": 6_767, "Fijo": 27, "No Apto": 875}


def test_top_duplicates_golden(ep1):
    top = top_duplicates(ep1["union"], "Col_1").collect()[:3]
    # xlsx!Duplicados_Col1 (verified)
    assert [(r["Col_1"], r["cnt"]) for r in top] == [
        ("45233075", 32),
        ("45152391", 28),
        ("53534530", 26),
    ]


def test_pivot_golden(ep1):
    """The Excel pivot (``xlsx!Tabla_Dinamica_Col2``): rows=Col_2,
    count + sum of Col_10 with the errors→0 text→decimal cast."""
    typed = ep1["union"].withColumn(
        "Col_10_num", try_double_or_zero(F.col("Col_10"))
    )
    pivot = count_sum_pivot(typed, "Col_2", "Col_10_num")
    rows = {r["Col_2"]: (r["cnt"], r["total"]) for r in pivot.collect()}
    assert len(rows) == 54  # 54 groups
    for carrier, cnt, total in [
        ("TK", 2_068, 958_840.2),
        ("DL", 1_787, 623_227.8),
        ("QT", 1_124, 946_993.8),
        ("5Y", 1_058, 1_688_912.5),
    ]:
        assert rows[carrier][0] == cnt
        assert rows[carrier][1] == pytest.approx(total, abs=0.011)

    rollup = {
        r["Col_2"]: (r["cnt"], r["total"])
        for r in count_sum_rollup(typed, "Col_2", "Col_10_num").collect()
    }
    assert rollup["TOTAL"][0] == 15_000
    assert rollup["TOTAL"][1] == pytest.approx(11_274_856.1, abs=0.011)


def test_export_matches_committed_output(spark):
    """Row-for-row parity with the reference's own committed export
    (``Seccion_2_Python/flights_unificado_limpio.csv``, written by the
    notebook's export cell ``nb:116``): all 15,000 rows, all 19 columns,
    in the notebook's concat order.

    The only normalization applied is the documented pandas artifact on
    Col_9/Col_10: pandas read them as float64 and ``to_csv`` serialized
    ``0`` as ``0.0``; our bronze layer is stringly-typed by design, so
    those two columns are compared as floats (exact value, not approx).
    The other 17 columns must match byte-for-byte (NULL ↔ empty field,
    the CSV encoding of missing)."""
    import csv

    from prueba_tecnica_analista_etl_spark.pipelines.flights import (
        clean_for_export,
    )

    schema = flights_schema()
    a = read_csv_repaired(
        spark, f"{S2}/flights_10000v2.csv", schema, sep=";"
    )
    b = read_csv_repaired(
        spark, f"{S2}/flights_5000v2.csv", schema, sep=";"
    )
    tagged = tag_source_order([a, b])
    export_ordered = (
        clean_for_export(tagged)
        .orderBy(SRC_COL, ROW_COL)
        .drop(SRC_COL, ROW_COL)
    )

    def norm(row):
        out = []
        for j, v in enumerate(row):
            v = "" if v is None else v
            if j in (8, 9) and v != "":  # Col_9/Col_10: pandas float64
                v = repr(float(v))
            out.append(v)
        return tuple(out)

    ours = [norm(r) for r in export_ordered.collect()]
    with open(
        f"{S2}/flights_unificado_limpio.csv",
        encoding="utf-8-sig",
        newline="",
    ) as f:
        rd = csv.reader(f)
        header = next(rd)
        theirs = [norm(row) for row in rd]

    assert header == [f"Col_{i}" for i in range(1, 20)]
    assert len(ours) == len(theirs) == 15_000
    for i, (o, t) in enumerate(zip(ours, theirs)):
        assert o == t, f"row {i}: {o} != {t}"


@pytest.fixture(scope="module")
def ep2(spark):
    """EP2 on the real ','-family CSVs: base=flights_5000, new=
    flights_10000, both deduped keep-first in file order (the ctid-MIN
    and DISTINCT ON steps), then the MERGE join-rewrite."""
    schema = flights_schema()
    base_raw = read_csv_repaired(
        spark, f"{S3}/flights_5000.csv", schema, sep=","
    )
    new_raw = read_csv_repaired(
        spark, f"{S3}/flights_10000.csv", schema, sep=","
    )
    base = keep_first(
        tag_source_order([base_raw]), ["Col_1"], [SRC_COL, ROW_COL]
    )
    new = keep_first(
        tag_source_order([new_raw]), ["Col_1"], [SRC_COL, ROW_COL]
    )
    result, metrics = upsert_with_metrics(base, new, ["Col_1"])
    return {"result": result, "metrics": metrics}


def test_sql_upsert_golden_counts(ep2):
    # seccion3_sql.sql:142-318 semantics recomputed (SURVEY.md §5)
    assert ep2["metrics"] == {
        "base_rows": 2_754,
        "new_rows": 5_423,
        "updates": 2_754,
        "inserts": 2_669,
        "result_rows": 5_423,
    }
    assert ep2["result"].count() == 5_423


def test_sql_post_merge_verification(ep2):
    """The reference's own post-merge checks (``sql:331-361``):
    count == countDistinct, zero duplicate keys, OK verdict."""
    res = ep2["result"]
    audit = res.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("Col_1").alias("uniq"),
    ).collect()[0]
    assert audit["total"] == audit["uniq"] == 5_423


# ---------------------------------------------------------------------------
# Workbook cell-parity (EP0): diff the engine's pivot / top-20 frames
# cell-for-cell against the DELIVERED Excel artifact — not recomputed
# numbers, the reference's own cells. Parsed with stdlib zipfile +
# xml.etree only (no openpyxl in the container).
# Reference: Seccion_1_Excel/Seccion1_Excel_PruebaTecnica.xlsx
# sheets Tabla_Dinamica_Col2 and Duplicados_Col1.
# ---------------------------------------------------------------------------

XLSX = f"{REF}/Seccion_1_Excel/Seccion1_Excel_PruebaTecnica.xlsx"
_SS_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _read_sheet_cells(sheet_file: str) -> dict[str, str]:
    """{'A5': 'TK', 'B5': '2068', ...} for one worksheet; inlineStr and
    numeric cells only (the workbook uses no shared-string table)."""
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(XLSX) as z:
        root = ET.fromstring(z.read(sheet_file))
    cells: dict[str, str] = {}
    for c in root.iter(_SS_NS + "c"):
        inline = c.find(_SS_NS + "is")
        if inline is not None:
            txt = "".join(t.text or "" for t in inline.iter(_SS_NS + "t"))
        else:
            v = c.find(_SS_NS + "v")
            txt = v.text if v is not None else None
        if txt is not None:
            cells[c.get("r")] = txt
    return cells


def test_pivot_matches_workbook(ep1):
    """Every one of the 54 carrier rows + TOTAL in xlsx!Tabla_Dinamica_Col2
    (A5:C59) must equal the engine's rollup, including the workbook's
    count-desc ordering."""
    cells = _read_sheet_cells("xl/worksheets/sheet2.xml")
    # header sanity: we are reading the sheet we think we are
    assert cells["A4"] == "Col_2 (Aerolinea)"
    wb_rows = []
    r = 5
    while f"A{r}" in cells:
        wb_rows.append(
            (cells[f"A{r}"], int(cells[f"B{r}"]), float(cells[f"C{r}"]))
        )
        r += 1
    assert len(wb_rows) == 55  # 54 carriers + TOTAL
    assert wb_rows[-1][0] == "TOTAL"

    typed = ep1["union"].withColumn(
        "Col_10_num", try_double_or_zero(F.col("Col_10"))
    )
    eng = {
        row["Col_2"]: (row["cnt"], row["total"])
        for row in count_sum_rollup(
            typed, "Col_2", "Col_10_num"
        ).collect()
    }
    assert len(eng) == len(wb_rows)
    for carrier, wb_cnt, wb_total in wb_rows:
        cnt, total = eng[carrier]
        assert cnt == wb_cnt, carrier
        assert total == pytest.approx(wb_total, abs=0.011), carrier
    # the workbook lists carriers count-desc (ties: first-seen); at
    # minimum the count sequence must be non-increasing and match ours
    wb_counts = [c for _, c, _ in wb_rows[:-1]]
    assert wb_counts == sorted(wb_counts, reverse=True)


def test_top20_matches_workbook(ep1):
    """xlsx!Duplicados_Col1: headline answer (A6/A7) and the top-20
    table (A11:B30) cell-for-cell against top_duplicates(k=20)."""
    cells = _read_sheet_cells("xl/worksheets/sheet3.xml")
    assert cells["A6"] == "45233075"
    assert "32" in cells["A7"]
    wb = []
    for r in range(11, 31):
        wb.append((cells[f"A{r}"], int(cells[f"B{r}"])))
    eng = [
        (row["Col_1"], row["cnt"])
        for row in top_duplicates(ep1["union"], "Col_1").collect()
    ]
    assert eng[0] == ("45233075", 32)
    # counts sequence must match exactly
    assert [c for _, c in eng] == [c for _, c in wb]
    # within each count level, the same set of values (the workbook's
    # intra-tie order is pandas first-seen; ours is lexicographic — both
    # are the same multiset per count)
    from collections import defaultdict

    wb_lvl, eng_lvl = defaultdict(set), defaultdict(set)
    for v, c in wb:
        wb_lvl[c].add(v)
    for v, c in eng:
        eng_lvl[c].add(v)
    # non-boundary count levels must agree exactly; the lowest level is
    # clipped by the k=20 cut among equal counts, and the workbook's
    # intra-tie pick (pandas first-seen) differs from ours
    # (lexicographic) — both are valid truncations, so the check there
    # is that every workbook pick genuinely has that count in the data
    min_cnt = min(c for _, c in wb)
    for c in wb_lvl:
        if c != min_cnt:
            assert eng_lvl[c] == wb_lvl[c], c
    full_tie = {
        row["Col_1"]
        for row in ep1["union"]
        .groupBy("Col_1")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == min_cnt)
        .collect()
    }
    assert wb_lvl[min_cnt] <= full_tie
    assert eng_lvl[min_cnt] <= full_tie
