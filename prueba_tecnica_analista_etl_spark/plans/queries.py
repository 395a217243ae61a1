"""Declared query set (SURVEY.md §2.11): every operator the reference
implements or specifies, proven against a DuckDB oracle on the harness
tables at sf=0.01.

Cross-engine hash-stability rules used throughout (refines SURVEY §2's
convention after measuring the testdata):
- Pass-through doubles are NEVER rounded — both engines read identical
  parquet bits, so raw values hash equal; rounding could only hurt.
- Computed money aggregates go through DECIMAL(18,2): the inputs are
  2-decimal values, the decimal math is exact and order-independent, and
  the final ``CAST(… AS DOUBLE)`` lands on the same double in both
  engines. Plain ``round(sum(double),2)`` is order-dependent in the last
  bits and Spark/DuckDB round half-cases differently (Java shortest-repr
  HALF_UP vs binary) — exact decimals sidestep both problems.
- avg/stddev stay double + round(2): their error (~1e-9 relative) is
  far from any 2dp rounding boundary.
- Timestamps exposed as DATE or as formatted strings; every LIMIT has a
  total order with unique tiebreak; aliases identical on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.functions.cleanse import (
    digits_only,
    json_long,
)
from prueba_tecnica_analista_etl_spark.operators.asof import asof_join
from prueba_tecnica_analista_etl_spark.operators.dedupe import (
    distinct_count_audit,
    dup_census,
    keep_first,
)
from prueba_tecnica_analista_etl_spark.operators.events import (
    cohort_retention,
    ordered_funnel,
)
from prueba_tecnica_analista_etl_spark.operators.pivot import top_duplicates
from prueba_tecnica_analista_etl_spark.operators.quality import (
    profile_stats,
    ref_integrity_orphans,
    uniqueness_verdict,
    violations_census,
)
from prueba_tecnica_analista_etl_spark.operators.topk import (
    running_sum,
    top_k_per_group,
)
from prueba_tecnica_analista_etl_spark.operators.upsert import (
    snapshot_diff,
    upsert,
)
from prueba_tecnica_analista_etl_spark.sources.tables import (
    _t,
    footer_stats_session,
)
from prueba_tecnica_analista_etl_spark.stages.eval import rank_pick
from prueba_tecnica_analista_etl_spark.streaming.windows import tumbling_counts

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Shape:
    """A query's physical-plan claim, read only by the registry-wide
    plan tests: substrings its executed plan (``toString()``) must
    contain and must not, and a bound on its ``Exchange`` nodes."""

    has: tuple[str, ...] = ()
    lacks: tuple[str, ...] = ()
    max_exchanges: int | None = None


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # None → rows-only check (non-SQL-expressible)
    doc: str  # one line: what the query computes
    shape: Shape = Shape()


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str, shape: Shape = Shape()):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc, shape=shape)
        return fn

    return deco


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


def dec2(c: Column) -> Column:
    """Exact 2-decimal fixed-point view of a money double."""
    return c.cast("decimal(18,2)")


def money_sum(c: Column) -> Column:
    """Order-independent, cross-engine-exact sum of a 2dp money column."""
    return F.sum(dec2(c)).cast("double")


# ---------------------------------------------------------------------------
# M1 — core relational (S5, P*, A1-A5, O1-O4, F6/F14)
# ---------------------------------------------------------------------------


@query(
    "q_scan_project",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem WHERE l_linenumber <= 2
    """,
    doc="S5,P1,P2,F14: filtered lineitem projection with a derived revenue column.",
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.round(
        dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount"))),
        2,
    ).cast("double")
    return li.filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey", "l_linenumber", revenue.alias("revenue")
    )


@query(
    "q_filter_predicate",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 50000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
    doc="P3,P6: orders matching conjunctive predicates, an IN list among them.",
)
def q_filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_totalprice") > 50000)
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "q_union_all",
    """
    SELECT o_orderkey, 'old' AS src FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-01-01'
    UNION ALL
    SELECT o_orderkey, 'new' AS src FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    """,
    doc="O4: two-source append matched by column name (pandas concat semantics).",
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    old = o.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", F.lit("old").alias("src")
    )
    new = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", F.lit("new").alias("src")
    )
    return old.unionByName(new)


@query(
    "q_count_distinct",
    """
    SELECT count(*) AS total,
           count(DISTINCT o_custkey) AS uniq,
           count(*) - count(DISTINCT o_custkey) AS dup_rows
    FROM orders
    """,
    doc="A1,A2,D4: duplicate pre-check: total vs distinct customer keys of orders.",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_count_audit(_t(spark, sf_dir, "orders"), "o_custkey")


@query(
    "q_groupby_count_sum",
    """
    SELECT o_orderpriority, count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority
    """,
    doc="A4: order count and total price per priority (the workbook pivot).",
    shape=Shape(has=("partial_",), max_exchanges=1),
)
def q_groupby_count_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        money_sum(F.col("o_totalprice")).alias("total"),
    )


@query(
    "q_groupby_rollup",
    """
    SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'TOTAL'
                ELSE o_orderpriority END AS o_orderpriority,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP(o_orderpriority)
    """,
    doc="A5: order count and total per priority plus a grand-total row.",
    shape=Shape(has=("Expand",), max_exchanges=1),
)
def q_groupby_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The TOTAL row is identified by GROUPING(), not by coalescing NULL:
    # a real NULL group must not collide with the grand total.
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money_sum(F.col("o_totalprice")).alias("total"),
            F.grouping("o_orderpriority").alias("_g"),
        )
        .select(
            F.when(F.col("_g") == 1, F.lit("TOTAL"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
            "cnt",
            "total",
        )
    )


@query(
    "q_top_duplicates",
    """
    SELECT l_partkey, count(*) AS cnt
    FROM lineitem GROUP BY l_partkey
    ORDER BY cnt DESC, l_partkey ASC LIMIT 20
    """,
    doc="A3,O2,W2: most-duplicated part keys of lineitem with their counts.",
    shape=Shape(has=("TakeOrderedAndProject",)),
)
def q_top_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_duplicates(_t(spark, sf_dir, "lineitem"), "l_partkey")


@query(
    "q_having_dups",
    """
    SELECT o_custkey, count(*) AS cnt
    FROM orders GROUP BY o_custkey HAVING count(*) > 1
    """,
    doc="P5,A3: customer keys with more than one order (HAVING count > 1).",
)
def q_having_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_census(_t(spark, sf_dir, "orders"), ["o_custkey"])


@query(
    "q_sort_limit",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="O3,P6: top-10 orders by price under a total order.",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q_case_when_check",
    """
    SELECT CASE WHEN count(*) = count(DISTINCT o_orderkey)
                THEN 'OK - no duplicates'
                ELSE 'ERROR - duplicates found' END AS verification
    FROM orders
    """,
    doc="F6,A7,D5: OK/ERROR verdict of the order-key uniqueness check.",
)
def q_case_when_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uniqueness_verdict(_t(spark, sf_dir, "orders"), "o_orderkey")


@query(
    "q_pivot_wide",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="A4: order counts per priority, one column per order status.",
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


# ---------------------------------------------------------------------------
# M2 — dedup + joins + merge (D1-D5, J1-J4)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_keep_first",
    """
    SELECT user_id, event_type, event_id FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events) WHERE rn = 1
    """,
    doc="D1-D3,O1,W1: first event per (user, event type) under a total order.",
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return keep_first(
        ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")]
    ).select("user_id", "event_type", "event_id")


@query(
    "q_inner_join",
    """
    SELECT r_name,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey = c_custkey
    GROUP BY r_name
    """,
    doc="J1: order revenue per region over a 4-table star join.",
    shape=Shape(has=("BroadcastHashJoin",), lacks=("SortMergeJoin",)),
)
def q_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(money_sum(F.col("o_totalprice")).alias("revenue"))
    )


@query(
    "q_local_supplier_revenue",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM customer
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
                   AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="J1: local-supplier revenue per nation of one region (TPC-H Q5 shape).",
    shape=Shape(
        has=("BroadcastHashJoin", "GreaterThanOrEqual(o_orderdate"),
        lacks=("SortMergeJoin",),
    ),
)
def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation from LOCAL suppliers (customer and supplier
    in the same nation) — the reference star join (q_inner_join)
    deepened to the classic 6-table TPC-H Q5 shape, and the only
    declared query exercising the ``supplier`` table.

    Revenue accumulates in DECIMAL (exact, order-independent) and
    casts to double once — deterministic across engines and reducer
    counts.

    Reference parity: the reference's join+aggregate reporting shape
    (seccion3_sql.sql:85-210 staging audits; nb:287-340 profile)
    deepened to the multi-dimension join its §3 audits imply —
    q_inner_join's star extended through the fact chain.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = dec2(F.col("l_extendedprice")) * (
        F.lit(1) - dec2(F.col("l_discount"))
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q_semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    doc="J2: customers with a finished order (the rows a merge would update).",
    shape=Shape(has=("BroadcastHashJoin", "LeftSemi")),
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="J3: customers without an order (the rows a merge would insert).",
    shape=Shape(has=("BroadcastHashJoin", "LeftAnti")),
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_ref_integrity",
    """
    SELECT count(*) AS orphans FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    """,
    doc="J3: census of lineitems whose order key has no order (FK orphans).",
)
def q_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    o = _t(spark, sf_dir, "orders")
    return ref_integrity_orphans(li, o.select("o_orderkey"), ["o_orderkey"])


@query(
    "q_upsert_merge",
    """
    WITH base AS (SELECT * FROM orders
                  WHERE o_orderdate < TIMESTAMP '1999-01-01'),
         new_d AS (SELECT * FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1997-01-01')
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
    FROM new_d
    UNION ALL
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
           CAST(b.o_orderdate AS DATE) AS o_orderdate, b.o_orderpriority
    FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM new_d n
                      WHERE n.o_orderkey = b.o_orderkey)
    """,
    doc="J4,D5,S9: MERGE as a join rewrite: incoming keys win, untouched base rows pass.",
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    new = o.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    merged = upsert(base, new, ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    )


# ---------------------------------------------------------------------------
# M3 — windows (W1-W3)
# ---------------------------------------------------------------------------


@query(
    "q_window_rownum",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 5
    """,
    doc="W1,W2: top 5 orders by price per customer, with their row_number rank.",
    shape=Shape(has=("WindowGroupLimit",)),
)
def q_window_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return top_k_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        5,
    )


@query(
    "q_window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
    doc="W3: per-customer running total of order prices in exact decimal.",
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DECIMAL accumulation is exact whatever order each engine evaluates
    # the frame in.
    o = _t(spark, sf_dir, "orders")
    out = running_sum(
        o,
        ["o_custkey"],
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        dec2(F.col("o_totalprice")),
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.col("running_total").cast("double").alias("running_total"),
    )


# ---------------------------------------------------------------------------
# M4 — scalar library + quality (F1-F14, A7-A9)
# ---------------------------------------------------------------------------


@query(
    "q_string_clean",
    """
    SELECT c_custkey,
           trim(c_name) AS name_clean,
           upper(c_mktsegment) AS seg_up,
           regexp_replace(c_name, '[^0-9]', '', 'g') AS name_digits,
           length(trim(c_name)) AS name_len
    FROM customer
    """,
    doc="F1,F2,F7,F13: trimmed, upper-cased and digits-only customer fields.",
)
def q_string_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.trim(F.col("c_name")).alias("name_clean"),
        F.upper(F.col("c_mktsegment")).alias("seg_up"),
        digits_only(F.col("c_name")).alias("name_digits"),
        F.length(F.trim(F.col("c_name"))).cast("long").alias("name_len"),
    )


@query(
    "q_regex_validate",
    """
    SELECT p_type,
           CASE WHEN regexp_matches(digits, '^[0-9]+$')
                     AND length(digits) = 2 AND digits LIKE '1%'
                THEN 'teen-brand'
                WHEN regexp_matches(digits, '^[0-9]+$')
                     AND length(digits) = 2
                THEN 'two-digit'
                WHEN regexp_matches(digits, '^[0-9]+$')
                THEN 'one-digit'
                ELSE 'invalid' END AS status,
           count(*) AS cnt
    FROM (SELECT p_type,
                 regexp_replace(p_brand, '[^0-9]', '', 'g') AS digits
          FROM part)
    GROUP BY 1, 2
    """,
    doc="F3-F5,P4,U1,U2: census of part brands by digit-pattern validation class.",
)
def q_regex_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    digits = digits_only(F.col("p_brand"))
    is_num = digits.rlike("^[0-9]+$")
    status = (
        F.when(is_num & (F.length(digits) == 2) & digits.startswith("1"),
               F.lit("teen-brand"))
        .when(is_num & (F.length(digits) == 2), F.lit("two-digit"))
        .when(is_num, F.lit("one-digit"))
        .otherwise(F.lit("invalid"))
    )
    return (
        p.select("p_type", status.alias("status"))
        .groupBy("p_type", "status")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_try_cast_json",
    """
    SELECT event_type,
           CAST(sum(coalesce(TRY_CAST(
                json_extract_string(props, '$.k') AS BIGINT), 0))
                AS BIGINT) AS k_total,
           count(*) AS cnt
    FROM events GROUP BY event_type
    """,
    doc="F8,F10: per event type, the sum of a JSON field with failed casts as 0.",
)
def q_try_cast_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(json_long(F.col("props"), "$.k")).cast("long").alias("k_total"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "q_split_part",
    """
    SELECT split_part(p_name, ' ', 1) AS adj,
           split_part(p_name, ' ', 2) AS noun,
           count(*) AS cnt
    FROM part GROUP BY 1, 2
    """,
    doc="F9: census of part names decoded with split/element_at.",
)
def q_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    parts = F.split(F.col("p_name"), " ")
    return (
        p.select(
            F.element_at(parts, 1).alias("adj"),
            F.element_at(parts, 2).alias("noun"),
        )
        .groupBy("adj", "noun")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_null_range_checks",
    """
    SELECT CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_value,
           CAST(sum(CASE WHEN value < 0 OR value > 200 THEN 1 ELSE 0 END)
             AS BIGINT) AS out_of_range,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_user
    FROM events
    """,
    doc="A7,T6: event violation counts of all null and range rules in one aggregate.",
    shape=Shape(max_exchanges=1),
)
def q_null_range_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return violations_census(
        ev,
        {
            "null_value": F.col("value").isNull(),
            "out_of_range": (F.col("value") < 0) | (F.col("value") > 200),
            "null_user": F.col("user_id").isNull(),
        },
    )


@query(
    "q_profile_stats",
    """
    SELECT count(l_extendedprice) AS n,
           round(avg(l_extendedprice), 2) AS avg,
           round(stddev_samp(l_extendedprice), 2) AS sd,
           round(min(l_extendedprice), 2) AS mn,
           round(max(l_extendedprice), 2) AS mx
    FROM lineitem
    """,
    doc="A8,A9: statistical profile of lineitem extended price.",
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_stats(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


# ---------------------------------------------------------------------------
# M5 — time + streaming-as-batch (F11, T1, T2)
# ---------------------------------------------------------------------------


@query(
    "q_volume_by_day",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1
    """,
    doc="F11,T1: daily event count and value total.",
)
def q_volume_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt"),
        money_sum(F.col("value")).alias("total"),
    )


@query(
    "q_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    doc="T2: event counts per 1-hour tumbling window and event type.",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(_t(spark, sf_dir, "events"))


@query(
    "q_sessionize_batch",
    """
    WITH x AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
    b AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM x),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sn
      FROM b)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM s GROUP BY user_id, sn
    """,
    doc="T4: per-user sessions (30-minute gap) with start, event count and duration.",
    shape=Shape(has=("Exchange hashpartitioning(user_id", "Window"), max_exchanges=1),
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    brk = F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(
        0
    )
    sn = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.select("user_id", "ts", sn.alias("sn"))
        .groupBy("user_id", "sn")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .drop("sn")
    )


@query(
    "q_scd2",
    """
    SELECT user_id, value,
           epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS valid_to_us,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
    doc="J4: SCD type 2 history: each change event with its [valid_from, valid_to) interval.",
    shape=Shape(has=("Exchange hashpartitioning(user_id",), max_exchanges=1),
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_micros(F.col("ts"))).over(w)
    return ev.select(
        "user_id",
        "value",
        F.unix_micros(F.col("ts")).alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "q_snapshot_diff",
    """
    WITH n AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 11 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS change_type,
           n.o_totalprice AS o_totalprice,
           n.o_orderstatus AS o_orderstatus
    FROM orders o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    """,
    doc="J4: I/U/D change rows between two keyed order snapshots.",
    shape=Shape(has=("FullOuter",), lacks=("BroadcastNestedLoopJoin",), max_exchanges=2),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    old = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    new = (
        old.filter(F.col("o_orderkey") % 11 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 13 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 100000000
            )
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"])


@query(
    "q_trailing_window",
    """
    SELECT user_id, epoch_us(ts) AS ts_us,
           count(*) OVER w AS cnt_1h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             AS val_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
    doc="W3: per-user trailing 1-hour event count and value sum (RANGE frame).",
    shape=Shape(has=("Exchange hashpartitioning(user_id",), max_exchanges=1),
)
def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same-microsecond ties are frame peers in both engines, so the result
    # needs no tiebreak column.
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_599_999_999, 0)
    )
    return ev.select(
        "user_id",
        us.alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("cnt_1h"),
        F.sum(dec2(F.col("value")))
        .over(w)
        .cast("double")
        .alias("val_1h"),
    )


@query(
    "q_funnel",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_type
      FROM events WHERE user_id IS NOT NULL),
    v AS (
      SELECT user_id, min(us) AS t1
      FROM e WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.us) AS t2
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.us > v.t1
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.us) AS t3
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.us > c.t2
      GROUP BY e.user_id)
    SELECT 1 AS stage_n, 'view' AS stage,
           (SELECT count(*) FROM v) AS users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM c)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM p)
    """,
    doc="Users reaching each stage of an ordered view -> click -> purchase funnel.",
    shape=Shape(
        has=("Exchange hashpartitioning(user_id", "Exchange SinglePartition"),
        max_exchanges=2,
    ),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle chains grouped self-joins; here three window minima share
    # one hash(user_id) exchange, so the fact table shuffles once.
    ev = _t(spark, sf_dir, "events")
    return ordered_funnel(ev, ["view", "click", "purchase"])


@query(
    "q_retention",
    """
    WITH a AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events WHERE user_id IS NOT NULL),
    f AS (SELECT user_id, min(d) AS d0 FROM a GROUP BY user_id)
    SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
           CAST(floor((a.d - f.d0) / 7) AS BIGINT) AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention: users per first-activity cohort and week offset.",
    shape=Shape(
        has=(
            "Exchange hashpartitioning(user_id",
            "Exchange hashpartitioning(_groupingexpression",
        ),
        max_exchanges=2,
    ),
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev)


# ---------------------------------------------------------------------------
# M6 — text extensions (documents table)
# ---------------------------------------------------------------------------


@query(
    "q_lang_stats",
    """
    SELECT lang, count(*) AS docs, round(avg(n_chars), 2) AS avg_chars
    FROM documents GROUP BY lang
    """,
    doc="Per-language doc count and mean length.",
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@query(
    "q_text_tokens",
    """
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS token
      FROM documents) WHERE token <> ''
    GROUP BY token ORDER BY cnt DESC, token LIMIT 20
    """,
    doc="U4: top-20 whitespace tokens of the corpus.",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# M7 — beyond-reference relational completions (J5, O5, A11, T3):
# operator families the reference never uses but a full engine surface
# needs; each oracle-checked like the core set.
# ---------------------------------------------------------------------------


@query(
    "q_cube",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
    doc="A11: two-dimension CUBE with grouping nulls labeled 'ALL'.",
    shape=Shape(has=("Expand", "partial_"), max_exchanges=1),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both dimensions are non-null in the data, so coalescing the grouping
    # null to 'ALL' is unambiguous.
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money_sum(F.col("o_totalprice")).alias("total"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias(
                "priority"
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias(
                "status"
            ),
            "cnt",
            "total",
        )
    )


@query(
    "q_intersect_except",
    """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate <  DATE '1998-01-01'),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= DATE '1998-01-01')
    SELECT 'both' AS side, o_custkey
    FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
    UNION ALL
    SELECT 'old_only' AS side, o_custkey
    FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
    """,
    doc="O5: customers active in both date halves (INTERSECT) and only the old one (EXCEPT).",
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cutoff = "1998-01-01"
    a = (
        o.filter(F.col("o_orderdate") < cutoff)
        .select("o_custkey")
        .distinct()
    )
    b = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .select("o_custkey")
        .distinct()
    )
    return a.intersect(b).select(
        F.lit("both").alias("side"), "o_custkey"
    ).unionByName(
        a.subtract(b).select(F.lit("old_only").alias("side"), "o_custkey")
    )


@query(
    "q_sliding_window",
    """
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS cnt
    FROM (SELECT unnest([date_trunc('hour', ts),
                         date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
                 event_type
          FROM events)
    GROUP BY 1, 2
    """,
    doc="T3: event counts per 2-hour window sliding every hour, by event type.",
    shape=Shape(has=("Expand",), max_exchanges=1),
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "cnt",
        )
    )


@query(
    "q_asof_join",
    """
    SELECT event_id, user_id, asof_event_id FROM (
      SELECT c.event_id, c.user_id, p.event_id AS asof_event_id,
             row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY p.ts DESC, p.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON p.user_id = c.user_id AND p.ts <= c.ts
    ) WHERE rn = 1
    """,
    doc="J5: for every click, the same user's latest purchase at or before it.",
    shape=Shape(has=("Window",), lacks=("BroadcastNestedLoopJoin",), max_exchanges=1),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle's range join + row_number is the semantic spec, not the
    # plan: operators/asof.py interleaves and sorts instead.
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return asof_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_time="ts",
        right_time="ts",
        payload=["event_id"],
        tiebreak="event_id",
    ).select("event_id", "user_id", "asof_event_id")


@query(
    "q_stratified_sample",
    """
    SELECT event_id, event_type FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) <=
          CASE event_type
            WHEN 'purchase' THEN 'ff'
            WHEN 'click'    THEN '19'
            WHEN 'view'     THEN '0c'
            ELSE '33'
          END
    """,
    doc="Deterministic stratified sample of events by per-type md5 keep rates.",
    shape=Shape(max_exchanges=0),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash-threshold sampling, not rand(): reproducible across runs,
    # engines and partitionings.
    ev = _t(spark, sf_dir, "events")
    bucket = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    threshold = (
        F.when(F.col("event_type") == "purchase", F.lit("ff"))
        .when(F.col("event_type") == "click", F.lit("19"))
        .when(F.col("event_type") == "view", F.lit("0c"))
        .otherwise(F.lit("33"))
    )
    return ev.filter(bucket <= threshold).select("event_id", "event_type")


@query(
    "q_text_ratios",
    """
    SELECT lang,
           count(*) AS docs,
           round(avg(CAST(len(text)
                 - len(regexp_replace(text, '[.!?,;:]', '', 'g'))
                 AS DOUBLE) / len(text)), 4) AS punct_ratio,
           round(avg(CAST(len(text)
                 - len(regexp_replace(text, '[0-9]', '', 'g'))
                 AS DOUBLE) / len(text)), 4) AS digit_ratio,
           round(avg(CAST(len(text)
                 - len(regexp_replace(text, '[A-Z]', '', 'g'))
                 AS DOUBLE) / len(text)), 4) AS upper_ratio
    FROM documents GROUP BY lang
    """,
    doc="Per-language punctuation, digit and uppercase density of the text.",
)
def q_text_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n = F.length("text").cast("double")

    def density(pattern: str) -> Column:
        removed = F.length(F.regexp_replace(F.col("text"), pattern, ""))
        return (n - removed.cast("double")) / n

    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.avg(density(r"[.!?,;:]")), 4).alias("punct_ratio"),
        F.round(F.avg(density(r"[0-9]")), 4).alias("digit_ratio"),
        F.round(F.avg(density(r"[A-Z]")), 4).alias("upper_ratio"),
    )


@query(
    "q_range_join",
    """
    WITH i AS (SELECT CAST(l_shipdate AS DATE) AS s,
                      CAST(l_shipdate AS DATE)
                        + to_days(CAST((l_partkey % 14) + 1 AS INT)) AS e,
                      (l_partkey % 14) + 1 AS span_days
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                 AND l_shipdate <  TIMESTAMP '1999-01-01'),
         p AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
               WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                 AND o_orderdate <  TIMESTAMP '1999-01-01')
    SELECT span_days, count(*) AS matches
    FROM i JOIN p ON p.d BETWEEN i.s AND i.e
    GROUP BY span_days
    """,
    doc="J5: count of 1998 order dates inside lineitem [shipdate, shipdate + span] windows.",
    shape=Shape(has=("BroadcastHashJoin",), lacks=("BroadcastNestedLoopJoin",)),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    span = (F.col("l_partkey") % 14 + 1).cast("int")
    # Literal bounds, not year(): range predicates on the raw column
    # push down to the parquet scan (row-group min/max pruning at
    # scale); year(cast(...)) is not a pushable filter.
    i_agg = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select(
            F.to_date("l_shipdate").alias("s"),
            span.alias("span_days"),
        )
        .groupBy("s", "span_days")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    bins = i_agg.select(
        "span_days",
        "n_i",
        F.explode(
            F.sequence(
                F.col("s"), F.date_add(F.col("s"), F.col("span_days"))
            )
        ).alias("d"),
    )
    p_agg = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select(F.to_date("o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    return (
        bins.join(F.broadcast(p_agg), "d")
        .groupBy(F.col("span_days").cast("long").alias("span_days"))
        .agg(F.sum(F.col("n_i") * F.col("n_p")).alias("matches"))
    )


@query(
    "q_hypertable_rollup",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
    doc="Daily event count and value sum per type, re-aggregated from the hourly rollup.",
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle aggregates the raw table, so a hash match proves the
    # hourly-to-daily rollup algebra is lossless.
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(dec2(F.col("value"))).alias("total_dec"),
    )
    return (
        hourly.groupBy(
            F.date_format(
                F.date_trunc("day", F.col("w.start")), "yyyy-MM-dd"
            ).alias("day"),
            "event_type",
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("total_dec").cast("double").alias("total"),
        )
    )


@query(
    "q_cdc_apply",
    """
    WITH log AS (SELECT user_id, ts, event_id,
                        CASE WHEN event_type = 'purchase' THEN 'D'
                             ELSE 'U' END AS op,
                        value
                 FROM events WHERE user_id IS NOT NULL),
         last AS (SELECT user_id, op, value,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC,
                                                     event_id DESC)
                           AS rn
                  FROM log)
    SELECT CASE WHEN op = 'D' THEN 'deleted' ELSE 'live' END AS status,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_last_value
    FROM last WHERE rn = 1 GROUP BY status
    """,
    doc="Changelog compaction: live and deleted keys after each key's last operation.",
    shape=Shape(has=("WindowGroupLimit", "Exchange hashpartitioning(user_id"), lacks=("Join",)),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", "D")
        .otherwise("U")
        .alias("op"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    last = log.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        last.select(
            F.when(F.col("op") == "D", "deleted")
            .otherwise("live")
            .alias("status"),
            "value",
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            money_sum(F.col("value")).alias("sum_last_value"),
        )
    )


@query(
    "q_quantile_census",
    """
    WITH v AS (SELECT event_type, value, event_id,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY value, event_id)
                        AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM events WHERE value IS NOT NULL)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           max(CASE WHEN rn = CAST(floor(0.25 * (n - 1)) AS BIGINT) + 1
                    THEN value END) AS p25,
           max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                    THEN value END) AS p50,
           max(CASE WHEN rn = CAST(floor(0.75 * (n - 1)) AS BIGINT) + 1
                    THEN value END) AS p75
    FROM v GROUP BY event_type
    """,
    doc="Per-event-type discrete 25th/50th/75th percentiles of value.",
    shape=Shape(has=("Exchange hashpartitioning(event_type", "partial_"), max_exchanges=1),
)
def q_quantile_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    v = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    return v.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        rank_pick(0.25, "p25"),
        rank_pick(0.5, "p50"),
        rank_pick(0.75, "p75"),
    )


@query(
    "q_hypertable_quantiles",
    """
    WITH v AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d')
                        AS day,
                      value, event_id,
                      row_number() OVER (
                        PARTITION BY date_trunc('day', ts)
                        ORDER BY value, event_id) AS rn,
                      count(*) OVER (
                        PARTITION BY date_trunc('day', ts)) AS n
               FROM events WHERE value IS NOT NULL)
    SELECT day,
           CAST(max(n) AS BIGINT) AS n_events,
           max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                    THEN value END) AS p50,
           max(CASE WHEN rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1
                    THEN value END) AS p95
    FROM v GROUP BY day
    """,
    doc="Per-day discrete p50/p95 of event value.",
    shape=Shape(has=("partial_",), max_exchanges=2),
)
def q_hypertable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.date_trunc("day", F.col("ts"))
    wr = Window.partitionBy(bucket).orderBy("value", "event_id")
    wn = Window.partitionBy(bucket)
    v = ev.select(
        F.date_format(bucket, "yyyy-MM-dd").alias("day"),
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    return v.groupBy("day").agg(
        F.max("n").cast("long").alias("n_events"),
        rank_pick(0.5, "p50"),
        rank_pick(0.95, "p95"),
    )


@query(
    "q_footer_census",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders
    """,
    doc="Order count and key/price ranges answered from parquet footers.",
    shape=Shape(has=("PushedAggregation: [COUNT(*)",)),
)
def q_footer_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Runs on the aggregate-pushdown session clone, so the census reads
    # row-group footers, not data pages.
    s = footer_stats_session(spark)
    orders = s.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "q_window_rank_metrics",
    """
    SELECT event_id,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
    doc="Per-user percent_rank and cume_dist of purchase values.",
    shape=Shape(has=("Exchange hashpartitioning(user_id",), max_exchanges=1),
)
def q_window_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both metrics are one division of exact integers: deterministic
    # across engines without rounding.
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
