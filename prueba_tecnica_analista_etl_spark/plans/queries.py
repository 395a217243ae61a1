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
from prueba_tecnica_analista_etl_spark.operators.dedupe import (
    distinct_count_audit,
    dup_census,
    keep_first,
)
from prueba_tecnica_analista_etl_spark.operators.pivot import (
    count_sum_pivot,
    count_sum_rollup,
    top_duplicates,
)
from prueba_tecnica_analista_etl_spark.operators.quality import (
    count_if,
    profile_stats,
    ref_integrity_orphans,
    uniqueness_verdict,
    violations_census,
)
from prueba_tecnica_analista_etl_spark.operators.topk import (
    running_sum,
    top_k_per_group,
)
from prueba_tecnica_analista_etl_spark.operators.upsert import upsert
from prueba_tecnica_analista_etl_spark.session import ensure_runtime_conf
from prueba_tecnica_analista_etl_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # None → rows-only check (non-SQL-expressible)
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


# Plan-construction cache. A DataFrame is an immutable logical plan,
# so one per (session, sf_dir, table) can be shared by every query of
# the session: without it, each query pays its own parquet file
# listing, stored-schema lookup and a round of conf.set py4j calls,
# all in Python before Spark executes anything. (Schema
# inference, the one Spark job a table read needs, is paid once per
# corpus generation by load_table.) The cache lives ON the session
# object, not in a module-level map keyed by the session: it is
# collected with the session, so long-lived multi-session processes
# never pin stopped sessions or their plans. Creating the cache
# doubles as the once-per-session ensure_runtime_conf gate.
_PLAN_CACHE_ATTR = "_ptae_plan_cache"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    cache = getattr(spark, _PLAN_CACHE_ATTR, None)
    if cache is None:
        ensure_runtime_conf(spark)
        cache = {}
        setattr(spark, _PLAN_CACHE_ATTR, cache)
    key = (sf_dir, name)
    df = cache.get(key)
    if df is None:
        df = load_table(spark, sf_dir, name)
        cache[key] = df
    return df


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
    doc="S5,P1,P2,F14: projection + derived revenue column; filter pushed "
    "to the parquet scan (PushedFilters), only 4 columns read.",
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
    doc="P3,P6: conjunctive predicates incl. IN-list; all pushed down.",
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
    doc="O4: positional two-source append; unionByName matches pandas "
    "concat-by-name semantics (reference load cell).",
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
    doc="A1,A2,D4: the reference's duplicate pre-check "
    "(duplicated().sum() == total - distinct).",
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
    doc="A4: the Excel pivot (rows=category, count + sum of measure); "
    "one hash-agg shuffle, map-side partial combine.",
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
    doc="A5: pivot + grand-TOTAL row in one pass (grouping sets). The "
    "TOTAL row is identified by GROUPING(), not by coalescing NULL — "
    "a genuine NULL group value must not collide with the grand total "
    "(both engines agree on the distinction).",
)
def q_groupby_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    doc="A3,O2,W2: most-duplicated-key table (Excel Duplicados sheet); "
    "TakeOrderedAndProject — only k rows leave each partition.",
)
def q_top_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_duplicates(_t(spark, sf_dir, "lineitem"), "l_partkey", 20)


@query(
    "q_having_dups",
    """
    SELECT o_custkey, count(*) AS cnt
    FROM orders GROUP BY o_custkey HAVING count(*) > 1
    """,
    doc="P5,A3: duplicate hunt (HAVING count>1) from the reference's "
    "post-merge verification.",
)
def q_having_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_census(_t(spark, sf_dir, "orders"), ["o_custkey"])


@query(
    "q_sort_limit",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="O3,P6: deterministic top-n sample.",
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
    doc="F6,A7,D5: machine-parseable OK/ERROR verdict "
    "(seccion3_sql.sql:352-361).",
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
    doc="A4 (wide form): true columnar pivot — groupBy().pivot() with "
    "explicit value list (no extra pass to discover values); compiles "
    "to one hash aggregation of conditional counts.",
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
    doc="D1-D3,O1,W1: deterministic keep-first survivor per key under a "
    "declared total order (never bare dropDuplicates).",
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
    doc="J1: 4-table star join; region/nation broadcast (tiny dims at any "
    "scale), customer⋈orders shuffled on key — AQE decides.",
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
    doc="J1 (deep form, TPC-H Q5 shape): 6-table join — customer ⋈ "
    "orders ⋈ lineitem shuffle on their keys with the date filter "
    "pushed to the orders scan; supplier/nation/region broadcast "
    "(the c_nationkey = s_nationkey 'local supplier' condition rides "
    "the broadcast join); revenue in exact DECIMAL, one closing cast. "
    "Sort key is the exact decimal-derived double + n_name tiebreak.",
)
def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation from LOCAL suppliers (customer and supplier
    in the same nation) — the reference star join (q_inner_join)
    deepened to the classic 6-table TPC-H Q5 shape, and the only
    declared query exercising the ``supplier`` table.

    Plan shape: the two fact joins (orders⋈customer, lineitem⋈orders)
    shuffle on their keys with the o_orderdate range pushed into the
    orders scan; supplier (catalog-sized), nation and region
    broadcast, so the cyclic c_nationkey = s_nationkey edge costs a
    broadcast probe, not a second fact shuffle. Revenue accumulates
    in DECIMAL (exact, order-independent) and casts to double once —
    deterministic across engines and reducer counts.

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
    doc="J2: existence (rows that would be UPDATEs in the merge audit).",
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
    doc="J3: non-existence (rows that would be INSERTs; FK-orphan shape).",
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
    doc="J3 quality form: FK-orphan census (designed check nb:352).",
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
    doc="J4,D5,S9: MERGE join-rewrite (INSERT … ON CONFLICT DO UPDATE "
    "semantics, seccion3_sql.sql:269-294): incoming keys win, untouched "
    "base passes through; idempotent (property-tested fixpoint).",
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
    doc="W1+W2: partitioned ranking with the rank exposed (row_number "
    "dedup/rank) doubling as top-k-per-group — the same "
    "WindowGroupLimit pattern at rn<=5; the former q_topk_per_group "
    "(rn<=3) was this exact plan and was merged here to free a "
    "registry slot (W2 top-k ranking is also proven by "
    "q_top_duplicates).",
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
    doc="W3: per-customer cumulative total; DECIMAL accumulation — exact "
    "regardless of each engine's frame-evaluation order.",
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    doc="F1,F2,F7,F13: trim / case / digits-only — the notebook's "
    "email+phone cleaning steps as native expressions.",
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
    doc="F3,F4,F5,P4,U1,U2: anchored-regex + length + prefix when-chain "
    "classification (the validar_telefono rewrite), grouped census.",
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
    doc="F8,F10: schema-on-read JSON extraction + errors→0 try_cast "
    "(the Excel Col_10 semantic).",
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
    doc="F9: composite-string decode via split/element_at (the Col_14 "
    "pipe-composite pattern), grouped census.",
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
    doc="A7,T6: single-pass violations census (all rules fuse into one "
    "HashAggregate — one scan regardless of rule count).",
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
    doc="A8,A9: anomaly-detection statistical profile (designed nb:360); "
    "approx_percentile variant exercised in tests (rows-only semantics).",
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
    doc="F11,T1: watermark-cadence daily volume (batch form of the "
    "incremental design).",
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
    doc="T2: tumbling 1-hour window × event_type (Spark window(); "
    "streaming twin in streaming/windows.py asserts batch/stream parity).",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
            "cnt",
        )
    )


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
    doc="T4 batch twin: gaps-and-islands sessionization — the BATCH "
    "form of streaming/windows.py's session_window (30-min "
    "inactivity gap), value-hash-verified against SQL where the "
    "streaming form can only be rows-checked. lag() marks session "
    "breaks, a running sum of breaks numbers sessions, one groupBy "
    "rolls each up to (start, n_events, duration). Gap compare and "
    "duration are exact integer microseconds (unix_micros / "
    "epoch_us) — no float, no timezone formatting risk beyond the "
    "shared UTC strftime. Plan shape: ONE shuffle total — both "
    "window functions share the (user_id)×(ts, event_id) sort, and "
    "the final groupBy(user_id, sn) reuses the hash(user_id) "
    "partitioning (HashPartitioning(user_id) satisfies the "
    "ClusteredDistribution of the superset key, so no second "
    "exchange). At 100 TB this is the canonical shape: state is "
    "bounded per user partition, and a hot user is a salting "
    "candidate only if one user's history exceeds an executor — "
    "the streaming twin's watermark eviction is the unbounded-time "
    "answer.",
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
    doc="J4 historization twin: slowly-changing-dimension TYPE 2 build "
    "— where upsert/MERGE (nb:287 staging→UPSERT) keeps only the "
    "latest row per key, SCD2 keeps EVERY version with a validity "
    "interval: each change event opens a row at its ts and lead() "
    "closes it at the next change (half-open [from, to) interval, "
    "exact integer µs; NULL to = current, flagged). The standard "
    "warehouse dimension-history pattern, built in one pass — no "
    "self-join, no per-key loop. Plan shape: the same single "
    "hash(user_id) shuffle + per-key sort as q_sessionize_batch; "
    "lead() is a bounded one-row lookahead, state O(1) per row. At "
    "100 TB the incremental form merges a new batch against only "
    "each key's OPEN row (valid_to IS NULL) — the partition-scoped "
    "upsert sink's shape — while this full rebuild stays the "
    "backfill path.",
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
    doc="J4 inverse: CDC delta GENERATION — upsert applies a delta, "
    "snapshot_diff (operators/upsert.py) produces one: full-outer "
    "join of two keyed snapshots, null-safe column compare (IS "
    "DISTINCT FROM, so NULL moves count as updates), one row per "
    "changed key tagged I/U/D carrying the new-side payload columns "
    "(NULL on deletes), unchanged keys dropped. The operator "
    "a warehouse needs when the source system ships full snapshots "
    "instead of change feeds. The second snapshot here is derived "
    "deterministically from orders (key%11 deleted, key%7 price-"
    "bumped, key%13 re-keyed as inserts) so the oracle verifies "
    "exact I/U/D membership. Round-trips: applying the delta to old "
    "reconstructs new (property test). Plan shape: one shuffle per "
    "side, co-partitioned on the key; values never enter the join "
    "key. At 100 TB identically-bucketed snapshots make the "
    "exchange a per-bucket zip, and column-pruned snapshot storage "
    "(keys + compared cols) is the scan-side win.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        snapshot_diff,
    )

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
    doc="W3 time-frame form: trailing 1-hour rolling count/sum per "
    "user — a RANGE frame over event-time microseconds, the window "
    "shape ROWS frames cannot express (each row's frame is defined "
    "by a TIME span, so gaps and bursts change frame size row to "
    "row; rate-limiting, rolling spend and anomaly baselines are "
    "this shape). Exact DECIMAL accumulation inside the frame; "
    "same-µs ties are frame PEERS in both engines, so the result "
    "is deterministic without a tiebreak column. Plan shape: one "
    "hash(user_id) shuffle + per-key sort — identical cost family "
    "to the ROWS running sum; the frame bound is a pointer walk "
    "inside the sorted partition, no extra pass. The streaming "
    "equivalent at unbounded time is the watermarked sliding "
    "window (q_sliding_window / streaming twin) — this is the "
    "batch/backfill form.",
)
def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    doc="extension (event analytics): strictly-ORDERED funnel census — "
    "users whose first view precedes a later click precedes a later "
    "purchase; each stage's timestamp is the earliest occurrence "
    "AFTER the previous stage's (not a bag-of-events check: a "
    "purchase before the first view does not count). The oracle "
    "builds the stage chain by three grouped self-joins (clear SQL); "
    "the Spark plan is the SCALABLE form — three chained whole-"
    "partition window minima over the same hash(user_id) "
    "partitioning, so the per-user stage chain costs ONE exchange "
    "total (Catalyst stacks same-partitioning Window ops without "
    "re-shuffling; the per-user collapse reuses it too — "
    "HashPartitioning(user_id) satisfies the superset-key "
    "distribution). Exact integer-µs ordering; the final 3-row "
    "census aggregates a |users|-sized frame, not fact rows. At "
    "100 TB: event logs shuffle once on user, stage logic is pure "
    "codegen — the alternative per-stage join cascade would shuffle "
    "the fact table three times.",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.operators.events import (
        ordered_funnel,
    )

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
    doc="extension (event analytics): weekly cohort retention — users "
    "grouped by first-activity day, counted per whole-week offset of "
    "each later active day (the classic retention triangle; offset 0 "
    "= the cohort's own week). Day grain via the same "
    "to_date/date_trunc pair q_volume_by_day proved cross-engine-"
    "exact; offsets are integer day arithmetic. Plan shape: ONE "
    "fact shuffle — the (user, day) distinct and the per-user "
    "cohort-min window share the hash(user_id) exchange (partial "
    "distinct runs map-side first, and HashPartitioning(user_id) "
    "satisfies the (user_id, d) aggregate's distribution); the "
    "final (cohort, offset) rollup shuffles only the collapsed "
    "users×active-days frame. The oracle mirrors it with grouped "
    "min + self-join. At 100 TB the fact table is touched once; "
    "everything after the first exchange is user-partition-local "
    "until the tiny final rollup.",
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.operators.events import (
        cohort_retention,
    )

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, period_days=7)


# ---------------------------------------------------------------------------
# M6 — text extensions (documents table)
# ---------------------------------------------------------------------------


@query(
    "q_lang_stats",
    """
    SELECT lang, count(*) AS docs, round(avg(n_chars), 2) AS avg_chars
    FROM documents GROUP BY lang
    """,
    doc="extension: per-language corpus stats.",
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
    doc="U4/extension: tokenize via explode(split()) — native, no UDTF; "
    "top-20 token census.",
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
    doc="A11: two-dimension CUBE — all four grouping sets in ONE "
    "shuffle (Expand + partial/final HashAggregate), the same "
    "single-pass shape as the rollup TOTAL. Grouping-null relabeled "
    "'ALL' (both dims are non-null in the data, so coalesce is "
    "unambiguous).",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    doc="O5: INTERSECT / EXCEPT (distinct set semantics) — customers "
    "active in both date halves vs only the old one. Each set op is "
    "one hash aggregation over the union of the (pre-aggregated "
    "distinct) sides.",
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
    doc="T3: sliding window 2h every 1h × event_type — each event lands "
    "in exactly two epoch-aligned windows (Spark window(ts,'2 hours',"
    "'1 hour') = the oracle's explicit two-bucket unnest). One Expand + "
    "one shuffle, same cost family as tumbling.",
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
    doc="J5 (as-of/point-in-time join): for every click, the same "
    "user's latest purchase at or before it (feature-store shape). "
    "Spark impl is the sort-based interleave in operators/asof.py — "
    "one shuffle + sort on (user, time), NOT the quadratic range-join "
    "the oracle SQL spells out (fine for DuckDB at oracle scale; the "
    "row_number over the exploded join is the semantic spec, not the "
    "plan).",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.operators.asof import asof_join

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
    doc="training-data extension: DETERMINISTIC stratified sampling — "
    "per-class keep rates via a lexicographic threshold on "
    "md5(event_id) (purchase 100%, click ~10%, view ~5%, rest ~20%). "
    "Hash-mod sampling, not rand(): reproducible across runs, engines "
    "and partitionings (the property a training pipeline needs for "
    "auditable splits), embarrassingly parallel, and pushdown-friendly "
    "— no RNG state, no seed plumbing, oracle-checkable bit-for-bit.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    doc="training-data extension: per-language text-quality ratios "
    "(punctuation / digit / uppercase density) — the heuristic feature "
    "block of a corpus quality filter, all native length/regexp "
    "expressions (count-by-deletion: len(text) - len(text sans class)).",
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
    doc="J5 (range join, point-in-interval, NO equi key): 1998 order "
    "dates joined into [shipdate, shipdate + span] windows (span = a "
    "deterministic 1-14 day function of the row). The oracle spells "
    "the naive theta-join BETWEEN; the Spark plan composes two "
    "scale rewrites. (1) Bin-and-equi-join: explode each interval "
    "into its day bins and equi-join on the date — O(rows x span), "
    "never the O(|I|x|P|) nested loop. (2) Aggregate pushdown below "
    "the join: the query ends in a COUNT, and count algebra "
    "distributes over a join, so BOTH sides pre-aggregate onto the "
    "bin key first — intervals to distinct (start, span) combos "
    "(<=365x14 groups regardless of row count), points to per-day "
    "counts (<=365 rows) — and the join multiplies the two counts "
    "instead of streaming every candidate row. The join input "
    "collapses from |rows| to |distinct keys|: at 100 TB the heavy "
    "tables are touched exactly once each by a map-side partial "
    "aggregate, and the range join itself runs on dictionary-sized "
    "frames.",
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
    doc="hypertable/continuous-aggregate pattern: the day level is "
    "computed FROM the hourly rollup (sum of sums, sum of counts), "
    "not from raw events — the two-tier re-aggregation a time-series "
    "store materializes incrementally. The oracle aggregates the raw "
    "table directly, so the hash match PROVES the rollup algebra is "
    "lossless (decimal sums are associative; count re-sums exactly). "
    "At scale the hourly tier is materialized once by the streaming "
    "job (tumbling_counts) and every coarser query reads it instead "
    "of raw data — here both tiers live in one lazy DAG.",
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    doc="changelog compaction (the CDC-apply half of J4's upsert): "
    "treat the event stream as an ordered change log on user_id — "
    "'purchase' closes the key (delete-marker), anything else "
    "upserts — and compact it to each key's LAST operation, the "
    "standard materialize-a-snapshot-from-a-changefeed step (Kafka "
    "log compaction / Debezium apply). Survivor pick is "
    "row_number()=1 over (ts DESC, event_id DESC): exact-µs ordering "
    "with a total tie-break, so both engines choose the same final "
    "op per key. Census reports live vs deleted key counts and the "
    "exact-decimal sum of surviving last values (the money-aggregate "
    "pattern). Plan shape: one hash(user_id) exchange for the "
    "ranking window, WindowGroupLimit prunes to each key's top row "
    "map-side (rn<=1 predicate), then an O(2)-group census — the "
    "same single-shuffle shape as q_scd2, applied to log compaction "
    "instead of historization. At 100 TB: compaction cost is one "
    "shuffle of the log, never a join against the snapshot.",
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
    doc="distribution census (the quartile gap in q_profile_stats's "
    "avg/stddev/min/max family): per event type the 25th/50th/75th "
    "percentile of value as DISCRETE quantiles — the element at rank "
    "floor(p*(n-1))+1 in (value, event_id) order, i.e. an actual "
    "data value selected by exact integer rank, never an "
    "interpolated average. Discrete-not-interpolated is the "
    "hash-stability discipline: engines compute linear interpolation "
    "with differently-associated float expressions (lower+(upper-"
    "lower)*d vs (1-d)*lower+d*upper) that can differ in the last "
    "ulp, while rank selection involves no arithmetic at all, and "
    "the 0.25/0.5/0.75 multipliers are binary-exact so the rank "
    "itself is the same integer everywhere. Plan shape: one "
    "hash(event_type) exchange shared by the ranking window and the "
    "count window (same partitioning), then a partial-agged census "
    "— the zscore-window family's proven shape. At 100 TB the "
    "per-type sort is the bounded unit; for a single monster type "
    "swap in approx_percentile (the assign_quantile_buckets "
    "moments-twin pattern).",
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

    def pick(p: float, name: str):
        rank = F.floor(F.lit(p) * (F.col("n") - 1)).cast("long") + 1
        return F.max(
            F.when(F.col("rn") == rank, F.col("value"))
        ).alias(name)

    return v.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        pick(0.25, "p25"),
        pick(0.5, "p50"),
        pick(0.75, "p75"),
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
    doc="time-series percentiles (the latency-dashboard shape: p50/p95 "
    "per day bucket) — q_quantile_census's discrete rank-selection "
    "discipline applied over time buckets instead of categories: the "
    "bucket value at exact integer rank floor(p*(n-1))+1 in (value, "
    "event_id) order is an ACTUAL data point, so there is no "
    "interpolation arithmetic for engines to disagree on. (0.95 is "
    "not binary-exact, unlike 0.25/0.5/0.75 — but the rank is still "
    "cross-engine-identical: both engines evaluate ONE IEEE multiply "
    "of the same two operands, and correctly-rounded multiplication "
    "is deterministic; only differently-ASSOCIATED float expressions "
    "can disagree, and a single multiply has no association.) Plan "
    "shape: "
    "one hash(day-bucket) exchange shared by the ranking and count "
    "windows, then a partial-agged census — per-bucket sort is the "
    "bounded unit of work; at 100 TB with years of data the bucket "
    "count grows while per-bucket work stays flat, the ideal "
    "parallelism shape.",
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

    def pick(p: float, name: str):
        rank = F.floor(F.lit(p) * (F.col("n") - 1)).cast("long") + 1
        return F.max(
            F.when(F.col("rn") == rank, F.col("value"))
        ).alias(name)

    return v.groupBy("day").agg(
        F.max("n").cast("long").alias("n_events"),
        pick(0.5, "p50"),
        pick(0.95, "p95"),
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
    doc="footer-statistics census (the zero-scan audit): COUNT/MIN/MAX "
    "over orders answered from parquet row-group FOOTERS — the query "
    "runs on the aggregate-pushdown session clone "
    "(sources.tables.footer_stats_session; DSv2 parquet, "
    "PushedAggregation in the scan), so at 100 TB this row-count-and-"
    "range verification audit (the reference's sql:331-361 check "
    "family) reads METADATA, not data pages. Hash-safe by "
    "construction: count is an integer and min/max are pass-through "
    "data values — no arithmetic, no rounding surface. The oracle "
    "computes the same census the ordinary way, so the hash match "
    "also proves the pushdown path returns exactly what a full scan "
    "would.",
)
def q_footer_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.sources.tables import (
        footer_stats_session,
    )

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
    doc="relative-rank window completion (W-family): percent_rank and "
    "cume_dist per user over purchase values — the normalized-rank "
    "metrics dashboards and feature pipelines derive (where does "
    "this purchase sit within the user's history). Hash-stable "
    "without rounding: both metrics are a SINGLE division of exact "
    "integers fixed by the SQL standard — (rank-1)/(n-1) and "
    "peers_le/n — and one correctly-rounded IEEE division of "
    "identical operands is deterministic across engines (the "
    "q_hypertable_quantiles principle; only differently-associated "
    "multi-op float expressions can diverge). The (value, event_id) "
    "order is total, so ranks are identical integers everywhere. "
    "Plan shape: one hash(user_id) exchange, both metrics share the "
    "single window spec — per-user sort is the bounded unit at "
    "100 TB.",
)
def q_window_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
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
