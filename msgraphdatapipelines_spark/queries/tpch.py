"""TPC-H-style multi-join analytics — the classic plans that exercise
Catalyst's join reordering, broadcast selection, and partial aggregation
on the star schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import standing_root
from . import load, load_spread, register


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → fact join → grouped
    revenue → global top-10.  Filters sit below the joins (Catalyst pushes
    them through), and the final top-k is TakeOrderedAndProject."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    # r16 OPT: scan-parallelism floor on the fact side (A/B 1.05 -> 0.82 s)
    li = load_spread(spark, sf_dir, "lineitem", "l_orderkey").filter(
        F.col("l_shipdate") > "1996-01-01"
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join with the customer-supplier nation
    correlation — the plan Catalyst must order well.  nation/region/supplier
    broadcast (small at any SF); the fact chain shuffles once per equi-key."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA"))
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )


@register(
    "posexplode_tokens",
    demoted=True,  # posexplode driver-graded via chunk_documents
    oracle="""
    WITH words AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS token
    FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM words)
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal explode (posexplode) — element + 0-based position, the
    lateral-view building block for order-sensitive flattening."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    return docs.select(
        "doc_id", F.posexplode(ws).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


@register(
    "q10_returned_items",
    demoted=True,  # multi-join family driver-graded via q3/q5
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           round(c_acctbal, 2) AS c_acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (r8): returned-item revenue ranking — a one-year
    order window, R-flag lineitems, customer×nation enrichment, grouped
    revenue, global top-20.  Exercises a 4-table join with two selective
    fact filters pushed below the joins, a broadcast dim (nation), and
    TakeOrderedAndProject for the ranking."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"), "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    demoted=True,  # conditional-agg family driver-graded via pricing_summary
    oracle="""
    SELECT round(
        100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                              THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                   * (1 - CAST(l_discount AS DECIMAL(18,4)))
                              ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 6)
        AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-06-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (r8): promo-revenue share for one ship month — the
    conditional-aggregate-over-join pattern (CASE inside SUM, one fact
    filter, part dim broadcast).  Decimal accumulation keeps the ratio
    engine-exact; one 1-row output."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-06-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).cast(
        "double"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(F.lit(100.0) * promo / F.sum(rev).cast("double"), 6).alias(
                "promo_revenue_pct"
            )
        )
    )


# ---------------------------------------------------------------------------
# r9 (r8 VERDICT item 6): correlated-subquery SQL shapes — the
# decorrelation paths of the declared SQL surface (scalar correlated
# subquery, uncorrelated scalar subquery, NOT EXISTS), driven through the
# parser via sql.sql so Catalyst's RewriteCorrelatedScalarSubquery /
# RewritePredicateSubquery rules are what execute, not hand-built joins.
# Engine and oracle share ONE SQL text: every accumulation is an exact
# decimal sum cast to double before any division, so the floats are
# bit-identical cross-engine (the q3/q14 discipline).

_Q17_SQL = """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0E0
           AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE CAST(l_quantity AS DOUBLE) <
      (SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
              / (5.0E0 * COUNT(*))
       FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
GROUP BY p_brand
ORDER BY p_brand
"""

_Q22_SQL = """
SELECT c_nationkey AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE CAST(c_acctbal AS DOUBLE) > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM customer c2 WHERE c2.c_acctbal > 0.0E0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY cntrycode
"""


@register(
    "q17_small_quantity_revenue",
    # PROMOTED r10 (r9 VERDICT item 8): the correlated-subquery
    # decorrelation path, graded at sf0.01
    oracle=_Q17_SQL,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (r9): per-brand revenue from below-avg-quantity
    line items, where the threshold is a CORRELATED SCALAR SUBQUERY
    (``0.2 * avg(l_quantity)`` per part, expressed division-free as
    ``sum/(5·count)`` so the threshold is one exact-decimal sum and one
    IEEE divide — bit-identical cross-engine).  Catalyst decorrelates it
    into a per-part aggregate joined back to the fact scan — the plan
    pytest pins that NO scalar-subquery node survives to the physical
    plan (per-row re-execution would be O(n²) at 100 TB; the decorrelated
    form is two scans + one broadcast join)."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q17_SQL)


@register(
    "q22_dormant_high_balance",
    demoted=True,  # SQL-entry family driver-graded via sql_surface_revenue_rank
    oracle=_Q22_SQL,
)
def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (r9): high-balance customers with no urgent order
    — an UNCORRELATED SCALAR SUBQUERY (global positive-balance average,
    evaluated once and broadcast) plus a NOT EXISTS that Catalyst
    rewrites to a left-anti join (plan-pinned).  The anti join's right
    side is the filtered orders scan, so the exclusion predicate pushes
    into the scan instead of running per customer row."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q22_SQL)


# --- r10: four more decorrelation shapes through the SQL entry ------------
# Charter relational surface widened with the remaining classic subquery
# patterns (ref: the reference's Prepare-SQLDatabase*.sql procs run plain
# T-SQL SELECTs; these prove the same ANSI shapes parse, decorrelate, and
# value-match through Catalyst).  Adapted to the fixture schema (lineitem
# carries l_shipdate only): "late" = shipped after the order date.

_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_Q11_SQL = """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_rev
FROM lineitem JOIN part ON p_partkey = l_partkey
GROUP BY p_brand
HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2))) >
       (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 0.04
        FROM lineitem JOIN part ON p_partkey = l_partkey)
ORDER BY brand_rev DESC, p_brand
"""

_Q18_SQL = """
SELECT c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey
                       HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 160)
GROUP BY c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o.o_orderkey
LIMIT 100
"""

_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE l1.l_shipdate > o.o_orderdate
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


@register(
    "q4_late_shipment_priority",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_Q4_SQL,
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (r10): per-priority count of orders with at least
    one late-shipped line — a correlated EXISTS whose inner predicate
    references BOTH sides (l_shipdate > o_orderdate).  Catalyst rewrites
    it to a LEFT SEMI join with the non-equi condition riding the equi
    key (plan-pinned) — per-row subquery re-execution would be O(n·m);
    the semi join is one shuffle on l_orderkey.  At 100 TB the lineitem
    side carries only (l_orderkey, l_shipdate) after pruning."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q4_SQL)


@register(
    "q11_important_brand_share",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_Q11_SQL,
)
def q11_important_brand_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (r10): brands whose revenue exceeds a fraction of
    TOTAL revenue — a HAVING clause against an UNCORRELATED scalar
    subquery over the same join.  The global total evaluates once
    (one extra scan-agg, broadcast as a literal into the filter), never
    per group; all arithmetic stays in exact DECIMAL until the final
    presentation cast, so the threshold comparison is bit-identical
    cross-engine."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q11_SQL)


@register(
    "q18_large_volume_orders",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_Q18_SQL,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (r10): large-volume orders — an IN over a grouped
    HAVING subquery (the aggregate-filtered semi join).  Catalyst plans
    the subquery as its own aggregation and semi-joins the result on
    o_orderkey; the outer 3-table join then re-aggregates quantities per
    surviving order.  Top-100 by price with the unique o_orderkey
    tie-break keeps the LIMIT deterministic cross-engine."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q18_SQL)


@register(
    "q21_sole_late_supplier",  # promoted r11: hardest decorrelation shape, driver-graded
    oracle=_Q21_SQL,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (r10): suppliers who were the SOLE late shipper on
    multi-supplier orders — the hardest classic decorrelation: one
    correlated EXISTS (another supplier exists on the order) and one
    correlated NOT EXISTS whose predicate references the OUTER join's
    orders row (another supplier also late).  Catalyst compiles them to
    a left-semi and a left-anti join on l_orderkey with the residual
    conditions attached (plan-pinned: no exists-subquery survives;
    LeftSemi + LeftAnti both present).  Both rewritten joins shuffle on
    the same l_orderkey key, so AQE can reuse the exchange."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q21_SQL)


# --- late r10: the remaining TPC-H query shapes -----------------------------
# Completes the 22-query TPC-H shape suite (Q1 lives as pricing_summary in
# queries/relational.py).  The fixture schema has no partsupp table and no
# l_commitdate/l_receiptdate/l_shipmode columns, so Q2/Q9/Q12/Q16/Q20 are
# ADAPTED: lineitem is the part↔supplier bridge, p_retailprice stands in for
# supply cost, and "late" means shipped after the order date (the q4/q21
# convention already in this file).  Every adaptation preserves the query's
# DISTINCTIVE PLAN SHAPE — that is what the suite exercises: Q2's correlated
# min join-back, Q13's filtered outer join + histogram-of-counts, Q15's
# scalar max over a reused CTE, Q16's NOT IN → null-aware anti join, Q19's
# cross-table disjunction, Q20's doubly-nested IN with a correlated HAVING.
# Oracle discipline unchanged: exact DECIMAL accumulation cast to DOUBLE at
# presentation, CAST(...AS BIGINT) on every DuckDB integer sum (HUGEINT
# fetches as float64 — the r9 heavy_hitters_cm lesson).


@register(
    "q6_forecast_revenue",
    demoted=True,  # scan-agg family driver-graded via pricing_summary
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the canonical single-table scan-aggregate — three
    range predicates and one SUM, no join, no group.  Its whole purpose is
    pushdown hygiene: all three filters must reach the parquet scan as
    PushedFilters and the projection must prune to the four touched
    columns, so at 100 TB the scan reads two value columns of one ship
    year instead of the table."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(18,4)"
    )
    return li.agg(F.sum(rev).cast("double").alias("revenue"))


@register(
    "q7_volume_shipping",
    demoted=True,  # multi-join family driver-graded via q5
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_13')
        OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year — the SAME dimension table (nation) joined twice under different
    roles with a disjunctive cross-role predicate.  Both nation joins
    broadcast; the pair filter sits above them (it references both roles
    so it cannot push below either), while the ship-date range pushes all
    the way into the fact scan."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_13")
    ) | ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_3"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    demoted=True,  # conditional-agg family driver-graded via pricing_summary
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           round(
             CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                           THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,4)))
                           ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
             6) AS mkt_share
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n2.n_regionkey
    WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's market
    for one part type, per order year — an eight-table join whose answer
    is a RATIO of two conditional aggregates over the same joined rows
    (CASE inside the numerator SUM).  Every dimension broadcasts; the two
    selective dim filters (region, p_type) prune the fact early via the
    join; numerator and denominator accumulate in exact decimal and meet
    in one double divide."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))).cast(
        "double"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(num / F.sum(rev).cast("double"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    demoted=True,  # multi-join family driver-graded via q5
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           round(
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             - 0.1 * CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
                              * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE),
             4) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY 1, 2 DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: 10% of p_retailprice·quantity stands in
    for ps_supplycost — no partsupp table in the fixture): per-nation,
    per-year profit on a LIKE-filtered part family.  Exercises the
    profit = revenue − cost two-term aggregate: both terms accumulate as
    separate exact-decimal SUMs over the same grouped rows and subtract
    once in double AFTER aggregation — never per-row mixed-precision
    arithmetic, which caps decimal blow-up and keeps both engines
    bit-identical.  The LIKE pushes into the part scan; part/supplier/
    nation broadcast."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    cost = F.col("p_retailprice").cast("decimal(18,2)") * F.col("l_quantity").cast(
        "decimal(9,2)"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(rev).cast("double") - F.lit(0.1) * F.sum(cost).cast("double"), 4
            ).alias("profit")
        )
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@register(
    "q12_priority_shipping",
    demoted=True,  # conditional-count family driver-graded via pricing_summary
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: late = shipped after order date; the
    fixture has no shipmode/commitdate, so l_linestatus plays the
    grouping role): per-status counts of late lines split by order
    priority class — the pivot-by-CASE conditional-count pattern.  The
    cross-table residual (l_shipdate > o_orderdate) rides the equi join;
    the ship-year range pushes into the fact scan; counts stay BIGINT on
    both engines (oracle CASTs DuckDB's HUGEINT sums down)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q13_customer_order_distribution",
    demoted=True,  # outer-join family driver-graded via join_variants
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of order counts per customer —
    a LEFT OUTER join whose filter lives IN THE JOIN CONDITION (moving it
    to WHERE would silently drop zero-order customers), COUNT(col) null
    semantics (unmatched rows count 0, not 1), then a second aggregation
    over the first's output: the histogram-of-group-sizes pattern.  Two
    shuffles by construction (c_custkey, then c_count); the second input
    is one row per customer, so the histogram shuffle is tiny."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q19_disjunctive_revenue",
    demoted=True,  # predicate-pushdown family driver-graded via filter_project
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a three-branch disjunction where
    each branch mixes part-side (brand, size) and lineitem-side
    (quantity) conjuncts — the classic OR-across-tables predicate that
    naive planners evaluate post-join.  Catalyst's constraint extraction
    derives the per-table implications (brand ∈ {1,2,3} ∧ size ≤ 35 on
    part; quantity ∈ [1,30] on lineitem) and pushes THOSE into the scans
    while the full disjunction evaluates once above the join — at 100 TB
    the fact scan skips ~½ its rows before joining."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (q >= 1)
            & (q <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & (q >= 10)
            & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & (q >= 20)
            & (q <= 30)
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# --- late r10: the last four subquery shapes, through the SQL entry ---------
# Same one-SQL-text discipline as Q17/Q22/Q4/Q11/Q18/Q21 above: engine and
# oracle run the IDENTICAL string, so a value match proves Catalyst's
# decorrelation rewrites (not a hand-built join) produce the reference
# semantics.

_Q2_SQL = """
SELECT DISTINCT s.s_name, p.p_partkey, p.p_name, round(s.s_acctbal, 2) AS s_acctbal
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE' AND p.p_size = 15
  AND s.s_acctbal = (SELECT MIN(s2.s_acctbal)
                     FROM lineitem l2
                     JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
                     JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
                     JOIN region r2   ON r2.r_regionkey = n2.n_regionkey
                     WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, p_partkey, s_name
"""

_Q15_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 3000.0E0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

_Q20_SQL = """
SELECT s_name, s_suppkey
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) >
           (SELECT 0.5 * SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
            FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
              AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l2.l_shipdate <  TIMESTAMP '1998-01-01'))
ORDER BY s_name, s_suppkey
"""


@register(
    "q2_min_cost_supplier",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_Q2_SQL,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: lineitem bridges part↔supplier and
    s_acctbal stands in for ps_supplycost — no partsupp in the fixture):
    for each size-15 part, the European supplier(s) with the MINIMUM
    account balance — a correlated scalar MIN subquery that repeats the
    outer's multi-table join.  Catalyst decorrelates into a per-partkey
    min aggregate joined back on (p_partkey, s_acctbal = min) — the
    argmin-per-group-via-subquery pattern; per-row re-execution of the
    4-table inner join would be quadratic at scale.  DISTINCT collapses
    the lineitem bridge multiplicity."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q2_SQL)


@register(
    "q15_top_supplier",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_Q15_SQL,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving MAX quarterly revenue —
    a CTE consumed twice (once as the join input, once under a scalar
    MAX) replacing the reference's CREATE VIEW.  The scalar subquery
    evaluates once (one extra agg over the CTE, broadcast as a literal);
    ties surface every max-revenue supplier, so the result is
    deterministic without a tiebreak LIMIT.  The revenue CTE itself is
    one scan-agg over a pushed three-month window."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q15_SQL)


@register(
    "q16_supplier_part_counts",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_Q16_SQL,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: the excluded-supplier predicate is a
    balance threshold instead of a comment LIKE): distinct-supplier
    counts per (brand, type, size) excluding flagged suppliers — a NOT IN
    subquery over a nullable-free key.  Catalyst plans it as a null-aware
    LEFT ANTI join (plan-pinned); the exclusion list is dim-sized so the
    anti join broadcasts, and COUNT(DISTINCT) expands per group after the
    bridge join.  The size IN-list and type filter push into the part
    scan."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q16_SQL)


@register(
    "q20_dominant_part_supplier",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_Q20_SQL,
)
def q20_dominant_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: "supplier holds more than half the
    part's shipped volume" replaces the partsupp availqty test, same
    doubly-nested structure): one region's suppliers who DOMINATE some
    widget part — an IN whose subquery contains another IN (part-name
    filter) AND a correlated scalar subquery in the HAVING clause
    (half the part's total volume, correlated on the group key
    l_partkey).  Catalyst compiles the outer IN to a left-semi join, the
    inner IN to a semi join against the filtered part scan, and
    decorrelates the HAVING threshold into a per-part aggregate joined
    back — three nesting levels, zero per-row subquery execution
    (plan-pinned)."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _Q20_SQL)


# --- late r10: the co-bucketed fact warehouse path --------------------------


def ensure_colocated_facts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-at-most-once CO-BUCKETED orders+lineitem tables on the join
    key (late r10): the write-once/shuffle-never amortization for the
    fact-fact join — at 100 TB the orders⋈lineitem shuffle is THE
    dominant exchange of every order-level query, and paying it once at
    load erases it from every later query (SortMergeJoin reads both
    sides pre-partitioned; buckets ≈ total size / target partition
    size).

    Keyed on the source fingerprint like the other standing layouts.
    r11: the DATA is built once per fingerprint (staged + marker-
    committed, see sinks.ensure_bucketed_table) and later sessions —
    or the loser of a concurrent-build race — only REGISTER the
    existing files; previously every new session rewrote the files in
    place, which both lost the amortization and could yank files out
    from under a concurrent session's scan."""
    from .. import sinks

    t_o, t_l, root = _colocated_names(sf_dir, 8)
    sinks.ensure_bucketed_table(
        spark, t_o, f"{root}/orders", "o_orderkey", 8,
        lambda: load(spark, sf_dir, "orders"),
    )
    sinks.ensure_bucketed_table(
        spark, t_l, f"{root}/lineitem", "l_orderkey", 8,
        lambda: load(spark, sf_dir, "lineitem"),
    )
    return t_o, t_l


def _colocated_names(sf_dir: str, num_buckets: int) -> tuple[str, str, str]:
    # Fingerprint BOTH source files: regenerating lineitem alone must
    # rotate the key too, or a metastore-backed deployment would keep
    # serving the stale bucketed lineitem copy.
    root = standing_root(
        "bkt", sf_dir, ("orders.parquet", "lineitem.parquet"), num_buckets
    )
    key = root.rsplit("_", 1)[1]
    return f"orders_bkt_{key}", f"lineitem_bkt_{key}", root


@register(
    "q12_colocated_bucketed",
    demoted=True,  # value twin of q12_priority_shipping through the bucketed path
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_colocated_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 through the CO-BUCKETED fact warehouse (late r10): the
    same query as ``q12_priority_shipping`` — and the SAME oracle, so
    the hash proves the bucketed layout is pure physical reorganization
    — but the orders⋈lineitem join reads both sides pre-partitioned on
    the order key and skips its shuffle (plan-pinned: with broadcast
    off, the only Exchange left in the whole plan is the final
    low-cardinality l_linestatus rollup)."""
    t_o, t_l = ensure_colocated_facts(spark, sf_dir)
    o = spark.table(t_o)
    li = spark.table(t_l).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --- late r10: two more parser-surface shapes -------------------------------

_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey,
       CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
FROM customer c,
     LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
              WHERE o.o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey
              LIMIT 2) t
ORDER BY c.c_custkey, o_totalprice DESC, t.o_orderkey
"""

_RECURSIVE_SQL = """
WITH RECURSIVE ordered AS (
    SELECT o_custkey, o_orderkey,
           lead(o_orderkey) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS next_key,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
),
walk AS (
    SELECT o_custkey, o_orderkey, 1 AS depth FROM ordered WHERE rn = 1
    UNION ALL
    SELECT w.o_custkey, o2.next_key AS o_orderkey, w.depth + 1
    FROM walk w
    JOIN ordered o2 ON o2.o_orderkey = w.o_orderkey
    WHERE o2.next_key IS NOT NULL
)
SELECT o_custkey AS c_custkey, CAST(MAX(depth) AS BIGINT) AS chain_len
FROM walk
GROUP BY o_custkey
ORDER BY c_custkey
"""


@register(
    "lateral_topn_per_customer",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_LATERAL_SQL,
)
def lateral_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with LIMIT (late r10): each
    customer's top-2 orders by price through the SQL-standard lateral
    join — the per-row-subquery SURFACE whose efficient plan is the
    windowed top-k (Catalyst's DecorrelateInnerQuery rewrites the
    correlated LIMIT into a partitioned rank filter; executing the
    subquery per customer row would be O(customers · orders)).  Same
    answer as the window-function formulation the engine already grades
    (top_orders_per_customer) — this row proves the PARSER PATH."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _LATERAL_SQL)


@register(
    "recursive_cte_order_chains",
    demoted=True,  # SQL-entry family driver-graded via q17
    oracle=_RECURSIVE_SQL,
)
def recursive_cte_order_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (late r10, Spark 4's recursive CTE): walk each
    customer's order chain (first order by date, then successor links
    precomputed with lead()) accumulating depth; the chain length per
    customer must equal their order count — a naturally-ACYCLIC
    recursion with data-driven termination, exercised over real
    successor edges rather than a toy series.  Both engines run the
    IDENTICAL recursive text; the iterative operator under it is the
    same per-round join+union shape as the engine's hand-built
    transitive_reachability (operators/graph.py), now reachable from
    plain SQL."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _RECURSIVE_SQL)
