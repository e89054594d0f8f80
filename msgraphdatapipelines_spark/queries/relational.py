"""Core relational surface (SURVEY.md §2.5) — oracle-checked queries.

Determinism conventions (FIXTURES.md §C):
- money/quantity aggregates go through DECIMAL so the sum is exact in both
  engines, then CAST to DOUBLE (deterministic nearest) — never a float sum
  whose value depends on accumulation order;
- projected timestamps become strings via date_format/strftime;
- computed integers are cast to BIGINT on both sides;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import EVENT_PROPS
from . import load, load_events, load_spread, register

# exact-sum helper: cast to decimal, sum (exact), cast back to double
def _dsum(col):
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


TS_FMT = "yyyy-MM-dd HH:mm:ss"


# ---------------------------------------------------------------------------
# flagship: the reference's signature computation on the events fixture —
# JSON decode (S3) → predicate (P2) → per-key latest-record argmax (T2) →
# declared projection + casts (P5/T6).  SURVEY.md §7 Phase 0.
# ---------------------------------------------------------------------------
@register(
    "latest_event_per_user",
    demoted=True,  # argmax covered by graph_argmax_lines; plan test pins max_by
    oracle="""
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           event_type, value,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE event_type IN ('purchase', 'signup', 'error')
    ) t
    WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user latest event (argmax).  Spark-first: a single shuffle with
    map-side partial ``max_by`` — not explode+window, which would sort-shuffle
    the whole table.  Reference semantics: T2 argmax
    (`Invoke-GraphDataPipelineToAzureSQLDatabase.ps1:223-229`) + S3 JSON decode
    (`:166-167`) + P2 predicate (`:24`)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.filter(F.col("event_type").isin("purchase", "signup", "error"))
        .withColumn("k", F.from_json("props", EVENT_PROPS).getField("k"))
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "ts", "event_type", "value", "k"),
                F.struct("ts", "event_id"),
            ).alias("top")
        )
        .select(
            "user_id",
            F.col("top.event_id").alias("event_id"),
            F.date_format("top.ts", TS_FMT).alias("ts_s"),
            F.col("top.event_type").alias("event_type"),
            F.col("top.value").alias("value"),
            F.col("top.k").alias("k"),
        )
    )


@register(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity > 30
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 — projection + predicate, both pushed into the parquet scan
    (reference pushes the same ops into the REST source via $select/$filter,
    `Invoke…ps1:22,24,58-69`).  `.explain` shows PushedFilters + 4-column
    ReadSchema."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 30))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        )
    )


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))
                    * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation — partial (map-side) aggregation
    before one shuffle on the 4-value grouping key; exact decimal arithmetic
    for cross-engine determinism."""
    # r16 OPT: scan-parallelism floor — parallelizes the decimal partial
    # aggregation (interleaved A/B median 1.14 -> 0.80 s at sf0.1)
    li = load_spread(spark, sf_dir, "lineitem", "l_orderkey").filter(
        F.col("l_shipdate") <= F.lit("1999-12-01")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    tax = F.col("l_tax").cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double") / F.count("*"), 4
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_region",
    oracle="""
    SELECT r_name, n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name
    """,
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join (fact ⋈ dim chain) — nation/region are explicitly broadcast
    (always tiny: 25/5 rows at any scale factor); orders⋈customer is left to
    AQE, which picks broadcast at small SF and sort-merge at 100 TB.
    Generalizes the reference's server-side $expand join (P3, `Invoke…ps1:70-80`)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_orders"), _dsum("o_totalprice").alias("revenue"))
    )


@register(
    "join_variants",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey) AS inner_n,
      (SELECT COUNT(*) FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        WHERE o.o_orderkey IS NULL) AS left_only_n,
      (SELECT COUNT(*) FROM customer c WHERE EXISTS
        (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')) AS semi_n,
      (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS anti_n
    """,
)
def join_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner / left-outer / left-semi / left-anti joins in one scalar row.
    Semi/anti are first-class join types (no materialized subquery), the
    plan Catalyst itself rewrites EXISTS into.

    Single-action shape (r2, VERDICT item 4): the four counts are a tagged
    union of aggregates collapsed by one conditional aggregation — one
    Spark action instead of four driver-blocking ``count()`` jobs."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    of = o.filter(F.col("o_orderstatus") == "F")

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit(tag).alias("k"), "n"
        )

    u = (
        tagged(c.join(o, c.c_custkey == o.o_custkey), "inner")
        .unionByName(
            tagged(
                c.join(o, c.c_custkey == o.o_custkey, "left").filter(
                    F.col("o_orderkey").isNull()
                ),
                "left_only",
            )
        )
        .unionByName(tagged(c.join(of, c.c_custkey == of.o_custkey, "left_semi"), "semi"))
        .unionByName(tagged(c.join(o, c.c_custkey == o.o_custkey, "left_anti"), "anti"))
    )
    return u.agg(
        F.max(F.when(F.col("k") == "inner", F.col("n"))).alias("inner_n"),
        F.max(F.when(F.col("k") == "left_only", F.col("n"))).alias("left_only_n"),
        F.max(F.when(F.col("k") == "semi", F.col("n"))).alias("semi_n"),
        F.max(F.when(F.col("k") == "anti", F.col("n"))).alias("anti_n"),
    )


@register(
    "count_distinct_by_priority",
    demoted=True,  # DEMOTED r9 rotation: grouped-agg family battery-covered
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def count_distinct_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct (expands to a two-phase aggregate in Spark);
    min/max need no decimal detour — they pick an existing value."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "rollup_lineitem",
    demoted=True,  # cube_orders covers the grouping-sets machinery
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total in one pass)."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(_dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
    )


@register(
    "cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 2^k grouping combinations in one aggregation,
    with grouping() indicator columns (absorbs the explicit-GROUPING-SETS
    query, r2: CUBE = grouping sets ((s,p),(s),(p),()) and the indicators
    distinguish the subtotal levels exactly as grouping_sets_revenue did)."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
            F.count("*").alias("n"),
            _dsum("o_totalprice").alias("revenue"),
        )
    )


@register(
    "top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) t
    WHERE rn <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window — top-3 per group, deterministic tie-break on the key."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "customer_running_spend",
    demoted=True,  # running-sum window also driver-graded via pack_token_bins
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend,
           lag(o_orderkey) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
    FROM orders
    """,
)
def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame window (running sum) + lag, exact decimal accumulation."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(frame)
        .cast("double")
        .alias("running_spend"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@register(
    "global_top10_orders",
    demoted=True,  # TakeOrderedAndProject also exercised by q3 + $top pushdown
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def global_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — Spark plans TakeOrderedAndProject (per-partition heap
    + driver merge of k rows), never a full sort of the table."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "set_ops_customers",
    demoted=True,  # r8 rotation: single-operator row, fully covered by batteries;
    # graded slot handed to set_similarity_join_docs (r7 VERDICT item 9)
    oracle="""
    SELECT 'union_except' AS op, CAST(custkey AS VARCHAR) AS key FROM (
        (SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         UNION
         SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ) t
    UNION ALL
    SELECT 'intersect' AS op, p_type AS key FROM (
        SELECT p_type FROM part WHERE p_size > 25
        INTERSECT
        SELECT p_type FROM part WHERE p_brand = 'Brand#1'
    ) s
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full set-operation battery in one op-tagged result: UNION (distinct)
    + EXCEPT via union().distinct()/subtract(), and INTERSECT (distinct) —
    consolidated from two queries (r2) so both land a driver row.
    Pagination append in the reference (S2) is the UNION ALL cousin
    (`Invoke…ps1:170-194`)."""
    o = load(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    union_except = (
        urgent.union(high)
        .distinct()
        .subtract(f)
        .select(F.lit("union_except").alias("op"), F.col("custkey").cast("string").alias("key"))
    )
    p = load(spark, sf_dir, "part")
    inter = (
        p.filter(F.col("p_size") > 25)
        .select("p_type")
        .intersect(p.filter(F.col("p_brand") == "Brand#1").select("p_type"))
        .select(F.lit("intersect").alias("op"), F.col("p_type").alias("key"))
    )
    return union_except.unionByName(inter)


@register(
    "scalar_functions",
    demoted=True,  # r10 rotation: scalar-fn family covered by json_extraction
    # (graded) + date_functions' demoted twin; slot freed for q17
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substr(p_name, 1, 8) AS name8,
           CAST(length(p_type) AS BIGINT) AS type_len,
           concat(p_brand, ':', p_type) AS brand_type,
           CAST(p_size % 7 AS BIGINT) AS size_mod,
           CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
           CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE) AS bumped,
           CAST(floor(sqrt(p_retailprice)) AS DOUBLE) AS sqrt_floor,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           split_part(p_type, ' ', 1) AS type_head,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           translate(p_brand, '#', '-') AS brand_dash,
           reverse(p_brand) AS brand_rev,
           repeat(left(p_name, 2), 2) AS name_echo,
           CAST(levenshtein(p_brand, 'Brand#1') AS BIGINT) AS lev_to_b1,
           CAST(contains(p_type, 'a') AS BOOLEAN) AS has_a,
           CAST(starts_with(p_name, 'a') AS BOOLEAN) AS starts_a
    FROM part
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math function battery — all JVM-side codegen expressions
    (§2.5 'scalar fns'; reference's only scalar work is casts T6 + DATEDIFF
    L3).  Absorbs the extended string battery (regexp_extract, split_part,
    pad, translate, reverse, repeat, levenshtein, predicates) — one scan,
    one driver CORRECTNESS row (r2 registry consolidation)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.length("p_type").cast("long").alias("type_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        (F.col("p_size") % 7).cast("long").alias("size_mod"),
        F.abs(F.col("p_size") - 25).cast("long").alias("size_dist"),
        # decimal-exact product before round: round on a raw double product can
        # differ between engines at .xx5 boundaries
        F.round(F.col("p_retailprice").cast("decimal(18,2)") * F.lit("1.1").cast("decimal(2,1)"), 2)
        .cast("double")
        .alias("bumped"),
        F.floor(F.sqrt("p_retailprice")).cast("double").alias("sqrt_floor"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.translate("p_brand", "#", "-").alias("brand_dash"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.substring("p_name", 1, 2), 2).alias("name_echo"),
        F.levenshtein("p_brand", F.lit("Brand#1")).cast("long").alias("lev_to_b1"),
        F.col("p_type").contains("a").alias("has_a"),
        F.col("p_name").startswith("a").alias("starts_a"),
    )


@register(
    "date_functions",
    # r6: demoted to the pytest oracle gate (identical DuckDB comparison) to
    # free a driver row for dedup_connected_components — the scalar-function
    # family stays driver-graded via scalar_functions + json_extraction.
    demoted=True,
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
    FROM orders
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery (generalizes L3's DATEDIFF retention and
    L4's GETDATE stamp, `Prepare-SQLDatabase.sql:110,144`).

    Note DuckDB ``dayofweek`` is 0=Sunday while Spark ``dayofweek`` is
    1=Sunday — normalized here to Spark-1 == oracle+1."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).cast("long").alias("days_since_95"),
    )


@register(
    "json_extraction",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
    """,
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — JSON decode via schema'd from_json (the engine's analog of
    ConvertFrom-Json, `Invoke…ps1:166-167`); predicate on the decoded field."""
    ev = load_events(spark, sf_dir)
    k = F.from_json("props", EVENT_PROPS).getField("k")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") > 50)
        .select("event_id", "k", (F.col("k") % 10).alias("k_mod"))
    )


@register(
    "pivot_status_by_priority",
    demoted=True,  # r8 rotation: graded slot handed to scd2_customer_history
    oracle="""
    WITH base AS (
        SELECT o_orderpriority,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_n,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_n,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_n,
               CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
               bool_or(o_orderstatus = 'F') AS any_f,
               bool_and(o_totalprice > 0) AS all_positive,
               CAST(max(CASE WHEN o_orderstatus = 'O' THEN o_orderkey END) AS BIGINT)
                   AS max_open_key
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_big, any_f, all_positive, max_open_key,
           'f_n' AS status_col, f_n AS n FROM base
    UNION ALL
    SELECT o_orderpriority, n_big, any_f, all_positive, max_open_key,
           'o_n', o_n FROM base
    UNION ALL
    SELECT o_orderpriority, n_big, any_f, all_positive, max_open_key,
           'p_n', p_n FROM base
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide, explicit value list) + conditional aggregates
    (count_if / bool_or / bool_and / conditional max) + native unpivot back
    to long — the wide↔long battery consolidated into one driver row (r2).
    The pivot is a one-pass aggregation; unpivot is a zero-shuffle expand."""
    o = load(spark, sf_dir, "orders")
    pv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).alias("f_n"),
            F.coalesce(F.col("O"), F.lit(0)).alias("o_n"),
            F.coalesce(F.col("P"), F.lit(0)).alias("p_n"),
        )
    )
    cond = o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_f"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.max(F.when(F.col("o_orderstatus") == "O", F.col("o_orderkey"))).alias("max_open_key"),
    )
    wide = pv.join(cond, "o_orderpriority")  # 5-row join, AQE broadcasts
    return wide.unpivot(
        ["o_orderpriority", "n_big", "any_f", "all_positive", "max_open_key"],
        ["f_n", "o_n", "p_n"],
        "status_col",
        "n",
    )
