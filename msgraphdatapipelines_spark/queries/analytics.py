"""Event-analytics query family (r7): time-series regularization, funnels,
cohort retention, grouped regression, Markov transitions, classifier
evaluation — the downstream-consumer workloads over the reference's event
exports (charter extensions, SURVEY.md §2.5).

All rows are DEMOTED (pytest oracle gate): the driver's 50-row budget is
full and the graded families (windows, aggregation, sessionization) already
cover the underlying engine machinery; these rows pin the COMPOSITIONS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load_events, register


@register(
    "gap_fill_user_daily",
    demoted=True,  # window/agg machinery driver-graded via trailing_window/sessionize
    oracle="""
    WITH e AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               count(*) AS n_events, sum(value) AS v
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM e GROUP BY 1),
    spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        FROM b
    ),
    j AS (
        SELECT s.user_id, s.day, coalesce(e.n_events, 0) AS n_events, e.v
        FROM spine s LEFT JOIN e ON s.user_id = e.user_id AND s.day = e.day
    )
    SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
           round(last_value(v IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY day), 6) AS value_ffill
    FROM j
    """,
)
def gap_fill_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-grid densification per user (r7): one row per user per day
    from that user's first to last event — days with no events appear with
    ``n_events = 0`` and the day's summed value forward-filled from the
    last active day (``operators/timeseries.resample_ffill``).  The
    resample step every telemetry consumer runs before charting/ML.

    Plan: one (user, day) hash agg; a per-key bounds agg; narrow
    sequence+explode spine (no global calendar cross join); left join
    back on (user, day); ONE running-frame window for the fill."""
    from ..operators.timeseries import resample_ffill

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("n_events"), F.sum("value").alias("v"))
    dense = resample_ffill(
        daily,
        key_cols=["user_id"],
        bucket_col="day",
        step="1 day",
        zero_cols=["n_events"],
        ffill_cols=["v"],
    )
    return dense.select(
        "user_id",
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("v", 6).alias("value_ffill"),
    )


@register(
    "funnel_conversion",
    demoted=True,  # join/agg machinery driver-graded via q3/q5/join_variants
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
    SELECT step, step_name, n_users,
           round(CAST(n_users AS DOUBLE)
                 / (SELECT count(*) FROM v), 6) AS conversion
    FROM (
        SELECT 1 AS step, 'view' AS step_name, (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_users
        UNION ALL
        SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM c)
        UNION ALL
        SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM p)
    )
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel (r7): users who did view → then click → then
    purchase, each step's timestamp strictly after the previous step's
    FIRST occurrence (the standard strict-sequence funnel).  Output: one
    row per step with the user count and conversion vs step 1.

    Plan: per-step (filter → per-user min-ts agg) chained by an equi-join
    on user with the time bound as a join post-condition — step k's input
    is only step k−1's survivors, so work SHRINKS down the funnel; the
    three 1-row counts union and a broadcast join attaches the step-1
    denominator.  No windows over the raw stream, no per-user collect."""
    ev = load_events(spark, sf_dir)
    steps = ["view", "click", "purchase"]
    prev = None
    counts = []
    for i, s in enumerate(steps, start=1):
        cur = ev.filter(F.col("event_type") == s)
        if prev is not None:
            cur = cur.join(prev, "user_id").filter(F.col("ts") > F.col("__pt"))
        cur = cur.groupBy("user_id").agg(F.min("ts").alias("__pt"))
        counts.append(
            cur.agg(F.count("*").cast("long").alias("n_users")).select(
                F.lit(i).alias("step"), F.lit(s).alias("step_name"), "n_users"
            )
        )
        prev = cur
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    base = counts[0].select(F.col("n_users").alias("__base"))
    return out.crossJoin(F.broadcast(base)).select(
        "step",
        "step_name",
        "n_users",
        F.round(F.col("n_users").cast("double") / F.col("__base"), 6).alias("conversion"),
    )


@register(
    "cohort_retention_weekly",
    demoted=True,  # agg/window machinery driver-graded via cube_orders/sessionize
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    sizes AS (SELECT cohort_week, count(*) AS n_cohort FROM firsts GROUP BY 1),
    active AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST((epoch(date_trunc('week', e.ts)) - epoch(f.cohort_week))
                    / 604800 AS BIGINT) AS week_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT a.cohort_week, a.week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(any_value(s.n_cohort) AS BIGINT) AS n_cohort,
           round(CAST(count(*) AS DOUBLE) / any_value(s.n_cohort), 6) AS retention
    FROM active a JOIN sizes s ON a.cohort_week = s.cohort_week
    GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (r7): users grouped by the week of their
    FIRST event; for each cohort × week-offset, how many distinct cohort
    members were active (the retention triangle every growth dashboard
    draws over the reference's sign-in exports).

    Week offset = exact epoch-second difference / 604800 — date_trunc'd
    weeks differ by whole weeks, so the integer division is exact and
    engine-agnostic (calendar week-diff functions disagree across
    engines).  Plan: per-user first-event agg (hash), SHUFFLE-join the
    per-user cohort map onto events on user_id (one row per user =
    data-sized, an unbounded broadcast at 100 TB — r7 ADVICE item 5;
    AQE still broadcasts it at small SF where it measures under the
    threshold), distinct (user, offset), one final agg — only the
    |weeks|-sized cohort-size frame rides an explicit broadcast."""
    ev = load_events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("n_cohort"))
    offset = (
        (
            F.unix_timestamp(F.date_trunc("week", F.col("ts")))
            - F.unix_timestamp(F.col("cohort_week"))
        )
        / 604800
    ).cast("long")
    active = (
        ev.join(firsts, "user_id")
        .select("user_id", "cohort_week", offset.alias("week_offset"))
        .distinct()
    )
    return (
        active.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.first("n_cohort").cast("long").alias("n_cohort"),
        )
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            F.round(F.col("n_active").cast("double") / F.col("n_cohort"), 6).alias(
                "retention"
            ),
        )
    )


@register(
    "markov_event_transitions",
    demoted=True,  # lag/window machinery driver-graded via window_rank_battery
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    t AS (SELECT event_type AS from_type, next_type AS to_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM t
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (r7): P(next event type | current type), the behavioral fingerprint
    a sessionized event export feeds into anomaly/recommendation models.

    Determinism: sequences order by (ts, event_id) — event_id is unique,
    so ties on ts cannot flip adjacent pairs across engines.  Plan: ONE
    window shuffle on user_id for the lead(), a (from, to) hash agg
    (|types|²-sized output), and a window over that tiny frame for row
    normalization."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").cast("long").alias("n"))
    wn = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wn), 6).alias("p"),
    )


@register(
    "regression_by_event_type",
    demoted=True,  # agg machinery driver-graded via pricing_summary/approx_distinct_stats
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(value, hour(ts)), 6) AS slope,
           round(regr_intercept(value, hour(ts)), 6) AS intercept,
           round(regr_r2(value, hour(ts)), 6) AS r2,
           round(corr(value, hour(ts)), 6) AS corr_vh
    FROM events GROUP BY 1
    """,
)
def regression_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (r7): slope/intercept/R²/correlation of
    event value against hour-of-day, per event type — the trend-detection
    pass run over every telemetry export, entirely inside ONE hash
    aggregation (Spark's regr_* / corr are single-pass co-moment
    aggregates with map-side partials; no iterative solver, no collect).
    At 100 TB this is the same shuffle as any groupBy-agg."""
    ev = load_events(spark, sf_dir)
    x = F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope"),
        F.round(F.regr_intercept(F.col("value"), x), 6).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
        F.round(F.corr(F.col("value"), x), 6).alias("corr_vh"),
    )


@register(
    "classifier_eval_metrics",
    demoted=True,  # classifier family pinned via nb_langid_classifier
    oracle="""
    WITH cnt AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
    maj AS (
        SELECT source, lang AS pred FROM (
            SELECT source, lang,
                   row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn
            FROM cnt) WHERE rn = 1
    ),
    pr AS (SELECT d.lang AS label, m.pred
           FROM documents d JOIN maj m ON d.source = m.source),
    conf AS (SELECT label, pred, count(*) AS n FROM pr GROUP BY 1, 2),
    classes AS (SELECT DISTINCT label AS class FROM conf
                UNION SELECT DISTINCT pred FROM conf),
    tpx AS (SELECT label AS class, n AS tp FROM conf WHERE label = pred),
    lt AS (SELECT label AS class, sum(n) AS support FROM conf GROUP BY 1),
    pt AS (SELECT pred AS class, sum(n) AS n_pred FROM conf GROUP BY 1),
    m AS (
        SELECT c.class,
               coalesce(lt.support, 0) AS support,
               coalesce(tpx.tp, 0) AS tp,
               coalesce(pt.n_pred, 0) AS n_pred
        FROM classes c
        LEFT JOIN tpx ON c.class = tpx.class
        LEFT JOIN lt ON c.class = lt.class
        LEFT JOIN pt ON c.class = pt.class
    ),
    r AS (
        SELECT class, support, tp, n_pred,
               CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred END AS p,
               CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support END AS rcl
        FROM m
    )
    SELECT class, CAST(support AS BIGINT) AS support, CAST(tp AS BIGINT) AS tp,
           CAST(n_pred AS BIGINT) AS n_pred,
           round(p, 6) AS precision, round(rcl, 6) AS recall,
           round(CASE WHEN p IS NOT NULL AND rcl IS NOT NULL AND p + rcl > 0
                      THEN 2 * p * rcl / (p + rcl) END, 6) AS f1
    FROM r
    """,
)
def classifier_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier scorecard (r7): per-class precision/recall/F1/support
    (``operators/classify.eval_classification``) for a deterministic
    source-majority language predictor (each doc predicted as its
    source's most common lang, ties to the alphabetically-first) against
    the true lang labels.  The predictor is intentionally SQL-replayable
    so the ORACLE checks the metric algebra, not the model; the same
    operator scores ``nb_score`` output or any external model's
    predictions.  Plan: majority map = one (source, lang) agg + a
    per-source top-1 window on the tiny count frame; metrics = one
    confusion agg + broadcast re-joins (operator docstring)."""
    from ..operators.classify import eval_classification

    from . import load

    docs = load(spark, sf_dir, "documents")
    cnt = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    maj = (
        cnt.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("source", F.col("lang").alias("pred"))
    )
    preds = docs.join(F.broadcast(maj), "source").select(
        F.col("lang").alias("label"), "pred"
    )
    return eval_classification(preds, "label", "pred")


def _ab_chi2_oracle() -> str:
    from ..operators.sampling import split_by_group_sql

    case = split_by_group_sql("user_id", [("A", 0.5), ("B", 0.5)], seed="ab")
    return f"""
    WITH assigned AS (
        SELECT event_type, {case} AS arm FROM events
    ),
    obs AS (
        SELECT event_type, arm, count(*) AS o FROM assigned GROUP BY 1, 2
    ),
    tot AS (
        SELECT o.event_type, o.arm, o.o,
               sum(o.o) OVER (PARTITION BY o.event_type) AS row_t,
               sum(o.o) OVER (PARTITION BY o.arm) AS col_t,
               sum(o.o) OVER () AS n
        FROM obs o
    ),
    contrib AS (
        SELECT event_type, arm, o,
               CAST(row_t AS DOUBLE) * col_t / n AS e,
               CAST(floor(
                   ((o - CAST(row_t AS DOUBLE) * col_t / n)
                    * (o - CAST(row_t AS DOUBLE) * col_t / n))
                   / (CAST(row_t AS DOUBLE) * col_t / n) * 1000000
               ) AS BIGINT) AS c_q
        FROM tot
    )
    SELECT event_type, arm, o AS n_events, round(e, 4) AS expected,
           CAST(any_value(s.chi2_q) AS DOUBLE) / 1000000 AS chi2_total
    FROM contrib
    CROSS JOIN (SELECT sum(c_q) AS chi2_q FROM contrib) s
    GROUP BY event_type, arm, o, e, s.chi2_q
    """


@register(
    "ab_test_chi2",
    demoted=True,  # analytics family driver-graded via count_distinct/moments rows
    oracle=_ab_chi2_oracle(),
)
def ab_test_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test independence check (r8): users hash-assigned 50/50 to
    arms with the leakage-safe ``split_by_group`` draw, then a chi-square
    statistic over the event_type × arm contingency table — the
    guardrail query every experimentation pipeline runs to catch
    assignment skew (sample-ratio mismatch shows up as a large χ²).

    Determinism: per-cell contributions (o−e)²/e quantize to
    floor(·1e6) BIGINTs before the global sum, so χ² replays
    bit-identically cross-engine (the pagerank/BM25 quantization
    discipline).  Plan: one (type, arm) hash agg on the facts, window
    margins over the |types|·2-row table, one 1-row total broadcast —
    the facts shuffle once."""
    from ..operators.sampling import split_by_group

    ev = load_events(spark, sf_dir).select(
        "event_type", split_by_group("user_id", [("A", 0.5), ("B", 0.5)], seed="ab").alias("arm")
    )
    obs = ev.groupBy("event_type", "arm").agg(F.count(F.lit(1)).alias("o"))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("arm")
    w_all = Window.partitionBy()
    tot = obs.select(
        "event_type",
        "arm",
        "o",
        F.sum("o").over(w_row).alias("row_t"),
        F.sum("o").over(w_col).alias("col_t"),
        F.sum("o").over(w_all).alias("n"),
    )
    e = F.col("row_t").cast("double") * F.col("col_t") / F.col("n")
    contrib = tot.select(
        "event_type",
        "arm",
        "o",
        e.alias("e"),
        F.floor(((F.col("o") - e) * (F.col("o") - e)) / e * F.lit(1e6))
        .cast("long")
        .alias("c_q"),
    )
    total = contrib.agg(F.sum("c_q").alias("chi2_q"))
    return contrib.crossJoin(F.broadcast(total)).select(
        "event_type",
        "arm",
        F.col("o").alias("n_events"),
        F.round("e", 4).alias("expected"),
        (F.col("chi2_q").cast("double") / 1e6).alias("chi2_total"),
    )


@register(
    "triangle_census_suppliers",
    demoted=True,  # graph family driver-graded via dedup_connected_components
    oracle="""
    WITH e AS (
        SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_partkey = l2.l_partkey AND l1.l_suppkey < l2.l_suppkey
    ),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY v
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM e e1
        JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           round(3.0 * (SELECT t FROM tri)
                 / (SELECT SUM(d * (d - 1) // 2) FROM deg), 6) AS clustering_coeff
    """,
)
def triangle_census_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census (late r10) of the supplier co-part graph (edge =
    two suppliers ship at least one common part): vertices, edges,
    wedges, triangles, global clustering coefficient — the classic
    distributed-join graph statistic (Suri & Vassilvitskii 2011; see
    operators/graph.triangle_stats for the plan and the skew escape
    hatch).  Exact integer censuses; one double divide at the end."""
    from . import load
    from ..operators.graph import cooccurrence_edges, triangle_stats

    li = load(spark, sf_dir, "lineitem")
    # per-part pair fan-out is quadratic in a hub part's suppliers
    # (PERF.md sweep #3 note)
    edges = cooccurrence_edges(li, "l_partkey", "l_suppkey")
    return triangle_stats(edges)


@register(
    "copurchase_top_pairs",
    demoted=True,  # self-join co-occurrence family; joins driver-graded via q3/q5
    oracle="""
    SELECT l1.l_partkey AS part_a, l2.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM lineitem l1 JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    GROUP BY part_a, part_b
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
)
def copurchase_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair counts (late r10): the top co-purchased part
    pairs by order co-occurrence — the support-counting core of frequent
    itemset mining (Agrawal & Srikant's Apriori, VLDB 1994, at the k=2
    level every recommender baseline starts from).  One equi self-join
    on the basket key with the canonical part_a < part_b orientation
    (each unordered pair counted once per co-occurring line pair), one
    grouped count, deterministic top-20.  Per-basket fan-out is
    (lines choose 2) — bounded by basket size, so the join output is
    Σ lines²/order, linear in orders for bounded baskets (the TPC-H
    shape); a power-law basket would cap lines per basket upstream."""
    from . import load

    li = load(spark, sf_dir, "lineitem")
    l2 = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pk2")
    )
    return (
        li.join(l2, (li.l_orderkey == l2.ok2) & (li.l_partkey < l2.pk2))
        .groupBy(
            F.col("l_partkey").alias("part_a"), F.col("pk2").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@register(
    "association_rules_parts",
    demoted=True,  # co-occurrence family; ratio discipline per q8/q14
    oracle="""
    WITH pb AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair AS (
        SELECT a.l_partkey AS ante, b.l_partkey AS cons,
               CAST(COUNT(*) AS BIGINT) AS s_ab
        FROM pb a JOIN pb b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY ante, cons
    ),
    sup AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM pb GROUP BY 1),
    nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM pb)
    SELECT ante, cons, s_ab,
           round(CAST(s_ab AS DOUBLE) / CAST(sa.s AS DOUBLE), 6) AS confidence,
           round(CAST(s_ab AS DOUBLE) * CAST(nb.n AS DOUBLE)
                 / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) AS lift
    FROM pair
    JOIN sup sa ON ante = sa.l_partkey
    JOIN sup sb ON cons = sb.l_partkey
    CROSS JOIN nb
    WHERE s_ab >= 3
    ORDER BY lift DESC, ante, cons
    LIMIT 20
    """,
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (late r10): confidence and lift for part pairs
    at basket-level support ≥ 3 — the rule-generation step above
    ``copurchase_top_pairs``' raw counting (Agrawal & Srikant 1994;
    lift per Brin et al. 1997).  All supports are exact basket-distinct
    BIGINT counts; every ratio casts to DOUBLE before one multiply /
    divide chain so both engines produce bit-identical IEEE results.
    Plan: one distinct (order, part) projection feeds the pair
    self-join, the two single-part supports broadcast back onto the
    pair table (model-sized), and the basket total is a 1-row cross
    join — one fact-sized shuffle total."""
    from . import load

    li = load(spark, sf_dir, "lineitem")
    pb = li.select("l_orderkey", "l_partkey").distinct()
    b = pb.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pk2")
    )
    pair = (
        pb.join(b, (pb.l_orderkey == b.ok2) & (pb.l_partkey < b.pk2))
        .groupBy(F.col("l_partkey").alias("ante"), F.col("pk2").alias("cons"))
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= 3)
    )
    sup = pb.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    n_baskets = pb.select("l_orderkey").distinct().count()
    sa = sup.select(F.col("l_partkey").alias("ante"), F.col("s").alias("sa"))
    sb = sup.select(F.col("l_partkey").alias("cons"), F.col("s").alias("sb"))
    return (
        pair.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sb), "cons")
        .select(
            "ante",
            "cons",
            "s_ab",
            F.round(
                F.col("s_ab").cast("double") / F.col("sa").cast("double"), 6
            ).alias("confidence"),
            F.round(
                F.col("s_ab").cast("double")
                * F.lit(float(n_baskets))
                / (F.col("sa").cast("double") * F.col("sb").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("ante"), F.asc("cons"))
        .limit(20)
    )


@register(
    "drift_psi_order_price",
    demoted=True,  # monitoring family; quantized-log discipline per DSIR/CCNet rows
    oracle="""
    WITH binned AS (
        SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 9) AS bin,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END AS period
        FROM orders
    ),
    grid AS (
        SELECT g.bin,
               CAST(COALESCE(SUM(CASE WHEN period = 0 THEN 1 END), 0) + 1 AS BIGINT) AS a,
               CAST(COALESCE(SUM(CASE WHEN period = 1 THEN 1 END), 0) + 1 AS BIGINT) AS b
        FROM (SELECT unnest(generate_series(0, 9)) AS bin) g
        LEFT JOIN binned USING (bin)
        GROUP BY g.bin
    ),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb FROM grid),
    terms AS (
        SELECT bin, a, b,
               (CAST(FLOOR(ln(CAST(a AS DOUBLE)) * 1000000) AS BIGINT)
                + CAST(FLOOR(ln(CAST(tb AS DOUBLE)) * 1000000) AS BIGINT)
                - CAST(FLOOR(ln(CAST(b AS DOUBLE)) * 1000000) AS BIGINT)
                - CAST(FLOOR(ln(CAST(ta AS DOUBLE)) * 1000000) AS BIGINT)) AS lr_micro
        FROM grid CROSS JOIN tot
    )
    SELECT round(
        CAST(SUM((a * tb - b * ta) * lr_micro) AS DOUBLE)
        / (CAST((SELECT ta FROM tot) AS DOUBLE)
           * CAST((SELECT tb FROM tot) AS DOUBLE) * 1000000.0),
        8) AS psi
    FROM terms CROSS JOIN tot
    """,
)
def drift_psi_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor (late r10): PSI of the
    order-price distribution between two periods (pre/post 1998) over
    ten fixed-width bins — the deployment-monitoring statistic every
    production scoring pipeline watches (PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ),
    the credit-scoring drift heuristic).

    Determinism discipline (the DSIR/CCNet quantized-log pattern): bin
    counts are exact integers (+1 smoothing makes empty bins finite);
    each log-ratio is a SUM OF PER-TERM micro-nat quantizations
    (floor(ln·10⁶) per count, identical formula both engines), and the
    whole PSI numerator accumulates as one exact BIGINT before a single
    double divide — so the engines agree bit-for-bit despite libm.  At
    100 TB this is one scan → 10-bin agg → O(1) arithmetic."""
    from . import load

    o = load(spark, sf_dir, "orders")
    binned = o.select(
        F.least(F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        F.when(F.col("o_orderdate") < "1998-01-01", 0).otherwise(1).alias("period"),
    )
    grid = spark.range(10).select(F.col("id").alias("bin"))
    counts = (
        grid.join(binned, "bin", "left_outer")
        .groupBy("bin")
        .agg(
            (
                F.coalesce(F.sum(F.when(F.col("period") == 0, 1)), F.lit(0)) + 1
            ).alias("a"),
            (
                F.coalesce(F.sum(F.when(F.col("period") == 1, 1)), F.lit(0)) + 1
            ).alias("b"),
        )
    )
    tot = counts.agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb")
    )

    def lnq(c):
        return F.floor(F.log(c.cast("double")) * 1000000).cast("long")

    terms = counts.crossJoin(F.broadcast(tot)).select(
        "a",
        "b",
        "ta",
        "tb",
        (lnq(F.col("a")) + lnq(F.col("tb")) - lnq(F.col("b")) - lnq(F.col("ta"))).alias(
            "lr_micro"
        ),
    )
    return terms.agg(
        F.round(
            F.sum(
                (F.col("a") * F.col("tb") - F.col("b") * F.col("ta"))
                * F.col("lr_micro")
            ).cast("double")
            / (
                F.first("ta").cast("double")
                * F.first("tb").cast("double")
                * F.lit(1000000.0)
            ),
            8,
        ).alias("psi")
    )


def _kmv_frac(col: str) -> str:
    """Fraction in [0,1) from the first 12 hex chars of an md5
    string — Horner form over instr('0123456789abcdef', …), which has
    the same signature and 1-based semantics in Spark SQL and DuckDB, so
    the ONE shared text yields bit-identical doubles."""
    # E-notation literals parse as DOUBLE in BOTH engines (plain 0.0 is
    # DECIMAL in both, with engine-specific precision rules — the q17
    # 5.0E0 discipline)
    expr = "0.0E0"
    for i in range(12, 0, -1):
        d = f"(instr('0123456789abcdef', substr({col}, {i}, 1)) - 1)"
        expr = f"(({d} + {expr}) / 16.0E0)"
    return expr


_KMV_K = 64

_KMV_SQL = f"""
WITH a AS (SELECT DISTINCT md5(l_partkey || '') AS h
           FROM lineitem WHERE year(l_shipdate) = 1996),
b AS (SELECT DISTINCT md5(l_partkey || '') AS h
      FROM lineitem WHERE year(l_shipdate) = 1999),
ka AS (SELECT h FROM a ORDER BY h LIMIT {_KMV_K}),
kb AS (SELECT h FROM b ORDER BY h LIMIT {_KMV_K}),
u AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) t
      ORDER BY h LIMIT {_KMV_K}),
hits AS (SELECT CAST(COUNT(*) AS BIGINT) AS both_n FROM u
         WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
kth AS (SELECT MAX(h) AS h FROM u)
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       round(CAST({_KMV_K} - 1 AS DOUBLE) / ({_kmv_frac("(SELECT h FROM kth)")}), 3)
           AS est_union,
       round(CAST((SELECT both_n FROM hits) AS DOUBLE) / {_KMV_K}, 6)
           AS est_jaccard,
       CAST((SELECT COUNT(*) FROM (SELECT h FROM a UNION SELECT h FROM b) z)
            AS BIGINT) AS exact_union,
       CAST((SELECT COUNT(*) FROM a WHERE h IN (SELECT h FROM b)) AS BIGINT)
           AS exact_intersection
"""


@register(
    "kmv_set_overlap_parts",
    demoted=True,  # sketch family driver-graded via approx_distinct_stats
    oracle=_KMV_SQL,
)
def kmv_set_overlap_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct sketches (late r10): estimate the union
    size and Jaccard overlap of two part sets (parts shipped in 1996 vs
    1999) from their 64 smallest md5 hashes — the mergeable
    distinct-value set algebra of Bar-Yossef et al. 2002 / Beyer et al.
    SIGMOD 2007 (union sketch = bottom-k of merged mins; overlap = share
    of the union sketch present in both sides; union estimate =
    (k−1)/kth-min as a [0,1) fraction).  Deterministic BY CONSTRUCTION:
    md5 replaces the random permutation, so there is no seed, and both
    engines run the identical shared text (instr-Horner hex fraction) —
    estimates AND the exact counts they approximate ship in one row.
    Scale: each sketch is one distinct + bottom-k (WindowGroupLimit
    heap) over its partition of the fact; sketches are 64 strings —
    model-sized state mergeable across any number of partitions or
    days."""
    from .. import sql as sqlmod

    return sqlmod.sql(spark, sf_dir, _KMV_SQL)
