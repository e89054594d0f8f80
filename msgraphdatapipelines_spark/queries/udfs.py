"""UDF/UDAF surface (SURVEY.md §2.5): Arrow-vectorized scalar Pandas UDF
and a grouped-map (applyInPandas) aggregation — the sanctioned Python
escape hatches.  Both are deterministic, so even the Python paths get
DuckDB oracles.

The row-at-a-time ``F.udf`` is deliberately absent from the engine: at
100 TB the serde cost is prohibitive (PERF.md); anything expressible as a
Column expression stays JVM-side, and genuine Python work goes through
Arrow batches like these.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import load, register


@pandas_udf(T.StringType())
def _clean_text(s: pd.Series) -> pd.Series:
    """Vectorized normalization: lowercase, strip non-alphanumerics to
    spaces, collapse runs — one Arrow batch per task, no per-row serde."""
    return s.str.lower().str.replace(r"[^a-z0-9]+", " ", regex=True).str.strip()


@register(
    "udf_vectorized_clean",
    oracle="""
    SELECT p_partkey,
           trim(regexp_replace(lower(p_name || ' ' || p_brand), '[^a-z0-9]+', ' ', 'g'))
               AS clean_name
    FROM part
    """,
)
def udf_vectorized_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF (Arrow-batched) text normalization; oracle mirrors
    it with regexp_replace."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        _clean_text(F.concat_ws(" ", "p_name", "p_brand")).alias("clean_name"),
    )


_MAD_SCHEMA = "c_mktsegment string, n bigint, median_bal double, mad_bal double"


def _mad(pdf: pd.DataFrame) -> pd.DataFrame:
    """Median absolute deviation per group — a UDAF shape no built-in
    aggregate covers in one pass.  numpy median matches quantile_cont(0.5)
    interpolation ((a+b)/2 at even counts), keeping the oracle exact."""
    bal = pdf["c_acctbal"]
    med = bal.median()
    return pd.DataFrame(
        {
            "c_mktsegment": [pdf["c_mktsegment"].iloc[0]],
            "n": [len(pdf)],
            "median_bal": [round(med, 4)],
            "mad_bal": [round((bal - med).abs().median(), 4)],
        }
    )


@register(
    "udaf_grouped_mad",
    oracle="""
    WITH med AS (
        SELECT c_mktsegment, median(c_acctbal) AS m,
               round(quantile_cont(c_acctbal, 0.9), 4) AS p90_bal,
               round(CAST(quantile_disc(c_acctbal, 0.5) AS DOUBLE), 4) AS median_disc
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment,
           count(*) AS n,
           round(any_value(med.m), 4) AS median_bal,
           round(median(abs(c.c_acctbal - med.m)), 4) AS mad_bal,
           any_value(med.p90_bal) AS p90_bal,
           any_value(med.median_disc) AS median_disc
    FROM customer c JOIN med ON c.c_mktsegment = med.c_mktsegment
    GROUP BY c.c_mktsegment
    """,
)
def udaf_grouped_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF via applyInPandas (per-segment median absolute
    deviation) joined with the native exact-percentile aggregation
    (continuous p90 + discrete median) on the same group key — the UDAF and
    percentile capabilities consolidated into one driver row (r2).  One
    shuffle on the group key each; the 5-row join is broadcast.  Each group
    lands as a single Arrow batch (fine for bounded groups — for giant
    groups pre-aggregate or sketch instead, PERF.md); exact ``percentile``
    needs a sort per group — at 100 TB prefer ``approx_percentile``
    (t-digest, one pass, see approx_distinct_stats)."""
    c = load(spark, sf_dir, "customer")
    mad = c.groupBy("c_mktsegment").applyInPandas(_mad, _MAD_SCHEMA)
    pct = c.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90_bal"),
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal)").cast("double"), 4
        ).alias("median_disc"),
    )
    return mad.join(pct, "c_mktsegment")


@register(
    "grouped_mad_approx",
    demoted=True,  # approx twin of the graded udaf_grouped_mad row
    oracle="""
    WITH med AS (
        SELECT c_mktsegment, median(c_acctbal) AS m FROM customer
        GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment,
           round(any_value(med.m), 4) AS median_bal,
           round(median(abs(c.c_acctbal - med.m)), 4) AS mad_bal,
           TRUE AS median_within_1pct, TRUE AS mad_within_1pct
    FROM customer c JOIN med ON c.c_mktsegment = med.c_mktsegment
    GROUP BY c.c_mktsegment
    """,
)
def grouped_mad_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB path for ``udaf_grouped_mad`` (r7 VERDICT item 2): the
    per-group median/MAD computed NATIVELY with ``approx_percentile``
    sketches (one pass, bounded memory, no Python UDF, no
    group-as-one-Arrow-batch hazard) — the mode a giant-group deployment
    runs instead of the applyInPandas UDAF.

    Error band pinned as a RANK bound — the guarantee the sketch actually
    makes (rank error ≤ 1/accuracy), robust to interpolated-vs-element
    percentile semantics and to value-scale: the fraction of group rows ≤
    the approx median must sit within 0.02 + 2/n of 0.5 (discreteness
    slack for small groups), same for deviations vs the approx MAD.
    approx_distinct_stats grading pattern: exact continuous median/MAD
    (oracle-reproducible) + in-engine booleans the oracle asserts TRUE."""
    c = load(spark, sf_dir, "customer")
    a_med = c.groupBy("c_mktsegment").agg(
        F.expr("approx_percentile(c_acctbal, 0.5, 10000)").alias("a_med")
    )
    withdev = c.join(F.broadcast(a_med), "c_mktsegment").withColumn(
        "__dev", F.abs(F.col("c_acctbal") - F.col("a_med"))
    )
    a_mad = withdev.groupBy("c_mktsegment").agg(
        F.expr("approx_percentile(__dev, 0.5, 10000)").alias("a_mad")
    )
    ranks = (
        withdev.join(F.broadcast(a_mad), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("c_acctbal") <= F.col("a_med")).cast("long")).alias("le_med"),
            F.sum((F.col("__dev") <= F.col("a_mad")).cast("long")).alias("le_mad"),
        )
    )
    med = c.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.5)").alias("m")
    )
    exact = (
        c.join(F.broadcast(med), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.first("m").alias("med"),
            F.expr("percentile(abs(c_acctbal - m), 0.5)").alias("mad"),
        )
    )
    slack = F.lit(0.02) + 2.0 / F.col("n")
    return exact.join(ranks, "c_mktsegment").select(
        "c_mktsegment",
        F.round("med", 4).alias("median_bal"),
        F.round("mad", 4).alias("mad_bal"),
        (F.abs(F.col("le_med") / F.col("n") - 0.5) <= slack).alias(
            "median_within_1pct"
        ),
        (F.abs(F.col("le_mad") / F.col("n") - 0.5) <= slack).alias(
            "mad_within_1pct"
        ),
    )
