"""Ordered prefix sums and token-budget document packing.

Sequence packing — filling fixed token-budget bins with documents in a
deterministic order — is a staple of LLM training-data pipelines.  The
natural formulation is a running total over a global ordering, which
naively plans as a single-partition window (every row through one task:
the same scale-killer the surrogate key had, see sinks.with_surrogate_key).

``running_total`` generalizes the two-phase fix to arbitrary SUMs:

1. split rows into order-aligned buckets — fixed-width value ranges of
   the ordering key from ONE min/max/count aggregation (ties share a
   bucket, so cross-bucket ordering is total; r6, matching
   ``with_surrogate_key``);
2. per-bucket partial sums → exclusive prefix-sum offsets, computed
   INSIDE the final plan (n-row aggregate → ``coalesce(1)`` window →
   broadcast join back — no driver collect, no extra job);
3. running = offset[bucket] + windowed sum within the bucket.

The only wide step is the per-bucket window's hash exchange — parallel
across buckets, no ``Exchange SinglePartition`` (pinned in
tests/test_plans.py).  Integer-valued columns make every partial sum
exact, so the result is deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def running_total(
    df: DataFrame,
    order_by: str,
    value_col: str,
    name: str = "running",
) -> DataFrame:
    """Inclusive running SUM of ``value_col`` over the global ``order_by``
    ordering, without a single-partition window.

    ``order_by`` must be a NUMERIC column (fixed-width value-range
    bucketing) and should be high-cardinality and reasonably spread:
    heavily-tied or value-skewed keys collapse buckets, and rows tied on
    ``order_by`` within a bucket receive an arbitrary-but-valid relative
    order in the running sum (any total order extending the key order).
    Use a unique numeric key (id, epoch micros) for full determinism.

    The input is pinned once (eager ``localCheckpoint``) so the min/max job
    and the final plan read one materialization
    instead of re-executing the upstream plan — same single-scan contract
    (and the same executor-loss caveat) as ``sinks.with_surrogate_key``.
    """
    num_types = ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal")
    ord_type = dict(df.dtypes)[order_by]
    if not ord_type.startswith(num_types):
        raise TypeError(
            f"running_total: order_by column {order_by!r} has type {ord_type}; "
            "only numeric ordering keys are supported (value-range bucketing). "
            "Map the key to a number first (e.g. epoch micros, xxhash64)."
        )
    bucketc, sumc, offc = "__rt_bucket", "__rt_sum", "__rt_off"
    src = df.localCheckpoint(eager=True)
    n = src.sparkSession.sparkContext.defaultParallelism
    oc = F.col(order_by).cast("double")
    lo, hi, total = src.agg(F.min(oc), F.max(oc), F.count(F.lit(1))).first()
    if not total:
        return df.withColumn(name, F.lit(None).cast("long"))
    if lo is None or hi is None or hi == lo or n <= 1:
        bucket = F.lit(0)
    else:
        width = (hi - lo) / n
        bucket = F.coalesce(
            F.least(F.floor((oc - F.lit(lo)) / F.lit(width)), F.lit(n - 1)), F.lit(0)
        ).cast("int")
    keyed = src.withColumn(bucketc, bucket)
    sums = keyed.groupBy(bucketc).agg(F.sum(value_col).alias(sumc))
    woff = Window.orderBy(bucketc).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        sums.coalesce(1)  # n-bucket rows: single partition satisfies the
        .withColumn(offc, F.coalesce(F.sum(sumc).over(woff), F.lit(0)))  # window, no Exchange SinglePartition
        .drop(sumc)
    )
    w = Window.partitionBy(bucketc).orderBy(order_by).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        keyed.join(F.broadcast(offsets), bucketc)
        .withColumn(name, (F.col(offc) + F.sum(value_col).over(w)).cast("long"))
        .drop(bucketc, offc)
    )


def pack_into_bins(
    df: DataFrame,
    order_by: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Greedy token-budget packing in ``order_by`` order: document d goes to
    bin ``floor(exclusive_prefix_sum(tokens) / budget)`` — the streaming
    greedy assignment (a bin may overflow by at most one document, the
    standard training-data packing contract; oversized documents still get
    a bin).  Integer arithmetic throughout — deterministic and
    oracle-reproducible."""
    run = running_total(df, order_by, tokens_col, name="running_tokens")
    excl = F.col("running_tokens") - F.col(tokens_col)
    # exact integer floor-div: (x - x % b) / b divides an exact multiple, so
    # the double quotient is the integer itself (a plain x/b double division
    # can round k + (b-1)/b up to k+1 once prefix sums pass ~2^40)
    b = F.lit(int(budget))
    return run.withColumn("bin_id", ((excl - (excl % b)) / b).cast("long"))
