"""Time-series regularization operators (r7).

Gap-fill (dense periodic spine) + forward-fill — the resample step every
monitoring/telemetry consumer of the reference's event exports runs first
(the reference leaves gaps where an export window had no rows; downstream
charting/ML needs a dense, regular grid).  Charter extension; no reference
twin (SURVEY.md §2.5).

Scale design (100 TB):
- the spine is generated PER KEY from that key's own [min, max] bucket
  range — ``sequence()`` + ``explode`` is a narrow generate, no cross
  join against a global calendar and no driver-side date loop.  Spine
  length is bounded by ``max_steps`` (a 10-year daily key = 3.6k rows;
  a mis-typed step of '1 second' over a year would be 31M rows/key —
  fail fast instead).
- forward-fill is ``last(ignorenulls)`` over (key ORDER BY bucket) — one
  window shuffle keyed on the series key, running-frame so no second
  pass.  Keys are independent; skew follows series length, not count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


MAX_STEPS = 100_000  # per-key spine guard


def resample_ffill(
    observed: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    step: str,
    zero_cols: list[str] | None = None,
    ffill_cols: list[str] | None = None,
) -> DataFrame:
    """Densify ``observed`` (one row per key×bucket actually present) onto a
    regular per-key spine from that key's min to max bucket at ``step``
    (an INTERVAL literal body, e.g. ``'1 day'``), then fill: ``zero_cols``
    get 0 on generated rows (counts/sums-of-nothing), ``ffill_cols`` carry
    the last non-null observation forward (gauges/balances).

    Raises at plan level (ANSI error) if any key's spine would exceed
    ``MAX_STEPS`` — the documented guard against quadratic-ish blowup from
    a step far finer than the data's span.
    """
    zero_cols = zero_cols or []
    ffill_cols = ffill_cols or []
    b = F.col(bucket_col)
    bounds = observed.groupBy(*key_cols).agg(
        F.min(b).alias("__lo"), F.max(b).alias("__hi")
    )
    n_steps = F.expr(
        f"size(sequence(__lo, __hi, interval {step}))"
    )
    spine = (
        bounds.withColumn(
            "__chk",
            F.when(
                n_steps > MAX_STEPS,
                F.raise_error(
                    F.format_string(
                        f"resample_ffill: spine exceeds MAX_STEPS={MAX_STEPS} "
                        f"for step '{step}' (key range %s..%s)",
                        F.col("__lo").cast("string"),
                        F.col("__hi").cast("string"),
                    )
                ),
            ),
        )
        .select(
            *key_cols,
            F.explode(F.expr(f"sequence(__lo, __hi, interval {step})")).alias(bucket_col),
            "__chk",
        )
        .drop("__chk")
    )
    dense = spine.join(observed, [*key_cols, bucket_col], "left")
    for c in zero_cols:
        dense = dense.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    if ffill_cols:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(bucket_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for c in ffill_cols:
            dense = dense.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return dense
