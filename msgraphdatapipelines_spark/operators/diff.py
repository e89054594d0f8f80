"""Keyed table diff (r7) — change-data capture between two table states.

The reference's pipelines are full-refresh snapshots
(`Invoke-GraphDataPipelineToAzureSQLDatabase.ps1` truncate+reload;
`Prepare-SQLDatabase.sql` staging swap): the DIFF between two runs — what
was added, deleted, changed — is the question its consumers answer by hand
with T-SQL EXCEPT queries.  Here it is an engine operator, and composed
with the snapshot-versioned tables (`sinks.write_snapshot`) it yields
time-travel CDC: ``table_diff`` over ``sinks.read_snapshot`` at two
versions.

Scale: ONE full-outer hash join on the key (both sides shuffle on the
key — at 100 TB co-locate by bucketing both versions on the key, r6's
``write_bucketed``, and the exchange disappears); the changed/unchanged
test is a null-safe struct comparison evaluated in codegen, no per-column
Python, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_diff(base: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Rows that differ between ``base`` and ``new`` keyed by ``keys``:
    ``change_type`` ∈ added (key only in new), deleted (only in base),
    changed (both, any non-key column differs — null-safe).  Unchanged
    rows are dropped (the overwhelmingly common case at 100 TB; emit
    volume tracks churn, not table size).

    Columns: keys, change_type, then the non-key payload twice as
    ``old_<c>`` / ``new_<c>`` — the downstream upsert/audit shape.
    """
    payload = [c for c in base.columns if c not in keys]
    if [c for c in new.columns if c not in keys] != payload:
        raise ValueError("table_diff: base/new payload columns differ")
    b = base.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys],
        F.struct(*payload).alias("__old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        F.struct(*payload).alias("__new"),
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"__bk_{k}").eqNullSafe(F.col(f"__nk_{k}"))
    j = b.join(n, on=cond, how="full_outer")
    in_base = F.col(f"__bk_{keys[0]}").isNotNull() | F.col("__old").isNotNull()
    in_new = F.col(f"__nk_{keys[0]}").isNotNull() | F.col("__new").isNotNull()
    change = (
        F.when(~in_base, F.lit("added"))
        .when(~in_new, F.lit("deleted"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("changed"))
    )
    out_keys = [
        F.coalesce(F.col(f"__bk_{k}"), F.col(f"__nk_{k}")).alias(k) for k in keys
    ]
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *out_keys,
            "change_type",
            *[F.col(f"__old.{c}").alias(f"old_{c}") for c in payload],
            *[F.col(f"__new.{c}").alias(f"new_{c}") for c in payload],
        )
    )

