"""Nested-data flattening operators (SURVEY.md §2.3, T1-T4).

The reference flattens Graph's nested JSON row-at-a-time in PowerShell
(`Invoke-GraphDataPipelineToAzureSQLDatabase.ps1:207-241`,
`Export-MSIntuneCloudPCs.ps1:215-251`).  Here every flatten is a pure Column
expression — no shuffle, no Python, fully inside whole-stage codegen, so it
scales linearly with input splits on any cluster size.

T2 (per-row argmax over a nested array) deliberately uses the array-native
form ``array_sort`` + comparator + ``element_at`` rather than
explode + window: the window form shuffles the whole table on the row id;
the array form is a narrow map — at 100 TB that is the difference between
a per-split scan and a full-data shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def flatten_struct(
    df: DataFrame, struct_col: str, mapping: dict[str, tuple[str, str | None]]
) -> DataFrame:
    """T1/T3 — lift struct fields to top-level columns, with optional casts.

    ``mapping`` is ``{new_col: (field, cast_type_or_None)}``.  Mirrors the
    reference's health-state lift (`Invoke…ps1:214-221`: state → scalar,
    errorCode → long, lastSyncDateTime → datetime) and actor lift
    (`Export…ps1:224-232`).  A NULL struct yields NULL in every lifted
    column (reference golden, FIXTURES.md §B.b1).
    """
    for new_col, (field, cast_to) in mapping.items():
        c = F.col(struct_col).getField(field)
        df = df.withColumn(new_col, c.cast(cast_to) if cast_to else c)
    return df


def argmax_in_array(
    df: DataFrame,
    array_col: str,
    order_field: str,
    lifted: dict[str, tuple[str, str | None]],
    drop_source: bool = True,
) -> DataFrame:
    """T2 — per-row top-1 over a nested array (latest-element argmax).

    Reference: ``usersLoggedOn | Sort lastLogOnDateTime -Desc | Select -first 1``
    (`Invoke…ps1:223-229`).  NULL/empty array ⇒ lifted columns NULL
    (`element_at` on the empty/NULL array is NULL, matching the reference's
    no-properties-added golden).

    Array-native: sort the (tiny, per-row) array descending by
    ``order_field`` and take element 1.  Narrow transformation — no shuffle,
    unlike the explode + Window.partitionBy(id) formulation.
    ``try_element_at``: ANSI mode (Spark 4 default) makes plain
    ``element_at`` throw on the empty array instead of yielding NULL.
    """
    top = F.try_element_at(
        F.array_sort(
            F.col(array_col),
            lambda l, r: F.when(l[order_field] > r[order_field], F.lit(-1))
            .when(l[order_field] < r[order_field], F.lit(1))
            .otherwise(F.lit(0)),
        ),
        F.lit(1),
    )
    for new_col, (field, cast_to) in lifted.items():
        c = top.getField(field)
        df = df.withColumn(new_col, c.cast(cast_to) if cast_to else c)
    if drop_source:
        df = df.drop(array_col)
    return df


def array_first_field(df: DataFrame, array_col: str, field: str, new_col: str) -> DataFrame:
    """T4 — array member projection to a scalar.

    PowerShell's ``$resources.displayName`` member-enumeration lands in a
    scalar varchar (`Export…ps1:234-239`,
    `Prepare-SQLDatabase-CloudPCAuditEvents.sql:18`); per SURVEY.md §2.3 the
    engine's documented decision is *first element*.
    """
    df = df.withColumn(new_col, F.try_element_at(F.col(array_col).getField(field), F.lit(1)))
    return df.drop(array_col)


def explode_array(
    df: DataFrame,
    array_col: str,
    keep: list[str] | None = None,
) -> DataFrame:
    """Relational flatten — one output row per array element (§2.5); rows
    whose array is NULL or empty drop out.  The element column strips a
    single plural 's' ('items'→'item') — but never a trailing 'ss'
    ('address' stays intact; the old rstrip mangled every trailing s:
    'buses'→'bu').
    """
    cols = [F.col(c) for c in (keep or [c for c in df.columns if c != array_col])]
    element = (
        array_col.removesuffix("s")
        if array_col.endswith("s") and not array_col.endswith("ss")
        else array_col
    )
    return df.select(*cols, F.explode(array_col).alias(element))
