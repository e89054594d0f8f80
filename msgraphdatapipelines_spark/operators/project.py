"""Declared-schema projection (SURVEY.md §2.2 P4/P5 + §2.3 T6/T7).

The reference's load step copies only the DataTable-declared columns
(silently dropping extras), turns missing/empty properties into NULL, and
casts the typed columns (`Invoke-GraphDataPipelineToAzureSQLDatabase.ps1:
255-307`).  ``conform`` is the declarative equivalent: a single ``select``
of casts — Catalyst prunes every unreferenced source column all the way
into the scan (ReadSchema), so "drop the extras" costs nothing at any
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def conform(df: DataFrame, target: T.StructType, strict: bool = False) -> DataFrame:
    """Project ``df`` onto the declared ``target`` schema.

    - column present  → cast to the declared type (T6)
    - column missing  → NULL literal of the declared type (T7: the
      reference's DBNull substitution, `Invoke…ps1:295-303`)
    - extra columns   → dropped (P5: only declared columns are copied,
      `Invoke…ps1:288-307`)

    ``strict=True`` raises on missing columns instead (the NOT NULL id
    analog of `Prepare-SQLDatabase.sql:9`).
    """
    have = {c.lower(): c for c in df.columns}
    cols = []
    for f in target.fields:
        src = have.get(f.name.lower())
        if src is None:
            if strict:
                raise ValueError(f"conform: missing required column {f.name!r}")
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(src).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def exclude(df: DataFrame, *columns: str) -> DataFrame:
    """P4 — client-side column exclusion (`Select-Object -ExcludeProperty`,
    `Invoke…ps1:233-238`)."""
    return df.drop(*columns)
