"""Reusable Column helpers — all JVM-side expressions, no Python row UDFs."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct character k-shingles of a string column, as an array.

    Built from ``sequence`` + ``transform`` + ``substring`` — pure codegen,
    the standard prelude to MinHash/Jaccard dedup.
    """
    t = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(F.transform(F.sequence(F.lit(1), n), lambda i: t.substr(i, F.lit(k))))

