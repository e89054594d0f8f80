"""Fuzzy (approximate) string join with blocking (r7).

Entity resolution / record linkage over dirty keys — the operation the
reference's business-key joins (`Prepare-SQLDatabase.sql:47-51` index on
``id``) degenerate to once keys carry typos.  Naive form is an all-pairs
levenshtein scan (Θ(n·m) — never viable); the standard scalable shape is
**block, then verify**:

- **block**: an EQUI-join on a cheap deterministic key both sides share —
  here character prefix + a length band.  Catalyst extracts the prefix
  equality into a hash join; only same-block pairs materialize.
- **verify**: exact ``levenshtein`` ≤ d on the joined pairs (JVM
  whole-stage codegen, no UDF).

A prefix block cannot match strings whose typo falls INSIDE the prefix —
the documented recall trade (a deletion at position ≤ p changes the
block).  Tune ``prefix`` against block sizes: at 100 TB, 2 chars ≈ 10³
blocks is too skewed, 4+ chars or q-gram blocking (explode each string's
q-grams, join on any shared gram, dedup pairs) restores balance; the
verify stage is unchanged.  Length banding rides the same join as a
range predicate and costs nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fuzzy_join_qgram(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 2,
    q: int = 3,
) -> DataFrame:
    """Q-gram-blocked fuzzy join — the scale path the prefix block trades
    away (module docstring): two strings within ``max_dist`` edits share
    at least one q-gram whenever ``len > q·(max_dist+1) − 1`` (each edit
    destroys ≤ q grams), so blocking on ANY shared q-gram loses no true
    match above that length — including typos inside the first characters,
    the prefix block's blind spot.

    Plan: explode each side to its distinct q-grams (narrow, ≤ len−q+1
    rows per string), ONE equi-join on the gram, dedup candidate pairs
    on per-side ROW ids (hash agg), then the same codegen levenshtein
    verify.  Block sizes follow gram frequencies instead of 26^p prefix
    buckets — drop stop-grams (frequency cap, like the MinHash band
    trade) if the corpus has degenerate hot grams.  Adds a ``dist``
    column.

    Row-identity contract (r7 ADVICE item 4): candidates dedup on
    ``monotonically_increasing_id`` stamped per side BEFORE the gram
    explode, so legitimately duplicated input rows keep their output
    multiplicity and
    overlapping left/right column names cannot make the dedup ambiguous.
    ``left`` and ``right`` must not share column names (the joined output
    would be ambiguous in ANY join) — validated up front.
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"fuzzy_join_qgram: left and right share column names {sorted(overlap)}; "
            "rename one side — the joined output cannot disambiguate them"
        )
    left = left.withColumn("__lid", F.monotonically_increasing_id())
    right = right.withColumn("__rid", F.monotonically_increasing_id())
    lg = left.withColumn(
        "__g",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({left_col}) - {q - 1}, 1)),"
                    f" i -> substring({left_col}, i, {q}))"
                )
            )
        ),
    )
    rg = right.withColumn(
        "__g",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({right_col}) - {q - 1}, 1)),"
                    f" i -> substring({right_col}, i, {q}))"
                )
            )
        ),
    )
    pairs = (
        lg.join(rg, "__g")
        .drop("__g")
        .dropDuplicates(["__lid", "__rid"])
        .drop("__lid", "__rid")
    )
    return pairs.filter(
        F.levenshtein(F.col(left_col), F.col(right_col)) <= max_dist
    ).withColumn("dist", F.levenshtein(F.col(left_col), F.col(right_col)).cast("int"))
