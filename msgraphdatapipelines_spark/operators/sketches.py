"""Mergeable-sketch rollup tables: incremental distinct counting at 100 TB.

The pattern that makes "distinct users over any date range" an O(days)
query instead of an O(corpus) rescan: each ingest increment appends ONE
tiny row per (partition, dimension) holding a Datasketches HLL sketch of
the increment's ids; any range's distinct count is then the estimate of
``hll_union_agg`` over that range's sketch rows.  Because an HLL union
takes per-register maxima, union-of-sketches ≡ sketch-of-union (same
lgConfigK) — merging is exact, order-independent, and re-runnable, which
is what lets the rollup table be appended forever without drift
(pytest-pinned).

Reference analog: the reference re-counts each full load
(`Invoke-GraphDataPipelineToAzureSQLDatabase.ps1` row-count feedback); a
100 TB pipeline cannot — it persists increment sketches and merges.

All sketch state stays JVM-side (``hll_sketch_agg`` binary columns);
Python never touches a register.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_distinct_sketches(
    df: DataFrame,
    part_cols: list[str],
    value_col: str,
) -> DataFrame:
    """One HLL sketch row per ``part_cols`` group over ``value_col``.

    One hash aggregation (map-side partials are sketches too — the
    exchange moves O(groups · 2^12) bytes, never rows).  The result is
    the appendable rollup-table increment: ``part_cols…, sketch binary,
    n_rows``.  2^12 registers give ≈ ±1.6% accuracy.
    """
    return df.groupBy(*part_cols).agg(
        F.hll_sketch_agg(F.col(value_col).cast("string"), F.lit(12)).alias("sketch"),
        F.count("*").alias("n_rows"),
    )


def merge_distinct_sketches(
    sketches: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Merge sketch rows down to ``group_cols`` (drop the increment key):
    ``hll_union_agg`` + estimate.  Input is the (tiny) rollup table, so
    this runs in milliseconds regardless of how much data the sketches
    summarize.  Output: ``group_cols…, distinct_estimate, n_rows``.
    """
    return sketches.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"), F.lit(True)))
        .alias("distinct_estimate"),
        F.sum("n_rows").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (r8): mergeable frequency estimation / heavy hitters.
# Unlike the binary HLL state above, the CM table is PLAIN ROWS
# ((depth, bucket, cnt) cells), so it is exactly replayable in the DuckDB
# oracle: buckets are the first 2 hex chars of md5(depth || '|' || key)
# (256 buckets/row — the md5-seeded determinism the MinHash rows use), and
# merging is integer cell addition — order-free, union-of-sketches ≡
# sketch-of-union, appendable forever without drift.


def _cm_bucket(key, depth: int):
    """Bucket id of ``key`` at row ``depth``: substr(md5(depth|key),1,2)."""
    return F.substring(F.md5(F.concat(F.lit(f"{depth}|"), key.cast("string"))), 1, 2)


def build_cm_sketch(
    df: DataFrame,
    part_cols: list[str],
    key_col: str,
    depth: int = 4,
) -> DataFrame:
    """One CM cell table per ``part_cols`` group: (part…, depth, bucket,
    cnt) with cnt = the number of rows whose key hashes to that cell.  ONE hash
    aggregation over a ``depth``-way exploded projection (d rows per
    input row, each a 2-char bucket id) — map-side combinable, output
    O(groups · depth · 256) rows regardless of input size.  The
    appendable increment of a frequency-rollup table (the
    build_distinct_sketches pattern, estimable for ANY key later)."""
    cells = df.select(
        *part_cols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("depth"),
                    _cm_bucket(F.col(key_col), d).alias("bucket"),
                )
                for d in range(depth)
            ])
        ).alias("__c"),
    )
    return cells.groupBy(
        *part_cols, F.col("__c.depth").alias("depth"), F.col("__c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def merge_cm_sketches(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge CM cell tables down to ``group_cols`` (drop the increment
    key): integer cell addition — exact, order-independent."""
    return sketches.groupBy(*group_cols, "depth", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def cm_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4
) -> DataFrame:
    """Point-estimate each key's count from a (depth, bucket, cnt) sketch:
    est = min over depths of the key's cell — the count-min guarantee
    (est ≥ true count ALWAYS; est ≤ true + ε·N with high probability,
    ε ≈ e/256 here).  Plan: explode keys to their d cell coordinates,
    ONE equi-join on (depth, bucket) against the O(d·256)-row sketch
    (broadcast — the sketch is model-sized), one min-agg per key.  The
    never-underestimates property is what makes threshold screens sound:
    a key the sketch scores below threshold is GUARANTEED below it.
    The join is LEFT with coalesce(cnt, 0): a probed key whose cells are
    empty (sparse sketch / never-observed key) gets est=0 instead of
    silently vanishing from the output — threshold screens read every
    probed key."""
    coords = keys.select(
        key_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("depth"),
                    _cm_bucket(F.col(key_col), d).alias("bucket"),
                )
                for d in range(depth)
            ])
        ).alias("__c"),
    ).select(key_col, F.col("__c.depth").alias("depth"), F.col("__c.bucket").alias("bucket"))
    return (
        coords.join(F.broadcast(sketch), ["depth", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("cm_est"))
    )


def cm_join_size_estimate(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two CM sketches over the SAME
    key domain (r8): |A ⋈_k B| ≈ min over depths of Σ_bucket
    cntA·cntB — the classic sketch inner product (AMS/CM join-size
    estimation, the statistic a cost-based planner wants before
    committing to a join strategy).  Never underestimates (collisions
    only ADD mass), so a "too big to broadcast" verdict from the
    estimate is sound.  Cost: one equi-join of two O(d·256)-row cell
    tables + one 1-row agg — independent of either input's size; the
    sketches are the reusable rollup artifacts, so the estimate needs NO
    scan of A or B at planning time."""
    a = sketch_a.select("depth", "bucket", F.col("cnt").alias("__ca"))
    b = sketch_b.select("depth", "bucket", F.col("cnt").alias("__cb"))
    per_depth = (
        a.join(b, ["depth", "bucket"])
        .groupBy("depth")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__ip"))
    )
    return per_depth.agg(F.min("__ip").alias("join_size_est"))


def cm_total_rows(sketch: DataFrame) -> int:
    """Total mass N of a CM cell table — Σ_bucket cnt at any single depth
    equals the (weighted) row count the sketch has absorbed, EXACTLY (no
    collision error: every row lands in exactly one bucket per depth).
    One agg over the O(d·256)-row cell table; returns a driver int."""
    row = (
        sketch.groupBy("depth").agg(F.sum("cnt").alias("n"))
        .agg(F.min("n").alias("n")).collect()
    )
    return int(row[0]["n"]) if row and row[0]["n"] is not None else 0


def choose_join_strategy(
    child_sketch: DataFrame,
    parent_sketch: DataFrame,
    broadcast_threshold_rows: int = 1_000_000,
) -> dict:
    """Sketch-driven join pre-flight (r9) — the consumer that turns
    ``cm_join_size_estimate``'s sound verdicts into an actual plan
    decision.  Inputs are the CM cell tables of the two join sides' KEY
    columns (``build_cm_sketch``; mergeable, so a deployment can keep them
    as rollup artifacts); the verdict itself scans neither data table —
    two model-sized aggs only.

    Returns ``{'broadcast_parent', 'parent_rows_est', 'child_rows_est',
    'join_size_est', 'skew_warning'}``:

    - ``parent_rows_est`` / ``child_rows_est``: exact absorbed row counts
      (:func:`cm_total_rows` — bucket sums carry no collision error).
    - ``broadcast_parent``: True iff the parent side's row count is ≤
      ``broadcast_threshold_rows``.  Because the count is exact-or-over
      (a stale sketch only ever misses NEW rows if built before them;
      the maintained rollup is append-merged), a False verdict is sound:
      the engine never broadcasts a side the sketch says is data-sized.
    - ``join_size_est``: the never-underestimating inner product; with
      ``skew_warning`` True when it exceeds ``4 × (child + parent)`` —
      the fan-out signature of a skewed/hot key, where the caller should salt or pre-aggregate before joining.

    Feed the verdict straight into ``constraints.foreign_key(...,
    broadcast_parent=plan['broadcast_parent'])`` or any join hint site.
    """
    parent_rows = cm_total_rows(parent_sketch)
    child_rows = cm_total_rows(child_sketch)
    est_row = cm_join_size_estimate(child_sketch, parent_sketch).collect()
    join_est = int(est_row[0]["join_size_est"]) if est_row and est_row[0]["join_size_est"] is not None else 0
    return {
        "broadcast_parent": parent_rows <= broadcast_threshold_rows,
        "parent_rows_est": parent_rows,
        "child_rows_est": child_rows,
        "join_size_est": join_est,
        "skew_warning": join_est > 4.0 * (child_rows + parent_rows),
    }
