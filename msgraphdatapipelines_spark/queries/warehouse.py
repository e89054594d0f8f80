"""Warehouse-maintenance query rows (r7): SCD2 keyed history.

The reference's stored procedures refresh dimensions by DELETE+INSERT
(`Prepare-SQLDatabase.sql:104-178`) — history is lost on every run.  The
engine's ladder over that semantics: ``upsert_snapshot`` (SCD1, r4) keeps
unmatched history, ``apply_delta`` (r5) adds tombstones, and ``apply_scd2``
(r7, `sinks.py`) keeps EVERY version with validity intervals — the shape a
warehouse actually wants for the reference's device/CloudPC inventories,
where "what did this device look like in March" is the audit question.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import standing_root
from ..genstore import build_once
from . import load, register

_T0 = "2024-01-01 00:00:00"
_T1 = "2024-06-01 00:00:00"


@register(
    "scd2_customer_history",
    # r8: PROMOTED to driver-graded (r7 VERDICT item 9) — SCD2 keyed history
    # graded at sf0.01; pivot_status_by_priority demoted in trade
    oracle=f"""
    WITH base AS (
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
    )
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
           TIMESTAMP '{_T0}' AS valid_from,
           CASE WHEN c_custkey % 7 = 0 THEN TIMESTAMP '{_T1}' END AS valid_to,
           (c_custkey % 7 <> 0) AS is_current
    FROM base
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal, c_mktsegment,
           TIMESTAMP '{_T1}' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM base WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey + 1000000 AS c_custkey,
           'NEW ' || c_name AS c_name,
           0.0 AS c_acctbal,
           'NEW' AS c_mktsegment,
           TIMESTAMP '{_T1}' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM base WHERE c_custkey % 97 = 0
    """,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history (r7): seed the customer dim as an
    all-current history at T0, then apply one update batch at T1 holding
    (a) changed rows (acctbal bump for ``%7==0`` keys — close + reopen),
    (b) byte-identical no-op rows (``%7==1`` — must NOT version), and
    (c) brand-new keys (``%97==0`` shifted ids — insert as current).
    The oracle states the expected history table directly, so the
    close/no-op/insert semantics — not just row counts — are value-checked.

    Scale shape (see ``sinks.apply_scd2``): one key-shuffle join of the
    current slice against the batch; closed history unions back
    untouched; 0/1/2 output rows per joined key via array+inline."""
    from msgraphdatapipelines_spark.sinks import apply_scd2

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    history = cust.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "c_mktsegment",
        F.lit(_T0).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        cust.filter((F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 7 == 1))
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            "c_mktsegment",
            F.lit(_T1).cast("timestamp").alias("effective_ts"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("NEW").alias("c_mktsegment"),
                F.lit(_T1).cast("timestamp").alias("effective_ts"),
            )
        )
    )
    return apply_scd2(history, updates, ["c_custkey"])


@register(
    "fuzzy_match_part_names",
    demoted=True,  # join family driver-graded via join_variants / asof / range rows
    oracle="""
    WITH probes AS (
        SELECT DISTINCT substr(p_name, 1, 2) || substr(p_name, 4) AS probe
        FROM part WHERE p_partkey % 97 = 0
    ),
    cat AS (SELECT DISTINCT p_name AS matched FROM part)
    SELECT probe, matched, CAST(levenshtein(probe, matched) AS INT) AS dist
    FROM probes, cat
    WHERE levenshtein(probe, matched) <= 2
    """,
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join (r8 posture, r7 VERDICT item 6): corrupt a probe
    set of part names with a position-3 character deletion, then recover
    their catalog matches by Q-GRAM-blocked approximate join (levenshtein
    ≤ 2 verify) — record linkage over dirty business keys, the failure
    mode the reference's exact ``id`` index cannot serve.

    Routed through ``fuzzy_join_qgram`` (q=2) instead of a prefix-2
    block: every string here is ≥ 6 chars > q·(max_dist+1) − 1 = 5, so
    the shared-gram block is LOSS-LESS and the oracle is the plain
    QUADRATIC levenshtein join — no block condition in the oracle at all;
    the equality proves the block dropped nothing.  The prefix-2 variant
    stays available for speed, with its documented first-chars blind spot
    and skewed 10³-block distribution (``operators/fuzzy.py``)."""
    from ..operators.fuzzy import fuzzy_join_qgram

    part = load(spark, sf_dir, "part")
    probes = (
        part.filter(F.col("p_partkey") % 97 == 0)
        .select(F.expr("concat(substring(p_name, 1, 2), substring(p_name, 4))").alias("probe"))
        .distinct()
    )
    cat = part.select(F.col("p_name").alias("matched")).distinct()
    return fuzzy_join_qgram(probes, cat, "probe", "matched", max_dist=2, q=2).select(
        "probe", "matched", "dist"
    )


@register(
    "table_diff_orders",
    demoted=True,  # join machinery driver-graded via join_variants/delta_sync
    oracle="""
    WITH newv AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'F' AND o_orderkey % 5 = 0
                    THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT coalesce(b.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                ELSE 'changed' END AS change_type,
           b.o_totalprice AS old_o_totalprice,
           n.o_totalprice AS new_o_totalprice
    FROM orders b FULL JOIN newv n ON b.o_orderkey = n.o_orderkey
    WHERE b.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR b.o_custkey IS DISTINCT FROM n.o_custkey
       OR b.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR b.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR b.o_orderdate IS DISTINCT FROM n.o_orderdate
       OR b.o_orderpriority IS DISTINCT FROM n.o_orderpriority
    """,
)
def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table diff / CDC (r7): what changed between two states of the
    orders table — the question the reference's full-refresh consumers
    answer with hand-written EXCEPT queries, as ONE full-outer key join
    with a null-safe struct comparison (``operators/diff.table_diff``).
    The second state is derived IN-ENGINE deterministically (delete keys
    %97, reprice finished orders %5, add %101 clones shifted +1e8) so the
    oracle replays it exactly; composed with snapshot versions this is
    time-travel CDC.  Output projects the
    price pair; at 100 TB bucket both versions on the key and the
    exchange vanishes (module docstring)."""
    from ..operators.diff import table_diff

    k = F.col("o_orderkey")
    base = load(spark, sf_dir, "orders")
    kept = base.filter(k % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            (F.col("o_orderstatus") == "F") & (k % 5 == 0),
            F.col("o_totalprice") * 1.1,
        ).otherwise(F.col("o_totalprice")),
    )
    added = base.filter(k % 101 == 0).withColumn("o_orderkey", k + 100000000)
    new = kept.unionByName(added)
    return table_diff(base, new, ["o_orderkey"]).select(
        "o_orderkey", "change_type", "old_o_totalprice", "new_o_totalprice"
    )


_PIT_T0 = "2024-01-01 00:00:00"
_PIT_TM = "2024-01-15 00:00:00"


@register(
    "scd2_point_in_time_events",
    demoted=True,  # SCD2 family driver-graded via scd2_customer_history (r8)
    oracle=f"""
    WITH hist AS (
        SELECT c_custkey, c_acctbal, TIMESTAMP '{_PIT_T0}' AS valid_from,
               CASE WHEN c_custkey % 7 = 0 THEN TIMESTAMP '{_PIT_TM}' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, c_acctbal + 100, TIMESTAMP '{_PIT_TM}', NULL
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT e.event_id, e.user_id,
           h.c_acctbal AS acctbal_at_event,
           CASE WHEN h.c_custkey IS NULL THEN NULL
                ELSE h.valid_to IS NULL END AS from_current_version
    FROM events e
    LEFT JOIN hist h
      ON h.c_custkey = e.user_id
     AND h.valid_from <= e.ts
     AND (h.valid_to IS NULL OR e.ts < h.valid_to)
    """,
)
def scd2_point_in_time_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join (r8): every event joined to the
    customer-dimension VERSION valid at its timestamp — the consumer side
    of the SCD2 history ``apply_scd2`` maintains, with a mid-January
    change point so events genuinely straddle both versions (%7 keys'
    acctbal bumps +100 at Jan 15; events before see v1, after see v2).
    Half-open validity intervals mean exactly one version matches per
    (key, ts); left semantics keep events with no dimension row.

    Scale shape (``operators.rangejoin.point_in_time_join``): one
    dimension-key equi-join, interval predicate as post-join filter —
    fan-out per key = its version count, never data-sized."""
    from ..operators.rangejoin import point_in_time_join
    from . import load_events

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "ts")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    hist = cust.select(
        "c_custkey",
        "c_acctbal",
        F.lit(_PIT_T0).cast("timestamp").alias("valid_from"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(_PIT_TM).cast("timestamp")).alias(
            "valid_to"
        ),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 7 == 0).select(
            "c_custkey",
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
            F.lit(_PIT_TM).cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
    )
    joined = point_in_time_join(ev, hist, "user_id", "c_custkey", "ts")
    return joined.select(
        "event_id",
        "user_id",
        F.col("c_acctbal").alias("acctbal_at_event"),
        F.when(
            F.col("valid_from").isNotNull(), F.col("valid_to").isNull()
        ).alias("from_current_version"),
    )


@register(
    "orders_agg_incremental",
    demoted=True,  # keyed-refresh family driver-graded via delta_sync/scd2 rows
    oracle="""
    WITH newv AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CASE WHEN o_orderstatus = 'F' AND o_orderkey % 5 = 0
                    THEN '1-URGENT' ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent
    FROM newv GROUP BY o_custkey
    """,
)
def orders_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (r8,
    ``sinks.refresh_agg_incremental``): a per-customer order aggregate is
    maintained under one keyed delta round — deletes (%97 orderkeys),
    updates (F-status %5 keys flip to 1-URGENT priority), inserts (%101
    shifted keys) — by re-aggregating ONLY the customers those delta rows
    touch and patching the aggregate table (anti-join keeps untouched
    groups as-is).  The oracle is the FULL aggregate over the post-delta
    state, so the hash match proves the incremental patch converges to
    the rebuild — the O(round) vs O(history) refresh at 100 TB.
    Measures stay decimal/integer so the sums replay exactly."""
    from msgraphdatapipelines_spark.sinks import refresh_agg_incremental

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    )

    def build(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.sum((F.col("o_orderpriority") == "1-URGENT").cast("long")).alias(
                "n_urgent"
            ),
        )

    deleted = o.filter(F.col("o_orderkey") % 97 == 0)
    updated = o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderkey") % 5 == 0)
        & (F.col("o_orderkey") % 97 != 0)
    ).withColumn("o_orderpriority", F.lit("1-URGENT"))
    inserted = o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100000000
    )
    survivors = o.filter(F.col("o_orderkey") % 97 != 0).join(
        updated.select("o_orderkey"), "o_orderkey", "left_anti"
    )
    new_snapshot = survivors.unionByName(updated).unionByName(inserted)
    base_agg = build(o)
    touched = deleted.select("o_custkey").unionByName(
        updated.select("o_custkey")
    ).unionByName(inserted.select("o_custkey"))
    out = refresh_agg_incremental(
        new_snapshot, base_agg, touched, ["o_custkey"], build
    )
    return out.select("o_custkey", "n_orders", "sum_price", "n_urgent")


def ensure_standing_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-at-most-once Z-ordered + zonemapped copy of ``events`` (r9):
    the clustered, manifest-carrying layout a 100 TB warehouse keeps as
    its table format.  Keyed on the source parquet's file identity
    (``cache.standing_root``, the standing-artifact discipline); ``_zm_ready`` marker
    written last via atomic rename is the commit point."""
    from .. import sinks
    from . import load_events

    root = standing_root("zm", sf_dir, ("events.parquet",), "v1")

    def _build() -> None:
        ev = load_events(spark, sf_dir)
        sinks.write_zordered(ev, f"{root}/events", ["value", "user_id"], num_files=16)
        sinks.build_zonemap(spark, f"{root}/events", ["value", "user_id"])

    build_once(spark, f"{root}/_zm_ready", _build)
    return f"{root}/events"


@register(
    "zonemap_pruned_scan_events",
    demoted=True,  # scan family driver-graded via filter_project
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value BETWEEN 10 AND 20
    """,
)
def zonemap_pruned_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned range scan (r9): the query runs against the
    STANDING Z-ordered layout and its ``_zonemap`` manifest —
    ``scan_pruned`` opens only files whose [min, max] overlaps the
    predicate (Iceberg/Delta-style file skipping for plain parquet),
    then applies the residual filter.  The oracle full-scans the source
    table: the hash match proves pruning is pure I/O elision.  At 100 TB
    this is the difference between reading the overlapping file slice
    and reading the table; the pytest pins that the pruned scan reads
    strictly fewer files than the layout holds."""
    from .. import sinks

    path = ensure_standing_layout(spark, sf_dir)
    return sinks.scan_pruned(spark, path, "value", 10.0, 20.0).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "gdpr_forget_orders",
    demoted=True,  # warehouse family driver-graded via delta_sync/scd2 rows
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey % 100 <> 0
    """,
)
def gdpr_forget_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure end-to-end (r10): load orders into a
    snapshot-versioned store, ``forget_keys`` every customer whose key is
    ≡0 (mod 100), and return what a reader of the store sees — the
    oracle proves the store serves EXACTLY the table minus the forgotten
    keys (and the erased-history invariant is pinned by the sinks
    pytest: no older version directory survives to time-travel from).

    The store builds in a throwaway tempdir per run: erasure MUTATES a
    store, so unlike the standing serve artifacts this row demonstrates
    the maintenance op itself; cost is two writes of the table — at
    100 TB, forget_keys is the same anti-join + publish a compaction
    round already pays, plus the history unlink."""
    import shutil
    import tempfile

    from .. import sinks

    o = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="msgdp_gdpr_")
    try:
        sinks.write_snapshot(o, f"{root}/orders")
        keys = o.filter(F.col("o_custkey") % 100 == 0).select("o_custkey").distinct()
        sinks.forget_keys(spark, f"{root}/orders", ["o_custkey"], keys)
        return (
            sinks.read_snapshot(spark, f"{root}/orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .localCheckpoint(eager=True)  # materialize before the rmtree
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def ensure_bloom_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-at-most-once RANDOM-sharded copy of ``orders`` with a Bloom
    manifest on ``o_orderkey`` (late r10).  The shards are deliberately
    UNCLUSTERED — every file spans the whole key domain, so zone maps
    prune nothing and the Bloom filter is the only thing standing between
    a point lookup and a full-table scan.  Same standing-artifact
    discipline as :func:`ensure_standing_layout`: keyed on the source
    fingerprint, ``_bloom_ready`` marker committed last by atomic
    rename."""
    from .. import sinks

    root = standing_root("bloom", sf_dir, ("orders.parquet",), "v1")

    def _build() -> None:
        o = load(spark, sf_dir, "orders")
        # random 16-way shard: worst case for min/max, the Bloom case
        o.repartition(16).write.mode("overwrite").parquet(f"{root}/orders")
        sinks.build_bloom_manifest(
            spark, f"{root}/orders", ["o_orderkey"], bits=1 << 17, k=4
        )

    build_once(spark, f"{root}/_bloom_ready", _build)
    return f"{root}/orders"


@register(
    "bloom_pruned_point_lookup",
    demoted=True,  # scan family driver-graded via filter_project
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderkey = 977
    """,
)
def bloom_pruned_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-manifest point lookup (late r10): the query probes the
    STANDING random-sharded orders layout — a layout where zone maps are
    powerless (every shard spans the full key range) — and opens only
    the files whose per-file Bloom filter fires for o_orderkey = 977
    (expected 1 of 16 + false positives).  The oracle full-scans the
    source table: the hash match proves Bloom pruning is pure I/O
    elision with NO false negatives.  At 100 TB this is the ~800k-file
    needle-in-haystack lookup every id-serving pipeline needs without
    maintaining a sorted layout."""
    from .. import sinks

    path = ensure_bloom_layout(spark, sf_dir)
    return sinks.scan_bloom_pruned(spark, path, "o_orderkey", 977).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


@register(
    "result_cache_served_agg",
    demoted=True,  # agg family driver-graded via pricing_summary
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def result_cache_served_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-cache-served aggregate (late r10): the per-priority order
    rollup runs through :func:`cache.serve_cached` — first touch
    materializes the result keyed by (optimized plan, input file
    identity), every later call serves the parquet artifact with ZERO
    source-table work (plan-pinned in pytest).  The oracle recomputes
    the aggregate from the raw table, so the hash match proves the
    cached artifact serves exact values no matter which path built it.
    At 100 TB this is the repeated-report path: one scan, then
    artifact-read cost forever until the inputs change (which rotates
    the fingerprint and strands the old entry for the GC)."""
    from .. import cache

    o = load(spark, sf_dir, "orders")
    df = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "total_price"
        ),
    )
    return cache.serve_cached(spark, df, [f"{sf_dir}/orders.parquet"])
