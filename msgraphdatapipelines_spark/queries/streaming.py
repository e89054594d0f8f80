"""Streaming queries (SURVEY.md §2.5) over ``events``, oracle-checked.

``stream_tumbling_counts`` runs a REAL Structured Streaming job (file
source → watermark → window agg → memory sink, drained synchronously); its
append-mode output is deterministic — exactly the windows whose end ≤
final watermark (max event time − delay) — so a batch SQL oracle can
reproduce it.  Sliding and session windows use the same window operators in
batch mode (identical semantics, SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import streaming as ST
from ..cache import standing_root
from ..genstore import build_once
from . import register

TS_FMT = "yyyy-MM-dd HH:mm:ss"


@register(
    "stream_tumbling_counts",
    oracle="""
    WITH w AS (
        SELECT to_timestamp(floor(epoch(ts) / 3600) * 3600) AS ws,
               event_type, value
        FROM events
    ),
    agg AS (
        SELECT ws, event_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM w GROUP BY ws, event_type
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, n, sum_value
    FROM agg
    WHERE ws + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, executed as a real stream
    (readStream → withWatermark 1h → 1h windows → append-mode memory sink).
    Append emits exactly the finalized windows: end ≤ max(ts) − watermark —
    which the batch oracle reproduces.  Late-data drop semantics are
    pytest-covered with a two-batch file sequence."""
    # the conf must be set before the streaming parquet source is planned
    from . import _harden

    _harden(spark)
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    agg = ST.tumbling_counts(ev, window="1 hour", watermark="1 hour")
    result, _ = ST.run_stream_to_memory(
        agg,
        output_mode="append",
        state_partitions=ST.suggest_state_partitions(spark, sf_dir, "events.parquet"),
    )
    return result.select(
        F.date_format("window.start", TS_FMT).alias("window_start"),
        "event_type",
        "n",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
    )


@register(
    "stream_sliding_windows",
    demoted=True,  # r5: slot freed for stream_stream_interval_join; same
    # windowed-agg+watermark+append machinery as the driver-graded tumbling row
    oracle="""
    WITH starts AS (
        SELECT to_timestamp(floor(epoch(ts) / 3600) * 3600) AS w0,
               to_timestamp(floor(epoch(ts) / 3600) * 3600 - 3600) AS w1,
               event_type, value, ts
        FROM events
    ),
    assigned AS (
        SELECT unnest([w0, w1]) AS ws, event_type, value FROM starts
    ),
    agg AS (
        SELECT ws, event_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM assigned
        GROUP BY ws, event_type
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, n, sum_value
    FROM agg
    WHERE ws + INTERVAL 2 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """,
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide) executed as a REAL stream in
    PRODUCTION shape (r2 VERDICT item 2): watermark 1h + APPEND mode, like
    stream_tumbling_counts — a window emits exactly once when the watermark
    passes its end, then leaves state, so a week-long stream's state stays
    bounded.  Every event lands in two windows (2h/1h overlap); the oracle
    assigns each event to both containing windows via unnest and keeps only
    finalized windows (end ≤ max(ts) − watermark).  The complete-mode drain
    (all windows retained — unbounded state) is demoted to
    tests/test_streaming.py::test_sliding_complete_mode_equals_batch."""
    from . import _harden

    _harden(spark)
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    agg = ST.sliding_counts(ev, window="2 hours", slide="1 hour", watermark="1 hour")
    result, _ = ST.run_stream_to_memory(
        agg,
        output_mode="append",
        state_partitions=ST.suggest_state_partitions(spark, sf_dir, "events.parquet"),
    )
    return result.select(
        F.date_format("window.start", TS_FMT).alias("window_start"),
        "event_type",
        "n",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
    )


@register(
    "stream_stream_interval_join",
    oracle=f"""
    SELECT a.event_id AS p_event_id, b.event_id AS c_event_id, a.user_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS p_ts_s,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS c_ts_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.event_type = 'purchase' AND b.event_type = 'click'
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join (r4 VERDICT item 4) in PRODUCTION shape: two real
    streams over events (purchases, clicks), watermarked on both sides,
    joined on user with the click bounded to the hour after the purchase —
    the event-time interval condition is what lets the engine evict join
    state instead of buffering both streams forever.  Inner matches emit
    as both rows arrive (append mode, no finalization wait), so the
    drained result equals the batch interval join exactly — the oracle is
    the naive SQL.  Late-data state-eviction behavior is pytest-covered
    with a two-batch file sequence (tests/test_streaming.py)."""
    from . import _harden

    _harden(spark)
    purchases = (
        ST.read_events_stream(spark, sf_dir, glob="events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("p_event_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        ST.read_events_stream(spark, sf_dir, glob="events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = ST.interval_join(
        purchases, clicks, "user_id", "c_user_id", "p_ts", "c_ts",
        interval="1 hour", watermark="1 hour",
    )
    # inner join: matches emit in the data batch; the no-data batch would
    # only evict state the drain is about to discard (r6, PERF.md)
    with ST.skip_no_data_batches(spark):
        result, _ = ST.run_stream_to_memory(
            joined,
            output_mode="append",
            state_partitions=ST.suggest_state_partitions(
                spark, sf_dir, "events.parquet"
            ),
        )
    return result.select(
        "p_event_id",
        "c_event_id",
        "user_id",
        F.date_format("p_ts", TS_FMT).alias("p_ts_s"),
        F.date_format("c_ts", TS_FMT).alias("c_ts_s"),
    )


@register(
    "stream_dedup_within_watermark",
    demoted=True,  # driver slots hold the join + agg + stateful shapes; the
    # dedup operator gets the identical DuckDB gate via pytest
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark (r4 VERDICT item 4): one
    state entry per (user_id, event_type), evicted when the watermark
    passes first-seen + delay — bounded-state first-occurrence dedup for
    at-least-once sources.  A single availableNow drain sees every
    duplicate while the key's state is live, so the emitted key set equals
    batch DISTINCT (the oracle); only the key columns are projected out
    because WHICH physical row got emitted first is batch-order
    dependent."""
    from . import _harden

    _harden(spark)
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    deduped = ST.dedup_within_watermark(
        ev.select("user_id", "event_type", "ts"), ["user_id", "event_type"]
    )
    result, _ = ST.run_stream_to_memory(
        deduped,
        output_mode="append",
        state_partitions=ST.suggest_state_partitions(spark, sf_dir, "events.parquet"),
    )
    return result.select("user_id", "event_type")


@register(
    "stream_stateful_first_seen",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event_id
    FROM events
    GROUP BY user_id, event_type
    """,
)
def stream_stateful_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): streaming
    first-occurrence dedup keyed by (user_id, event_type) — Arrow-batched
    per-key state, emit-on-improvement.  Batch-min makes the result row-order
    independent, so the single-batch run equals the GROUP BY min oracle."""
    from . import _harden
    from ..streaming.stateful import first_seen_dedup

    _harden(spark)
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    # availableNow drain + event-time TTL: wall-clock (ProcessingTime)
    # timers would keep the engine in state-cleanup micro-batches forever,
    # so no drain could ever terminate (r2 livelock caught by the sweep).
    # No-data batch skipped (r5 VERDICT item 7): update mode emits in the
    # data batch and the TTL timers (last_ts + 6h) sit beyond the drain's
    # final watermark — see ST.skip_no_data_batches for the contract.
    with ST.skip_no_data_batches(spark):
        # r17 OPT: bucket-sharded state (streaming.stateful module doc) —
        # the per-key Python wall that justified cores-based partitioning
        # in r16 is gone (one vectorized pandas groupby per bucket instead
        # of one Python call per key; 70.5 → ~2 s of Python task time), so
        # the input-derived state-partition formula the OTHER streaming
        # rows use applies here too: the residual wall is per-state-
        # partition JVM commit overhead.  Interleaved A/B at sf0.1 after
        # bucketing: 32 parts median 1.42 s, 16 parts 1.23 s, 8 parts
        # 1.28 s, 4 parts 1.41 s — the formula's 6 lands in the flat
        # bottom.  Combined row: 2.49 s (r17 start) → ~1.3 s.
        result, _ = ST.run_stream_to_memory(
            first_seen_dedup(ev),
            output_mode="update",
            available_now=True,
            state_partitions=ST.suggest_state_partitions(
                spark, sf_dir, "events.parquet"
            ),
        )
    return result


@register(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_s
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 30 MINUTE
           <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user executed as a REAL stream in
    PRODUCTION shape (r2 VERDICT item 2): the native ``session_window``
    state machine with watermark 1h + APPEND mode — a session emits exactly
    once when the watermark passes its end (last event + gap), then leaves
    state, bounding state size on an unbounded stream.  The oracle is the
    classic gaps-and-islands SQL restricted to finalized sessions
    (end ≤ max(ts) − watermark).  The complete-mode drain (every session
    retained forever) is demoted to
    tests/test_streaming.py::test_session_complete_mode_equals_batch."""
    from . import _harden

    _harden(spark)
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    result, _ = ST.run_stream_to_memory(
        ST.session_counts(ev, gap="30 minutes", watermark="1 hour"),
        output_mode="append",
        state_partitions=ST.suggest_state_partitions(spark, sf_dir, "events.parquet"),
    )
    return result.select(
        "user_id",
        F.date_format("session_window.start", TS_FMT).alias("session_start"),
        F.date_format("session_window.end", TS_FMT).alias("session_end"),
        "n_events",
    )


@register(
    "stream_static_enrich",
    demoted=True,  # streaming family holds four graded rows already
    oracle="""
    WITH joined AS (
        SELECT e.ts, e.value, c.c_mktsegment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ),
    w AS (
        SELECT to_timestamp(floor(epoch(ts) / 3600) * 3600) AS ws,
               c_mktsegment, value
        FROM joined
    ),
    agg AS (
        SELECT ws, c_mktsegment, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM w GROUP BY ws, c_mktsegment
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           c_mktsegment, n, sum_value
    FROM agg
    WHERE ws + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming.enrich_with_static): the event
    stream joins the static customer dimension per micro-batch (broadcast
    — zero stream-side shuffle, zero join state), then a watermarked
    tumbling aggregation rolls the enriched stream up per market segment.
    Append emits exactly the finalized windows, which the batch oracle
    (plain join + window filter) reproduces.  The stateless dim join adds
    no eviction machinery — the scale contrast to the interval join row."""
    from . import _harden, load

    _harden(spark)
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = ST.enrich_with_static(
        ev, dim, ev.user_id == dim.c_custkey, how="inner"
    )
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )
    )
    result, _ = ST.run_stream_to_memory(
        agg,
        output_mode="append",
        state_partitions=ST.suggest_state_partitions(spark, sf_dir, "events.parquet"),
    )
    return result.select(
        F.date_format("window.start", TS_FMT).alias("window_start"),
        "c_mktsegment",
        "n",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
    )


def _ensure_sentineled_events(spark: SparkSession, sf_dir: str) -> str:
    """Build-at-most-once copy of events.parquet plus a far-future
    SENTINEL file (late r10): typed heartbeat events a year+ past the
    data.  The sentinels are the watermark punctuation pattern every
    production outer join relies on: they advance BOTH substreams'
    watermarks past every real purchase's state expiry, so outer NULL
    rows all flush before the drain — the engine's internal eviction
    bookkeeping disappears into a year of slack instead of leaking into
    the expected values.  One sentinel per event_type because Catalyst
    pushes the type filters below the watermark operators: only rows
    that PASS a filter advance that side's watermark (a type-less
    sentinel advances nothing — measured, not theorized)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    root = standing_root("sent", sf_dir, ("events.parquet",), "v2")

    def _build() -> None:
        os.makedirs(root, exist_ok=True)
        shutil.copyfile(src, os.path.join(root, "a_events.parquet"))
        import datetime as _dt

        t = pq.read_table(src)
        mx = max(t.column("ts").to_pylist())
        ts_type = t.schema.field("ts").type
        # TWO typed sentinels, one per filtered substream — Catalyst
        # pushes the event_type filters below the watermark operators,
        # so only a row that PASSES a filter can advance that side's
        # watermark.  user_id -1 matches no real key; the click sits a
        # further year out so it can never match the sentinel purchase,
        # and the purchase's own expiry (+1y +interval) stays beyond the
        # final global watermark (+1y −delay), keeping the sentinel
        # itself correctly buffered and out of the drained result.
        row = {name: [None, None] for name in t.schema.names}
        row["event_id"] = [-1, -2]
        row["user_id"] = [-1, -1]
        row["event_type"] = ["purchase", "click"]
        row["ts"] = pa.array(
            [mx + _dt.timedelta(days=365), mx + _dt.timedelta(days=730)],
            type=ts_type,
        )
        sent = pa.table(
            {
                n: (
                    row[n]
                    if isinstance(row[n], pa.Array)
                    else pa.array(row[n], type=t.schema.field(n).type)
                )
                for n in t.schema.names
            }
        )
        pq.write_table(sent, os.path.join(root, "b_sentinel.parquet"))

    build_once(spark, os.path.join(root, "_ready"), _build)
    return root


@register(
    "stream_stream_interval_left_join",
    demoted=True,  # interval-join family driver-graded via the inner row
    oracle="""
    WITH p AS (SELECT user_id, event_id AS p_event_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id AS c_user_id, event_id AS c_event_id, ts AS c_ts
          FROM events WHERE event_type = 'click')
    SELECT p.p_event_id, c.c_event_id, p.user_id,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS p_ts_s,
           CASE WHEN c.c_event_id IS NULL THEN NULL
                ELSE strftime(c.c_ts, '%Y-%m-%d %H:%M:%S') END AS c_ts_s
    FROM p LEFT JOIN c
      ON p.user_id = c.c_user_id
     AND c.c_ts >= p.p_ts AND c.c_ts <= p.p_ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_interval_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (late r10): purchases with
    their within-the-hour clicks, PLUS a NULL row for purchases that got
    none — the outer emission only a watermark can finalize (the engine
    must prove no click can still arrive before emitting the NULL row;
    inner matches still emit as rows meet).  The source is the
    SENTINEL-extended stream (:func:`_ensure_sentineled_events`): a
    far-future heartbeat file advances the watermark past every real
    purchase's expiry, so ALL outer rows flush by drain time and the
    result equals the plain batch LEFT JOIN — which is exactly what the
    oracle runs.  Without the sentinel the tail would stay correctly
    buffered (bounded-state semantics) and the drained set would depend
    on the engine's internal eviction delay; the heartbeat is how real
    deployments make outer joins complete too."""
    from . import _harden

    _harden(spark)
    root = _ensure_sentineled_events(spark, sf_dir)
    purchases = (
        ST.read_events_stream(spark, root, glob="*.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("p_event_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        ST.read_events_stream(spark, root, glob="*.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = ST.interval_join(
        purchases, clicks, "user_id", "c_user_id", "p_ts", "c_ts",
        interval="1 hour", watermark="1 hour", how="left_outer",
    )
    # sentinel exclusion happens on the DRAINED batch result, never in
    # the streaming plan: a pre-drain filter on the join key propagates
    # to BOTH scans (constraint pushdown), dropping the sentinels before
    # the watermark operators — which silently un-advances the watermark
    result, _ = ST.run_stream_to_memory(
        joined,
        output_mode="append",
        state_partitions=ST.suggest_state_partitions(spark, root, "*.parquet"),
    )
    result = result.filter(F.col("user_id") >= 0)
    return result.select(
        "p_event_id",
        "c_event_id",
        "user_id",
        F.date_format("p_ts", TS_FMT).alias("p_ts_s"),
        F.date_format("c_ts", TS_FMT).alias("c_ts_s"),
    )
