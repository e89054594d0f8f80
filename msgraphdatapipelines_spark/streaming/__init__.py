"""Structured Streaming operators (SURVEY.md §2.5 streaming row).

The reference is batch snapshot-per-run; its retention window (L3) is the
batch cousin of streaming TTL state.  The engine adds first-class
event-time processing: tumbling/sliding windows, watermarks with late-data
drop, and session windows — all on the ``events`` fixture.

Scale notes: windowed aggregation state is partitioned by (window, keys) —
the same hash-shuffle as batch groupBy; the watermark bounds state size
(old windows evict once the watermark passes), which is what makes a
100 TB/day stream's state finite.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@contextlib.contextmanager
def skip_no_data_batches(spark: SparkSession):
    """Scope ``spark.sql.streaming.noDataMicroBatches.enabled=false`` to a
    drain (restored on exit).

    The post-watermark no-data micro-batch exists to FLUSH results that
    only finalize when the watermark advances — append-mode window aggs
    need it or their last windows never emit.  Operators whose every
    emission happens in the data batch — update-mode stateful maps whose
    timers lie beyond the drain's final watermark, inner stream-stream
    joins (matches emit on arrival; the no-data batch only evicts state)
    — pay the full stateful-stage machinery again for nothing: measured
    ~40% of `stream_stateful_first_seen` and `stream_stream_interval_join`
    wall clock (PERF.md r6).  Never wrap an append-mode windowed agg, and
    never an OUTER stream-stream join — its null-padded rows for
    unmatched state emit exactly in the watermark flush batch
    (test_interval_join_left_outer_emits_nulls_at_watermark pins that
    emission path)."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


STATE_PARTITION_BYTES = 512 << 10  # input bytes per state-store partition
DEDUP_WATERMARK = "1 hour"  # dedup_within_watermark's eviction delay
DRAIN_TIMEOUT_S = 600  # availableNow drain bound


def suggest_state_partitions(spark: SparkSession, directory: str, glob: str = "*") -> int:
    """Input-size-derived state-store partition count (r16 OPT, guide §2:
    make partitioning scale-adaptive — derived from input size — rather
    than a constant tuned for either local mode or the cluster).

    The state of a watermarked window agg / stream-stream join is O(input
    inside the watermark horizon), and the state partition count is FIXED
    at stream start and paid per micro-batch forever (an open + commit +
    delta file per partition per store per batch; on a no-native-Hadoop
    local FS each file op is additionally a forked ``chmod``).  Sizing it
    from measured input bytes instead of inheriting the shuffle conf:

        ceil(matched_bytes / STATE_PARTITION_BYTES), floor 1,
        cap min(spark.sql.shuffle.partitions, defaultParallelism)

    Measured at sf0.1 (2 MB events input, 32 cores): the inherited bound
    (32) vs the derived value — tumbling agg 2.5 → 1.2 s, stream-stream
    interval join 7 → 1.8 s, because 32 partitions × 4 join stores × 2
    batches was ~300 serialized state-store file commits for 2 MB of
    state.  At a 100 TB/day horizon the same formula yields thousands of
    partitions (then the cap applies) — a deployment that knows its
    keyspace should pass ``state_partitions`` explicitly instead.

    512 KB/partition (not the first-cut 32 MB): per-partition state-store
    COMPUTE matters before commit overhead does.  The first cut gave the
    2 MB fixture ONE partition, which serialized the session-window merge
    loop onto one core (stream_session_windows 2.35 s median vs 1.58 s at
    8 partitions); tumbling prefers the same direction (1.39 → 1.17 s)
    and the stream-stream join is a wash (interleaved medians 1.93 vs
    1.80 s at 1 vs 4).  The cap unchanged — large inputs still land on
    min(shuffle.partitions, defaultParallelism).
    """
    import fnmatch

    from ..sinks import _fs_for

    fs, hp = _fs_for(spark, directory)
    total = 0
    for st in fs.listStatus(hp(directory)):
        name = st.getPath().getName()
        if st.isFile() and fnmatch.fnmatch(name, glob):
            total += st.getLen()
    cap = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    return max(1, min(cap, -(-total // STATE_PARTITION_BYTES)))


def read_events_stream(
    spark: SparkSession,
    directory: str,
    glob: str = "events.parquet",
) -> DataFrame:
    """File-source stream over events parquet with event-time ``ts``.

    The file source requires a *directory*; ``pathGlobFilter`` narrows it to
    the events file(s).

    The stream schema is probed from the existing files (metadata-only batch
    read), because the physical ``ts`` encoding varies by fixture vintage:
    TIMESTAMP(NANOS) arrives as LongType nanos (under nanosAsLong) and is
    converted to a µs timestamp; TIMESTAMP(MICROS) — with or without
    timezone — is used directly (NTZ cast to session-UTC timestamp so
    watermarks/windows apply).  Silently forcing one schema over the other
    compresses every event time 1000× and corrupts windows.
    """
    probe = spark.read.option("pathGlobFilter", glob).parquet(directory).schema
    raw = spark.readStream.schema(probe).option("pathGlobFilter", glob).parquet(directory)
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(ts_type, T.TimestampType):  # e.g. TIMESTAMP_NTZ
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (append-mode
    emittable: a window finalizes once the watermark passes its end)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"))
    )


def sliding_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding-window counts per event_type (every event lands in
    window/slide overlapping windows).  Without a watermark the aggregation
    is complete-mode emittable: all windows stay in state, which is exactly
    what makes the stream result equal the batch oracle."""
    g = events.withWatermark("ts", watermark) if watermark else events
    return g.groupBy(F.window("ts", window, slide), "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Session-window (gap-based) event counts per user — Structured
    Streaming's native session state machine: sessions merge across
    micro-batches when events arrive within ``gap``."""
    g = events.withWatermark("ts", watermark) if watermark else events
    return g.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n_events")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: right rows within
    ``[left_ts, left_ts + interval]`` for the matching key.

    Both sides get the watermark, and the join condition carries the
    event-time bound — the two ingredients Structured Streaming needs to
    BOUND JOIN STATE: a buffered left row can stop waiting once the
    watermark passes ``left_ts + interval``, a right row once it can no
    longer fall in any live window.  Without the time bound the engine
    must buffer both streams forever (it rejects the plan in append
    mode); with it, state follows events-per-interval — the only shape
    that survives an unbounded stream.  Inner matches emit as soon as
    both rows have arrived (no finalization wait; outer joins would emit
    NULL rows only at watermark).  Column names must be disjoint across
    the two inputs (rename before joining, as with any self-join).

    ``watermark=None`` (late r10) skips the internal ``withWatermark`` —
    for callers that watermarked UPSTREAM of a filter.  That placement
    matters: the watermark is computed from rows flowing through the
    watermark OPERATOR, so watermarking a filtered stream means a
    heartbeat/sentinel row dropped by the filter advances nothing, and
    the global watermark stalls at the filtered substream's max.  The
    left-outer query row watermarks the RAW stream for exactly this
    reason.
    """
    l = left.withWatermark(left_ts, watermark) if watermark else left
    r = right.withWatermark(right_ts, watermark) if watermark else right
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {interval}"))
    )
    return l.join(r, cond, how)


def dedup_within_watermark(events: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming first-occurrence dedup with BOUNDED state on ``ts``:
    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    evicts it once the watermark passes the first-seen event time plus the
    ``DEDUP_WATERMARK`` delay — the production contract for at-least-once sources (retries
    land within the delay; a 'duplicate' older than the watermark is by
    then a new record).  Plain ``dropDuplicates(keys)`` on a stream would
    grow state forever (one entry per key, never evicted unless the event
    time is part of the key)."""
    return events.withWatermark("ts", DEDUP_WATERMARK).dropDuplicatesWithinWatermark(keys)


def run_stream_to_memory(
    agg: DataFrame,
    output_mode: str = "append",
    available_now: bool = False,
    state_partitions: int | None = None,
) -> tuple[DataFrame, str]:
    """Run a streaming aggregation to completion against a memory sink and
    return the materialized result as a batch DataFrame.

    Default drain: ``processAllAvailable`` consumes every input file; Spark
    then runs no-data micro-batches so the advanced watermark flushes
    finalized windows (spark.sql.streaming.noDataMicroBatches.enabled,
    default on).

    ``available_now=True`` drains via ``trigger(availableNow=true)`` — the
    query processes everything available and then TERMINATES ITSELF.  This
    is REQUIRED for operators registering processing-time timers
    (``applyInPandasWithState`` + ProcessingTimeTimeout): pending timers
    make the engine schedule state-cleanup micro-batches indefinitely, so
    ``processAllAvailable`` livelocks ("No new data but cleaning up state"
    forever).  With availableNow the run ends after the data; timers are
    a long-running-stream concern and never fire in a drain.

    ``state_partitions`` (r10): the state-store partition count is FIXED
    at stream start from ``spark.sql.shuffle.partitions`` and, unlike a
    batch exchange, is NEVER AQE-coalesced — every micro-batch pays an
    open/commit per state partition forever.  A stream inheriting a
    batch-oriented, input-size-derived conf (an 800k-partition 100 TB
    posture) would open that many state stores per
    micro-batch: the r10 A/B measured 200-vs-32 partitions making the
    stateful rows 3-5× slower at sf0.1 while AQE kept every batch row
    flat.  Default (None) bounds the stream at
    ``min(spark.sql.shuffle.partitions, defaultParallelism)`` — pass an
    explicit value to size state stores to keyspace instead (the knob a
    100 TB deployment sets deliberately, per stream, not inherited).
    """
    spark = agg.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    bound = state_partitions or min(
        int(prev), spark.sparkContext.defaultParallelism
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    writer = agg.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    try:
        # read at stream START only — restored immediately after .start()
        spark.conf.set("spark.sql.shuffle.partitions", str(bound))
        q = writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        if available_now:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise TimeoutError(
                    f"availableNow drain exceeded {DRAIN_TIMEOUT_S}s for {name}"
                )
        else:
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name), name


def enrich_with_static(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join — the standard "decorate the event
    stream with a dimension table" step (the streaming analog of the
    reference's $expand relationship join, SURVEY.md P3).

    Structured Streaming RE-EXECUTES the static side per micro-batch, and
    the join is stateless: no watermark, no join state, nothing to evict —
    unlike a stream-stream join, this adds zero stateful machinery.
    Caveat on dim freshness: with a plain file-source dim the file listing
    is cached at plan time, so NEW dim files are not picked up mid-query —
    a slowly-changing dim needs a re-listing source (a table format or a
    JDBC dim, whose per-batch re-execution re-reads) or a query restart;
    per-batch re-execution alone does not imply per-batch re-listing.

    The dim side is broadcast-hinted: each micro-batch plans a
    BroadcastHashJoin, so the stream side never shuffles — at 100 TB/day
    the per-batch cost is the dim scan (cache the dim or keep it compact)
    plus a narrow probe.  Only stream-side-preserving joins are legal
    (inner / left_outer / left_semi / left_anti with the stream on the
    left); a right/full outer against a static side would need the
    engine to re-emit history and is rejected by Spark itself.
    """
    return stream.join(F.broadcast(dim), on, how)

