"""Structured Streaming semantics: watermark late-data drop across
micro-batches, session windows, tumbling aggregation."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from msgraphdatapipelines_spark import streaming as ST


def _write_events(path, rows):
    """Write an events-shaped parquet file with ns timestamps."""
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("ns")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema), path)


def test_watermark_drops_late_event_across_batches(spark, tmp_path):
    """A file arriving after the watermark advanced to 12:00−10min carries a
    10:00 event — late beyond the finalized window — which append output
    must drop, while its 11:56 event stays pending (window not closed).

    Note on semantics: Spark finalizes+evicts a window once the watermark
    passes its end; a late row for an already-finalized window is dropped.
    A row arriving in the *same* batch where the watermark first jumps is
    still aggregated — hence the explicit two-phase file arrival here."""
    d = tmp_path / "stream_in"
    d.mkdir()
    base = "2024-01-01 "
    _write_events(
        str(d / "a_batch1.parquet"),
        [(1, base + "10:00:00", 1, "x"), (2, base + "12:00:00", 1, "x")],
    )
    ev = ST.read_events_stream(spark, str(d), glob="*.parquet")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("wm_test").start()
    try:
        q.processAllAvailable()  # batch 1 + no-data batch: watermark → 11:50
        _write_events(
            str(d / "b_batch2.parquet"),
            [(3, base + "10:00:00", 1, "late"), (4, base + "11:56:00", 1, "ontime")],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    finalized = {
        (r["window"]["start"].strftime("%H:%M"), r["event_type"]): r["n"]
        for r in spark.table("wm_test").collect()
    }
    # late event (10:00 arriving when watermark is 11:50) dropped:
    assert ("10:00", "late") not in finalized
    # batch-1 10:00 event emitted once its window closed:
    assert finalized.get(("10:00", "x")) == 1
    # on-time batch-2 event not emitted (window 11:55 not yet past watermark)
    assert ("11:55", "ontime") not in finalized


def test_tumbling_counts_match_batch(spark, sf_dir):
    """Streaming tumbling agg in complete mode == the batch groupBy."""
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    agg = ev.groupBy(F.window("ts", "6 hours")).agg(F.count("*").alias("n"))
    result, _ = ST.run_stream_to_memory(agg, output_mode="complete")
    stream_total = sum(r["n"] for r in result.collect())
    from msgraphdatapipelines_spark.queries import load_events

    assert stream_total == load_events(spark, sf_dir).count()


def test_session_window_end_is_last_plus_gap(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), 1, "a", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 10), 1, "a", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 12, 0), 1, "a", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("session_window.start", "session_window.end", "n")
        .orderBy("start")
        .collect()
    )
    assert len(out) == 2  # 110-minute gap splits the sessions
    assert out[0]["n"] == 2
    assert out[0]["end"] == dt.datetime(2024, 1, 1, 10, 40)  # last + gap


def test_sliding_complete_mode_equals_batch(spark, sf_dir):
    """Complete-mode sliding drain == batch window agg (the bounded-input
    oracle mode demoted from the registry in r4 — production is
    watermark+append, exercised by the registered query)."""
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    agg = ST.sliding_counts(ev, window="2 hours", slide="1 hour")
    result, _ = ST.run_stream_to_memory(agg, output_mode="complete")
    stream = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["sum_value_dec"])
        for r in result.collect()
    }
    from msgraphdatapipelines_spark.queries import load_events

    batch = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["sum_value_dec"])
        for r in load_events(spark, sf_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )
        .collect()
    }
    assert stream == batch


def test_session_complete_mode_equals_batch(spark, sf_dir):
    """Complete-mode session drain == batch session_window agg (demoted
    from the registry in r4; production is watermark+append)."""
    ev = ST.read_events_stream(spark, sf_dir, glob="events.parquet")
    result, _ = ST.run_stream_to_memory(
        ST.session_counts(ev, gap="30 minutes"), output_mode="complete"
    )
    stream = {
        (r["user_id"], r["session_window"]["start"]): r["n_events"] for r in result.collect()
    }
    from msgraphdatapipelines_spark.queries import load_events

    batch = {
        (r["user_id"], r["session_window"]["start"]): r["n_events"]
        for r in load_events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .collect()
    }
    assert stream == batch


def test_sliding_append_mode_with_watermark(spark, tmp_path):
    """Production sliding mode (watermark + APPEND): windows emit once
    finalized and leave state — unlike the complete-mode oracle drain the
    registered query uses.  Events across 3 hours with a 1h watermark:
    every 2h/1h sliding window that the advancing watermark closes must be
    emitted exactly once, with the same counts batch mode computes."""
    d = tmp_path / "ev"
    d.mkdir()
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        (i, t0 + dt.timedelta(minutes=20 * i), 1, "a") for i in range(12)
    ]  # 0:00 .. 3:40
    _write_events(str(d / "events.parquet"), rows)

    ev = ST.read_events_stream(spark, str(d))
    agg = ST.sliding_counts(ev, window="2 hours", slide="1 hour", watermark="1 hour")
    result, _ = ST.run_stream_to_memory(agg, output_mode="append")
    got = {
        (r["window"]["start"].isoformat(), r["n"]) for r in result.collect()
    }
    # batch truth, restricted to windows whose end <= final watermark
    # (max ts 3:40 - 1h => 2:40; windows ending 1:00 and 2:00 qualify:
    # [-1,1) and [0,2))
    batch = (
        spark.read.parquet(str(d / "events.parquet")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    closed = {
        (r["window"]["start"].isoformat(), r["n"])
        for r in batch.collect()
        if r["window"]["end"] <= dt.datetime(2024, 6, 1, 2, 40)
    }
    assert got == closed
    assert len(got) >= 2  # the finalized windows actually emitted


def test_interval_join_matches_across_batches_then_evicts(spark, tmp_path):
    """Stream-stream interval join state machine: a purchase buffered in
    batch 1 still matches a click arriving in batch 2 (state live), but
    once the watermark passes purchase_ts + interval the buffered row is
    evicted and an even-later click for it emits nothing."""
    d = tmp_path / "ssj_in"
    d.mkdir()
    base = "2024-01-01 "
    _write_events(str(d / "a1.parquet"),
                  [(1, base + "10:00:00", 1, "purchase"), (2, base + "10:10:00", 1, "click")])

    def side(event_type, prefix):
        s = ST.read_events_stream(spark, str(d), glob="*.parquet")
        return s.filter(F.col("event_type") == event_type).select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_eid"),
            F.col("ts").alias(f"{prefix}_ts"),
        )

    joined = ST.interval_join(
        side("purchase", "p"), side("click", "c"),
        "p_user", "c_user", "p_ts", "c_ts", interval="1 hour", watermark="1 hour",
    )
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName("ssj_test").start()
    )
    try:
        q.processAllAvailable()  # batch 1: same-batch match (1,2); wm -> 9:10
        # batch 2: cross-batch click for the buffered purchase, plus
        # 14:00 rows on BOTH sides (the global watermark is the min over
        # the two trackers) -> wm becomes 13:00 > 10:00+1h: purchase evicted
        _write_events(str(d / "b2.parquet"),
                      [(3, base + "10:40:00", 1, "click"),
                       (4, base + "14:00:00", 2, "purchase"),
                       (7, base + "14:00:00", 3, "click")])
        q.processAllAvailable()
        # batch 3: a click for the now-evicted purchase emits nothing
        _write_events(str(d / "c3.parquet"),
                      [(5, base + "10:30:00", 1, "click"),
                       (6, base + "15:00:00", 3, "purchase")])
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = sorted((r["p_eid"], r["c_eid"]) for r in spark.table("ssj_test").collect())
    assert (1, 2) in pairs          # same-batch match
    assert (1, 3) in pairs          # cross-batch match: purchase state was live
    assert (1, 5) not in pairs      # evicted: click arrived after state cleanup
    assert pairs == [(1, 2), (1, 3)]


def test_dedup_within_watermark_re_emits_after_eviction(spark, tmp_path, monkeypatch):
    """dropDuplicatesWithinWatermark contract: duplicates within the delay
    are dropped; once the watermark evicts the key's state, the same key
    seen again is a NEW record (re-emitted) — bounded state, by design."""
    d = tmp_path / "dedup_in"
    d.mkdir()
    base = "2024-01-01 "
    _write_events(str(d / "a1.parquet"), [(1, base + "10:00:00", 1, "click")])

    ev = ST.read_events_stream(spark, str(d), glob="*.parquet")
    monkeypatch.setattr(ST, "DEDUP_WATERMARK", "10 minutes")
    deduped = ST.dedup_within_watermark(
        ev.select("user_id", "event_type", "ts", "event_id"), ["user_id", "event_type"]
    )
    q = (
        deduped.writeStream.outputMode("append").format("memory")
        .queryName("dedup_test").start()
    )
    try:
        q.processAllAvailable()  # emits event 1; wm -> 09:50
        _write_events(str(d / "b2.parquet"),
                      [(2, base + "10:05:00", 1, "click"),   # dup within delay -> dropped
                       (3, base + "11:00:00", 9, "click")])  # advances wm to 10:50 -> evicts key 1
        q.processAllAvailable()
        _write_events(str(d / "c3.parquet"), [(4, base + "12:00:00", 1, "click")])
        q.processAllAvailable()  # state evicted -> same key re-emits
    finally:
        q.stop()
    eids = sorted(r["event_id"] for r in spark.table("dedup_test").collect())
    assert 2 not in eids            # in-delay duplicate dropped
    assert {1, 4} <= set(eids)      # first occurrence + post-eviction re-emit


def test_interval_join_left_outer_emits_nulls_at_watermark(spark, tmp_path):
    """r6: LEFT OUTER stream-stream interval join — an unmatched left row
    cannot emit eagerly (a match might still arrive); it emits WITH NULLS
    only once the watermark proves no match can come.  Matched rows emit
    like the inner join; the no-data flush batch must stay ENABLED for
    this mode (the null emission rides it)."""
    d = tmp_path / "ssoj_in"
    d.mkdir()
    base = "2024-01-01 "
    # purchase 1 will match; purchase 2 never gets a click
    _write_events(str(d / "a1.parquet"),
                  [(1, base + "10:00:00", 1, "purchase"),
                   (2, base + "10:05:00", 2, "purchase"),
                   (3, base + "10:10:00", 1, "click")])

    def side(event_type, prefix):
        s = ST.read_events_stream(spark, str(d), glob="*.parquet")
        return s.filter(F.col("event_type") == event_type).select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_eid"),
            F.col("ts").alias(f"{prefix}_ts"),
        )

    joined = ST.interval_join(
        side("purchase", "p"), side("click", "c"),
        "p_user", "c_user", "p_ts", "c_ts",
        interval="1 hour", watermark="1 hour", how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName("ssoj_test").start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past 10:05 + 1h on BOTH sides so the
        # unmatched purchase finalizes
        _write_events(str(d / "b2.parquet"),
                      [(8, base + "14:00:00", 5, "purchase"),
                       (9, base + "14:00:00", 6, "click")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["p_eid"]: r for r in spark.table("ssoj_test").collect()}
    assert rows[1]["c_eid"] == 3          # matched pair emitted normally
    assert 2 in rows                      # unmatched left row DID emit...
    assert rows[2]["c_eid"] is None       # ...with a NULL right side


def test_stream_static_enrich_stateless_two_batches(spark, tmp_path):
    """Stream-static join is stateless: every batch's events enrich and
    emit in that batch (append mode, no watermark, no join state), and the
    dim side carries the broadcast hint so the stream side never shuffles."""
    d = tmp_path / "enrich_in"
    d.mkdir()
    base = "2024-01-01 "
    _write_events(str(d / "a_b1.parquet"), [(1, base + "10:00:00", 1, "x")])
    dim = spark.createDataFrame([(1, "SEG_A"), (2, "SEG_B")], "k long, seg string")
    ev = ST.read_events_stream(spark, str(d), glob="*.parquet")
    joined = ST.enrich_with_static(ev, dim, ev.user_id == dim.k, how="inner")
    # a streaming plan only optimizes inside start(); the broadcast hint is
    # visible on the analyzed plan (ResolvedHint strategy=broadcast)
    assert "broadcast" in joined._jdf.queryExecution().analyzed().toString().lower()
    q = (
        joined.select("event_id", "seg")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_test")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {tuple(r) for r in spark.sql("SELECT * FROM enrich_test").collect()}
        assert got1 == {(1, "SEG_A")}
        _write_events(str(d / "b_b2.parquet"), [(2, base + "11:00:00", 2, "y")])
        q.processAllAvailable()
        got2 = {tuple(r) for r in spark.sql("SELECT * FROM enrich_test").collect()}
        assert got2 == {(1, "SEG_A"), (2, "SEG_B")}
    finally:
        q.stop()


def test_foreachbatch_checkpoint_restart_resumes_offsets(spark, tmp_path):
    """Operational pin for every foreachBatch sink in streaming/ (delta
    sync, dedup stream, sketch rollup): a query restarted with the SAME
    checkpointLocation resumes from the committed source offsets — batch 0
    is not re-delivered, new files arrive as the next batch id.  This is
    the exactly-once foundation the batch-id-keyed OVERWRITE outputs
    compose with (replay only happens after a crash INSIDE a batch,
    and then idempotently)."""
    src = tmp_path / "restart_src"
    src.mkdir()
    ck = str(tmp_path / "restart_ck")
    _write_events(str(src / "a.parquet"), [(1, "2024-01-01 10:00:00", 1, "x")])
    seen = []

    def sink(df, bid):
        seen.append((bid, sorted(r["event_id"] for r in df.collect())))

    def start():
        ev = ST.read_events_stream(spark, str(src), glob="*.parquet")
        return ev.writeStream.option("checkpointLocation", ck).foreachBatch(sink).start()

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen == [(0, [1])]
    _write_events(str(src / "b.parquet"), [(2, "2024-01-01 11:00:00", 2, "y")])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen == [(0, [1]), (1, [2])]  # offsets committed: batch 0 not re-run


def test_compact_ann_index_snapshot_equals_view(spark, sf_dir, tmp_path):
    """r8: compact_ann_index publishes read_ann_index's resolved view
    (last-write-wins + tombstones dropped) as a snapshot version; the
    snapshot equals the live view and survives further appends."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.streaming.ann_stream import (
        compact_ann_index,
        read_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    cents = S.kmeans_centroids(emb, "vec_id", "embedding", k=4, iters=1)
    books = S.pq_codebooks(emb, "vec_id", "embedding")
    idx = str(tmp_path / "idx")
    b1 = emb.filter(F.col("vec_id") < 30)
    b2 = emb.filter(F.col("vec_id") >= 30)
    S.ivf_pq_index(b1, "vec_id", "embedding", cents, books).write.parquet(
        f"{idx}/batch_id=0"
    )
    # batch 1 re-indexes vec 0 and tombstones vec 1
    S.ivf_pq_index(
        b2.unionByName(emb.filter(F.col("vec_id") == 0)),
        "vec_id", "embedding", cents, books,
    ).unionByName(
        spark.createDataFrame([(1, -1, [])], "cid long, cent int, code array<int>")
    ).write.parquet(f"{idx}/batch_id=1")

    snap = str(tmp_path / "snap")
    v = compact_ann_index(spark, idx, snap)
    rows = lambda df: {  # noqa: E731
        (r["cid"], r["cent"], tuple(r["code"])) for r in df.collect()
    }
    live = rows(read_ann_index(spark, idx))
    assert rows(sinks.read_snapshot(spark, snap)) == live and v == 1
    assert not any(c == 1 for c, _, _ in live)  # tombstone resolved away


def test_suggest_state_partitions_scales_with_input(spark, sf_dir, monkeypatch):
    """r16 OPT pin: the state-partition bound derives from measured input
    bytes — 1 partition per 512 KiB (per-partition state compute matters
    before commit overhead: the 32 MiB first cut serialized the
    session-window merge onto one core), floor 1, capped at
    min(shuffle.partitions, defaultParallelism) — so a 2 MB fixture
    stream gets single-digit state stores while a large input saturates
    the cap (the formula, not a local[32] constant, is the contract)."""
    from msgraphdatapipelines_spark import streaming as ST

    cap = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    n = ST.suggest_state_partitions(spark, sf_dir, "events.parquet")
    assert 1 <= n <= cap
    # tiny input ⇒ far fewer than the cap (the pre-r16 behavior was == cap)
    import os

    sz = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    assert n == max(1, min(cap, -(-sz // (512 << 10))))
    # a big synthetic byte count saturates the cap
    monkeypatch.setattr(ST, "STATE_PARTITION_BYTES", 1)
    assert ST.suggest_state_partitions(spark, sf_dir, "*.parquet") == cap
