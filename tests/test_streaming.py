"""Structured Streaming semantics: watermark late-data drop across
micro-batches, session windows, tumbling aggregation."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
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


def test_dedup_within_watermark_re_emits_after_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract: duplicates within the delay
    are dropped; once the watermark evicts the key's state, the same key
    seen again is a NEW record (re-emitted) — bounded state, by design."""
    d = tmp_path / "dedup_in"
    d.mkdir()
    base = "2024-01-01 "
    _write_events(str(d / "a1.parquet"), [(1, base + "10:00:00", 1, "click")])

    ev = ST.read_events_stream(spark, str(d), glob="*.parquet")
    deduped = ST.dedup_within_watermark(
        ev.select("user_id", "event_type", "ts", "event_id"),
        ["user_id", "event_type"], watermark="10 minutes",
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


_DEDUP_SCHEMA = "doc_id long, text string"
_BASE = "the quick brown fox jumps over the lazy dog again and again " * 5
_NEAR = _BASE.replace("lazy", "sleepy")
_FAR = "completely different content about spark engines and parquet files " * 5


def _assign_round(spark, tmp_path, rows):
    """One ``lsh_assign_round`` over ``rows`` against the bucket state at
    ``tmp_path/state``; returns ``(assignments, updated_state)``."""
    from msgraphdatapipelines_spark.streaming.dedup_stream import lsh_assign_round

    docs = spark.createDataFrame(rows, _DEDUP_SCHEMA)
    return lsh_assign_round(
        spark, docs, str(tmp_path / "state"), "doc_id", "text", 8, 4, "xxhash64"
    )


def test_lsh_assign_round_two_rounds_share_state(spark, tmp_path):
    """r6 incremental dedup: two rounds with the state published between
    them (outputs first, state last, as the curation stream runs it);
    cross-round near-dups collapse into the FIRST round's representative
    without reprocessing round 1."""
    from msgraphdatapipelines_spark import sinks

    state = str(tmp_path / "state")
    got = {}
    for rows in (
        [(1, _BASE), (2, _FAR)],
        [(10, _NEAR), (11, "yet another unrelated corpus about streaming state " * 8)],
    ):
        assigns, new_state = _assign_round(spark, tmp_path, rows)
        got.update({r["doc_id"]: r for r in assigns.collect()})
        sinks.write_snapshot(new_state, state, keep_last=2)

    assert set(got) == {1, 2, 10, 11}
    # round-1 docs found their own clusters
    assert got[1]["rep_id"] == 1 and got[2]["rep_id"] == 2
    # near-dup of doc 1 arriving in round 2 collapsed into doc 1's cluster
    assert got[10]["rep_id"] == 1 and not got[10]["is_new_cluster"]
    assert got[11]["rep_id"] == 11 and got[11]["is_new_cluster"]
    # state survived: a third round against it still maps near to 1
    a3, _ = _assign_round(spark, tmp_path, [(30, _BASE)])
    assert a3.collect()[0]["rep_id"] == 1


def test_lsh_assign_round_fails_loudly_on_unreadable_state(spark, tmp_path):
    """Bucket state that exists but cannot be read fails the round.  It
    must never restart clustering from empty state, where doc 10 would
    silently found its own cluster instead of joining doc 1's.  Every
    file of the published version is garbled, schema sidecar included,
    so the read fails while the round is planned as well as when it
    runs."""
    import os

    from msgraphdatapipelines_spark import sinks

    _, state = _assign_round(spark, tmp_path, [(1, _BASE), (2, _FAR)])
    sinks.write_snapshot(state, str(tmp_path / "state"), keep_last=2)
    garbled = []
    for d, _, files in os.walk(tmp_path / "state"):
        for f in files:
            if f.startswith("part-") or f == "_schema.json":
                with open(os.path.join(d, f), "wb") as fh:
                    fh.write(b"this is not a parquet file")
                garbled.append(f)
            elif f.endswith(".crc"):
                os.remove(os.path.join(d, f))
    assert "_schema.json" in garbled and len(garbled) > 1, garbled
    with pytest.raises(Exception):
        assigns, _ = _assign_round(spark, tmp_path, [(10, _NEAR)])
        assigns.collect()


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


def test_enrich_refreshed_dim_sees_mid_stream_update(spark, tmp_path):
    """r7: enrich_stream_refreshed_dim re-loads the dim per micro-batch —
    a dim row updated (via an atomic snapshot publish) between batches is
    reflected in the SECOND batch's output, which a plan-time-frozen
    file-source dim cannot do."""
    from msgraphdatapipelines_spark import sinks

    src = tmp_path / "scd_src"
    src.mkdir()
    dim_root = str(tmp_path / "scd_dim")
    out = str(tmp_path / "scd_out")
    ck = str(tmp_path / "scd_ck")
    base = "2024-01-01 "

    sinks.write_snapshot(
        spark.createDataFrame([(1, "SEG_OLD")], "k long, seg string"), dim_root
    )
    _write_events(str(src / "a_b1.parquet"), [(1, base + "10:00:00", 1, "x")])
    ev = ST.read_events_stream(spark, str(src), glob="*.parquet")
    q = ST.enrich_stream_refreshed_dim(
        ev,
        lambda s: sinks.read_snapshot(s, dim_root),
        ev.user_id == F.col("k"),
        out,
        ck,
    )
    try:
        q.processAllAvailable()
        # dim update published atomically between batches
        sinks.write_snapshot(
            spark.createDataFrame([(1, "SEG_NEW")], "k long, seg string"), dim_root
        )
        _write_events(str(src / "b_b2.parquet"), [(2, base + "11:00:00", 1, "y")])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["event_id"], r["seg"])
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert got == {(1, "SEG_OLD"), (2, "SEG_NEW")}


def test_odata_page_stream_envelope_to_enrich_end_to_end(spark, tmp_path):
    """r7 (r6 VERDICT stretch item 8): streaming replay of RAW OData
    envelope pages — nextLink page boundaries, @removed tombstones,
    declared-schema projection — composed with the stream-static
    enrichment join, end-to-end on staged page files.  A page dropped
    mid-stream arrives as the next micro-batch."""
    import json as _json

    from pyspark.sql import types as T

    from msgraphdatapipelines_spark.sources import rest

    pages = tmp_path / "pages"
    pages.mkdir()
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("operatingSystem", T.StringType()),
            T.StructField("errorCode", T.LongType()),
        ]
    )
    # page 1: two records, a nextLink (metadata, not data), and an extra
    # undeclared property that the declared schema must drop
    (pages / "page-000.json").write_text(_json.dumps({
        "value": [
            {"id": "a", "operatingSystem": "Windows", "errorCode": 0, "extra": "drop me"},
            {"id": "b", "operatingSystem": "macOS"},
        ],
        "@odata.nextLink": "https://unit.test/next",
    }))
    # page 2: an update and a tombstone, ending the chain in a deltaLink
    (pages / "page-001.json").write_text(_json.dumps({
        "value": [
            {"id": "c", "operatingSystem": "Linux", "errorCode": 2},
            {"id": "a", "@removed": {"reason": "deleted"}},
        ],
        "@odata.deltaLink": "https://unit.test/delta",
    }))

    dim = spark.createDataFrame(
        [("Windows", "desktop"), ("macOS", "desktop"), ("Linux", "server")],
        "operatingSystem string, fleet string",
    )
    stream = rest.read_odata_page_stream(spark, str(pages), schema)
    enriched = ST.enrich_with_static(stream, dim, "operatingSystem", how="left_outer")
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("odata_replay")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["id"], r["operatingSystem"], r["errorCode"], r["_removed"], r["fleet"])
            for r in spark.sql("SELECT * FROM odata_replay").collect()
        }
        # declared projection: extra dropped (no column), missing -> NULL;
        # tombstone flagged with NULL entity fields; enrichment decorated
        assert got == {
            ("a", "Windows", 0, False, "desktop"),
            ("a", None, None, True, None),  # the later tombstone for a
            ("b", "macOS", None, False, "desktop"),
            ("c", "Linux", 2, False, "server"),
        }
        assert "extra" not in spark.table("odata_replay").columns
        # both the live record and its later tombstone were emitted
        rows_a = [
            r for r in spark.sql("SELECT * FROM odata_replay WHERE id='a'").collect()
        ]
        assert sorted(r["_removed"] for r in rows_a) == [False, True]
        # a page staged mid-stream is picked up as the next micro-batch
        (pages / "page-002.json").write_text(_json.dumps({
            "value": [{"id": "d", "operatingSystem": "Linux", "errorCode": 3}],
            "@odata.deltaLink": "https://unit.test/delta2",
        }))
        q.processAllAvailable()
        d = spark.sql("SELECT * FROM odata_replay WHERE id='d'").collect()
        assert len(d) == 1 and d[0]["fleet"] == "server" and not d[0]["_removed"]
    finally:
        q.stop()


@pytest.mark.heavy
def test_ann_index_stream_equals_batch_index(spark, tmp_path):
    """late-r7 streaming ANN maintenance: two staged embedding files arrive
    as separate micro-batches under frozen models; the unioned streamed
    index must equal a one-shot batch build over all vectors, and a
    restart with the same checkpoint must not re-deliver batches."""
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.streaming.ann_stream import ann_index_stream

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    cents = S.kmeans_centroids(emb, "vec_id", "embedding", k=4, iters=1)
    cb = S.pq_codebooks(emb, "vec_id", "embedding")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )

    vec_dir = tmp_path / "vectors"
    vec_dir.mkdir()
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(str(tmp_path / "s1"))
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(str(tmp_path / "s2"))
    now = _time.time()
    for i, stage in enumerate(("s1", "s2")):
        for f in (tmp_path / stage).glob("*.parquet"):
            dst = vec_dir / f"batch{i}_{f.name}"
            shutil.copy(f, dst)
            os.utime(dst, (now + 60 * i, now + 60 * i))

    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    q = ann_index_stream(
        spark, str(vec_dir), schema, index_dir, ckpt, cents, cb
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def rows(df):
        return {(r["cid"], r["cent"], tuple(r["code"])) for r in df.collect()}

    streamed = spark.read.option("basePath", index_dir).parquet(index_dir)
    full = S.ivf_pq_index(emb, "vec_id", "embedding", cents, cb)
    assert rows(streamed.select("cid", "cent", "code")) == rows(full)
    n_before = streamed.count()
    assert n_before > 0

    # restart with the same checkpoint: committed batches are not re-run
    q2 = ann_index_stream(
        spark, str(vec_dir), schema, index_dir, ckpt, cents, cb
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert (
        spark.read.option("basePath", index_dir).parquet(index_dir).count() == n_before
    )


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


def test_cm_rollup_stream_merge_equals_batch_twin(spark, tmp_path):
    """r8: the streaming CM rollup's merged cells equal the one-shot
    batch sketch over all arrived rows, and point estimates agree."""
    from pyspark.sql import types as T

    from msgraphdatapipelines_spark.operators.sketches import (
        build_cm_sketch,
        cm_estimate,
        merge_cm_sketches,
    )
    from msgraphdatapipelines_spark.streaming.ann_stream import cm_rollup_stream

    rows_dir = tmp_path / "rows"
    rows_dir.mkdir()
    schema = T.StructType([T.StructField("k", T.StringType())])
    all_rows = [(f"k{i % 7}",) for i in range(200)]

    def drop_file(rows, name):
        import shutil

        tmp = tmp_path / f"__stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), str(rows_dir / name))

    drop_file(all_rows[:120], "f0.parquet")
    drop_file(all_rows[120:], "f1.parquet")
    rollup = str(tmp_path / "rollup")
    q = cm_rollup_stream(
        spark, str(rows_dir), schema, rollup, str(tmp_path / "ck"), "k"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = merge_cm_sketches(
        spark.read.option("basePath", rollup).parquet(rollup), []
    )
    twin = build_cm_sketch(spark.createDataFrame(all_rows, schema), [], "k")
    cells = lambda d: {  # noqa: E731
        (r["depth"], r["bucket"]): r["cnt"] for r in d.collect()
    }
    assert cells(merged) == cells(twin)
    keys = spark.createDataFrame([(f"k{i}",) for i in range(7)], schema)
    est = {r["k"]: r["cm_est"] for r in cm_estimate(merged, keys, "k").collect()}
    # true counts: k0-k3 appear 29×, k4-k6 28× (200 rows, i % 7)
    assert all(est[f"k{i}"] >= (29 if i < 4 else 28) for i in range(7))


@pytest.mark.heavy
def test_ann_index_stream_with_label_payload_serves_filtered(spark, tmp_path):
    """r12 composed e2e: vectors arrive as two micro-batches with the
    label payload (ann_index_stream meta_cols) → compact refreshes the
    (label, cent) summary → the FILTERED serve over the compacted
    snapshot equals the same serve over a one-shot batch index (and
    every hit is same-label)."""
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.streaming.ann_stream import (
        ann_index_stream,
        compact_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    cents = S.kmeans_centroids(emb, "vec_id", "embedding", k=4, iters=1)
    cb = S.pq_codebooks(emb, "vec_id", "embedding")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    vec_dir = tmp_path / "vectors"
    vec_dir.mkdir()
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(str(tmp_path / "s1"))
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(str(tmp_path / "s2"))
    now = _time.time()
    for i, stage in enumerate(("s1", "s2")):
        for f in (tmp_path / stage).glob("*.parquet"):
            dst = vec_dir / f"batch{i}_{f.name}"
            shutil.copy(f, dst)
            os.utime(dst, (now + 60 * i, now + 60 * i))

    index_dir = str(tmp_path / "index")
    q = ann_index_stream(
        spark, str(vec_dir), schema, index_dir, str(tmp_path / "ckpt"),
        cents, cb, meta_cols=("label",),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    snap = str(tmp_path / "snap")
    ll_path = str(tmp_path / "label_lists")
    compact_ann_index(spark, index_dir, snap, label_lists_path=ll_path)
    ll = spark.read.parquet(ll_path)
    snap_ix = sinks.read_snapshot(spark, snap)
    assert "label" in snap_ix.columns

    queries = emb.filter(F.col("vec_id") < 10)
    key = lambda df: sorted(  # noqa: E731
        (r["qid"], r["cid"], r["score"], r["rank"]) for r in df.collect()
    )
    served = S.filtered_ivf_pq_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding", "label",
        k=3, nprobe=2, centroids=cents, codebooks=cb, rerank=30,
        index=snap_ix, label_lists=ll,
    )
    batch_ix = S.ivf_pq_index(
        emb, "vec_id", "embedding", cents, cb, meta_cols=("label",)
    )
    batch_ll = batch_ix.groupBy("label", "cent").agg(F.count("*").alias("n"))
    direct = S.filtered_ivf_pq_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding", "label",
        k=3, nprobe=2, centroids=cents, codebooks=cb, rerank=30,
        index=batch_ix, label_lists=batch_ll,
    )
    got = key(served)
    assert got == key(direct) and len(got) > 0
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert all(labels[a] == labels[b] for a, b, _, _ in got)


def test_suggest_state_partitions_scales_with_input(spark, sf_dir):
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
    assert ST.suggest_state_partitions(spark, sf_dir, "*.parquet",
                                       bytes_per_partition=1) == cap
