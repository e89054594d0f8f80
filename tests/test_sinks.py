"""Sink semantics tests (L2-L5): overwrite snapshot, append+retention with
partition expiry, audit stamp, surrogate keys."""

from __future__ import annotations

import datetime as dt
import json
import re

import pytest

from pyspark.sql import functions as F

from msgraphdatapipelines_spark import sinks


def test_full_refresh_overwrite(spark, tmp_path):
    out = str(tmp_path / "snap")
    df1 = spark.range(100).withColumnRenamed("id", "k")
    sinks.write_full_refresh(df1, out, sort_by="k")
    assert spark.read.parquet(out).count() == 100
    df2 = spark.range(7).withColumnRenamed("id", "k")
    sinks.write_full_refresh(df2, out)
    # overwrite ⇒ count equals last batch (SURVEY §5 property check)
    assert spark.read.parquet(out).count() == 7


def test_append_with_retention_drops_old_partitions(spark, tmp_path):
    out = str(tmp_path / "hist")
    now = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    old = dt.datetime(2024, 4, 1, tzinfo=dt.timezone.utc)  # 61 days before now
    df = spark.range(10).withColumnRenamed("id", "k")
    sinks.write_append_with_retention(df, spark, out, max_age_days=40, now=old)
    sinks.write_append_with_retention(df, spark, out, max_age_days=40, now=now)
    kept = spark.read.parquet(out)
    # the old partition (61 days > 40) was expired; only the new remains
    assert kept.count() == 10
    dates = [r["loadDate"] for r in kept.select("loadDate").distinct().collect()]
    assert dates == [dt.date(2024, 6, 1)]


def test_stamp_fixed_and_current(spark):
    df = spark.range(3)
    fixed = sinks.stamp(df, at=dt.datetime(2024, 6, 1))
    vals = {r["timeGenerated"] for r in fixed.collect()}
    assert vals == {dt.datetime(2024, 6, 1)}
    live = sinks.stamp(df).collect()
    assert all(r["timeGenerated"] is not None for r in live)


def test_surrogate_key_unique_and_contiguous(spark):
    df = spark.range(1000).repartition(8)
    keyed = sinks.with_surrogate_key(df)
    assert keyed.select("ClusterID").distinct().count() == 1000
    contig = sinks.with_surrogate_key(df, contiguous=True)
    ids = sorted(r["ClusterID"] for r in contig.collect())
    assert ids == list(range(1, 1001))


def test_surrogate_key_ordered_contiguous_multi_partition(spark):
    """contiguous=True with order_by must equal row_number over the global
    ordering — at >1 partition and with no single-partition exchange.
    (r2 VERDICT item 1 acceptance test.)"""
    from msgraphdatapipelines_spark import plans

    df = (
        spark.range(2000)
        .withColumn("key", (F.col("id") * 7919) % 2000)  # shuffled-order key
        .repartition(8)
    )
    contig = sinks.with_surrogate_key(df, contiguous=True, order_by="key")
    rows = contig.collect()
    # dense 1..n
    assert sorted(r["ClusterID"] for r in rows) == list(range(1, 2001))
    # ID order == key order (key is unique here, so ordering is total)
    by_key = sorted(rows, key=lambda r: r["key"])
    assert [r["ClusterID"] for r in by_key] == list(range(1, 2001))
    assert "Exchange SinglePartition" not in plans.physical_plan(contig)


def test_row_count_feedback(spark):
    assert sinks.row_count(spark.range(42)) == 42


def test_write_jdbc_roundtrip_derby(spark):
    """L1 end-to-end against in-process Derby (r2 VERDICT item 9): modes,
    batchsize, and type mapping — the TVP-analog bulk path, minus only the
    network.  Derby ships in Spark's own classpath (metastore dependency),
    so no extra install."""
    from pyspark.sql import types as T

    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    url = "jdbc:derby:memory:sinktest;create=true"
    rows = [
        (1, 2.5, "alpha", dt.datetime(2024, 6, 1, 12, 0, 0), True),
        (2, -0.75, "bravo", dt.datetime(2024, 6, 2, 0, 30, 0), False),
        (3, None, None, None, None),  # NULLs map to SQL NULL (DBNull analog)
    ]
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("s", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("b", T.BooleanType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    sinks.write_jdbc(df, url, "t_load", mode="overwrite", batchsize="2", **drv)

    def read_back():
        out = spark.read.format("jdbc").options(url=url, dbtable="t_load", **drv).load()
        return {r["k"]: r for r in out.collect()}, out.schema

    got, back_schema = read_back()
    assert len(got) == 3
    assert got[1]["x"] == 2.5 and got[1]["s"] == "alpha" and got[1]["b"] is True
    assert got[1]["ts"] == dt.datetime(2024, 6, 1, 12, 0, 0)
    assert got[3]["x"] is None and got[3]["s"] is None and got[3]["b"] is None
    # declared-schema round trip (type mapping): long/double/ts/bool survive
    kinds = {f.name.lower(): f.dataType.simpleString() for f in back_schema.fields}
    assert kinds["k"] == "bigint" and kinds["x"] == "double"
    assert kinds["ts"] == "timestamp" and kinds["b"] == "boolean"

    # append mode adds rows; overwrite truncate-and-loads (L2 semantics)
    sinks.write_jdbc(df.filter("k = 1"), url, "t_load", mode="append", **drv)
    n = spark.read.format("jdbc").options(url=url, dbtable="t_load", **drv).load().count()
    assert n == 4
    sinks.write_jdbc(df.filter("k = 2"), url, "t_load", mode="overwrite", **drv)
    got, _ = read_back()
    assert set(got) == {2}


def test_upsert_snapshot_scd1(spark):
    existing = spark.createDataFrame(
        [(1, "old-a", 10.0), (2, "old-b", 20.0), (3, "old-c", 30.0)], "id long, v string, x double"
    )
    updates = spark.createDataFrame(
        [(2, "NEW-b", 21.0), (4, "NEW-d", 40.0)], "id long, v string, x double"
    )
    got = {r["id"]: r for r in sinks.upsert_snapshot(existing, updates, ["id"]).collect()}
    assert len(got) == 4
    assert got[2]["v"] == "NEW-b"  # matched key replaced
    assert got[1]["v"] == "old-a"  # unmatched history preserved
    assert got[4]["v"] == "NEW-d"  # new key inserted


def test_apply_delta_broadcasts_driver_lane_delta(spark, tmp_path):
    """A delta round read on the driver lane of ``read_odata_delta`` is a
    local relation of exact size, so ``apply_delta``'s anti-join plans as
    a broadcast at the session's default threshold: the parquet snapshot
    is never shuffled.  Upsert, insert and tombstone merge as written."""
    from pyspark.sql import types as T

    from msgraphdatapipelines_spark.sources import rest

    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("v", T.StringType())]
    )
    snap = str(tmp_path / "snap")
    rows = [("a", "old-a"), ("b", "old-b"), ("c", "old-c")]
    spark.createDataFrame(rows, schema).write.parquet(snap)
    page = tmp_path / "delta0.json"
    page.write_text(json.dumps({
        "value": [
            {"id": "b", "v": "NEW-b"},
            {"id": "d", "v": "NEW-d"},
            {"id": "a", "@removed": {"reason": "deleted"}},
        ],
        "@odata.deltaLink": "tok",
    }))
    delta, _ = rest.read_odata_delta(spark, str(page), schema)
    merged = sinks.apply_delta(spark.read.parquet(snap), delta, ["id"])
    got = sorted(tuple(r) for r in merged.collect())
    assert got == [("b", "NEW-b"), ("c", "old-c"), ("d", "NEW-d")]
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[id#\d+\], \[id#\d+\], LeftAnti", plan), plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_apply_scd2_two_batches_chain_integrity(spark):
    """SCD2 (r7): two sequential batches over a 4-key dim — changed key
    versions twice (closed intervals chain exactly), no-op update never
    versions, new key inserts, untouched key passes through; exactly one
    current row per live key and [valid_from, valid_to) intervals abut."""
    import datetime as dt

    t0, t1, t2 = (dt.datetime(2024, m, 1) for m in (1, 6, 9))
    dim = spark.createDataFrame(
        [(1, "a", t0, None, True), (2, "b", t0, None, True), (3, "c", t0, None, True)],
        "id long, v string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    batch1 = spark.createDataFrame(
        [(1, "a2", t1), (2, "b", t1), (4, "d", t1)],  # change / no-op / insert
        "id long, v string, effective_ts timestamp",
    )
    h1 = sinks.apply_scd2(dim, batch1, ["id"])
    batch2 = spark.createDataFrame([(1, "a3", t2)], "id long, v string, effective_ts timestamp")
    h2 = sinks.apply_scd2(h1, batch2, ["id"])

    rows = sorted(h2.collect(), key=lambda r: (r["id"], r["valid_from"]))
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    # key 1: three versions chaining t0 → t1 → t2
    assert [(r["v"], r["valid_from"], r["valid_to"], r["is_current"]) for r in by_id[1]] == [
        ("a", t0, t1, False),
        ("a2", t1, t2, False),
        ("a3", t2, None, True),
    ]
    assert [(r["v"], r["is_current"]) for r in by_id[2]] == [("b", True)]  # no-op never versions
    assert [(r["v"], r["is_current"]) for r in by_id[3]] == [("c", True)]  # untouched key
    assert [(r["v"], r["valid_from"], r["is_current"]) for r in by_id[4]] == [("d", t1, True)]
    for vs in by_id.values():  # global invariant: exactly one current version per key
        assert sum(1 for r in vs if r["is_current"]) == 1


def test_read_jdbc_partitioned_roundtrip_derby(spark):
    """S7 read side (r4 VERDICT item 6): write a keyed table through L1,
    read it back with a range-partitioned JDBC scan — numPartitions > 1
    (parallel per-range queries), all rows intact, pushed filter works."""
    from pyspark.sql import functions as F

    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    url = "jdbc:derby:memory:readtest;create=true"
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )
    sinks.write_jdbc(df, url, "t_read", mode="overwrite", **drv)
    back = sinks.read_jdbc(
        spark, url, "t_read",
        partition_column="k", lower_bound=0, upper_bound=100, num_partitions=4, **drv,
    )
    assert back.rdd.getNumPartitions() == 4  # the partitioned read plan
    assert back.count() == 100
    assert sorted(r["k"] for r in back.collect()) == list(range(100))
    # rows OUTSIDE the stride bounds still arrive via the edge partitions
    narrow = sinks.read_jdbc(
        spark, url, "t_read",
        partition_column="k", lower_bound=40, upper_bound=60, num_partitions=3, **drv,
    )
    assert narrow.count() == 100
    # filter pushdown reaches the per-partition queries
    filtered = back.filter(F.col("k") >= 90)
    assert filtered.count() == 10
    # unpartitioned path: single-connection read, same data
    single = sinks.read_jdbc(spark, url, "t_read", **drv)
    assert single.rdd.getNumPartitions() == 1 and single.count() == 100
    import pytest

    with pytest.raises(ValueError, match="lower_bound"):
        sinks.read_jdbc(spark, url, "t_read", partition_column="k", **drv)


def test_zorder_layout_shrinks_per_file_bounding_boxes(spark, tmp_path):
    """r6 Z-order: against a linear sort on column a, the Morton layout
    must shrink the average per-file bounding-box AREA over (a, b) — the
    property parquet min/max skipping feeds on — and round-trip the data."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 200).cast("long").alias("a"),
        F.floor(F.col("id") / 200).cast("long").alias("b"),
        F.col("id").alias("payload"),
    )
    z_path, lin_path = str(tmp_path / "z"), str(tmp_path / "lin")
    sinks.write_zordered(df, z_path, ["a", "b"], num_files=16)
    (
        df.repartitionByRange(16, "a").sortWithinPartitions("a")
        .write.mode("overwrite").parquet(lin_path)
    )

    def file_ranges(path):
        import glob

        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            t = pq.read_table(f, columns=["a", "b"])
            a, b = t.column("a").to_pylist(), t.column("b").to_pylist()
            if a:
                out.append(((min(a), max(a)), (min(b), max(b))))
        return out

    z_r, lin_r = file_ranges(z_path), file_ranges(lin_path)
    # box AREA is layout-invariant (≈ rows/file); the skipping win is the
    # per-file range of the NON-LEADING column: linear spans all of b in
    # every file (b-point filters skip nothing), z-order bounds b too
    avg_b = lambda rs: sum(hi - lo + 1 for _, (lo, hi) in rs) / len(rs)
    assert avg_b(z_r) * 1.5 < avg_b(lin_r), (avg_b(z_r), avg_b(lin_r))
    # and a b-point filter must actually skip files under z-order
    probe = 50
    z_hits = sum(1 for _, (lo, hi) in z_r if lo <= probe <= hi)
    lin_hits = sum(1 for _, (lo, hi) in lin_r if lo <= probe <= hi)
    assert z_hits * 2 <= lin_hits, (z_hits, lin_hits)
    # the leading column stays clustered enough that a-filters skip too —
    # on AVERAGE: a file whose Morton range straddles a high interleave
    # bit legitimately spans a wide a-range, so per-file bounds flake with
    # range-boundary sampling
    avg_a = sum(hi - lo + 1 for (lo, hi), _ in z_r) / len(z_r)
    assert avg_a <= 150, avg_a
    # data round-trips
    assert spark.read.parquet(z_path).count() == n
    got = spark.read.parquet(z_path).agg(F.sum("payload")).collect()[0][0]
    assert got == n * (n - 1) // 2


def test_compact_parquet_sizes_from_disk_bytes(spark, sf_dir, tmp_path):
    """Compaction reads real on-disk sizes: a 40-file fragmentation of
    orders rewrites into ceil(bytes/target) files with identical rows and
    the source left untouched."""
    from msgraphdatapipelines_spark.sinks import compact_parquet

    src = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(40).write.parquet(src)

    stats = compact_parquet(spark, src, out, target_file_bytes=64 * 1024)
    assert stats["in_files"] == 40
    want_files = max(1, -(-stats["in_bytes"] // (64 * 1024)))
    assert stats["out_files"] == want_files and 1 < want_files < 40
    a = sorted(r["o_orderkey"] for r in spark.read.parquet(src).collect())
    b = sorted(r["o_orderkey"] for r in spark.read.parquet(out).collect())
    assert a == b
    # single-file degenerate case still works
    stats2 = compact_parquet(spark, src, str(tmp_path / "one"), target_file_bytes=1 << 40)
    assert stats2["out_files"] == 1


def test_snapshot_versioning_flow(spark, tmp_path):
    """Versioned full refresh: publish v1, v2 -> the pointer reads v2, v1 stays
    queryable; keep_last expires the oldest but never the just-published;
    a fresh root starts at v1."""
    from msgraphdatapipelines_spark.sinks import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    root = str(tmp_path / "snap")
    d1 = spark.createDataFrame([(1, "a")], "id long, s string")
    d2 = spark.createDataFrame([(2, "b"), (3, "c")], "id long, s string")
    assert write_snapshot(d1, root) == 1
    assert write_snapshot(d2, root) == 2
    assert snapshot_versions(spark, root) == [1, 2]
    assert read_snapshot(spark, root).count() == 2  # pointer -> v2
    assert [r["s"] for r in read_snapshot(spark, root, version=1).collect()] == ["a"]
    d3 = spark.createDataFrame([(4, "d")], "id long, s string")
    assert write_snapshot(d3, root, keep_last=2) == 3
    assert snapshot_versions(spark, root) == [2, 3]
    assert [r["s"] for r in read_snapshot(spark, root).collect()] == ["d"]


def test_compact_snapshot_transactional(spark, sf_dir, tmp_path, monkeypatch):
    """r7: compact_snapshot composes compact_parquet with the snapshot
    pointer flip — the compacted table lands as v=N+1, the pointer moves only
    after the rewrite completes, rows are unchanged, and a crash before
    the flip leaves readers on the old version."""
    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.sinks import (
        compact_snapshot,
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    root = str(tmp_path / "snap")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # publish a deliberately fragmented v1 (the streaming-appends shape):
    # an RDD-backed frame has no size estimate, so write_snapshot keeps
    # its 40 partitions instead of right-sizing them to one file
    fragmented = spark.createDataFrame(orders.rdd, orders.schema).repartition(40)
    assert write_snapshot(fragmented, root) == 1

    stats = compact_snapshot(spark, root, target_file_bytes=1 << 40)
    assert stats["from_version"] == 1 and stats["version"] == 2
    assert stats["in_files"] == 40 and stats["out_files"] == 1
    assert snapshot_versions(spark, root) == [1, 2]
    a = sorted(r["o_orderkey"] for r in read_snapshot(spark, root, version=1).collect())
    b = sorted(r["o_orderkey"] for r in read_snapshot(spark, root).collect())
    assert a == b  # same table, new layout, pointer on v2

    # crash BEFORE the flip: rewrite succeeds but the pointer never moves
    def boom(fs_, hp_, root_, v_):
        raise RuntimeError("crash before flip")

    monkeypatch.setattr(sinks, "_flip_latest", boom)
    try:
        compact_snapshot(spark, root, target_file_bytes=1 << 40)
        raise AssertionError("expected the injected crash")
    except RuntimeError:
        pass
    monkeypatch.undo()
    # reader still resolves the last COMMITTED version (v2), the orphan
    # v=3 directory exists but is unreferenced
    assert sorted(
        r["o_orderkey"] for r in read_snapshot(spark, root).collect()
    ) == a
    assert snapshot_versions(spark, root) == [1, 2, 3]
    # re-running compaction after the crash commits cleanly past the orphan
    stats2 = compact_snapshot(spark, root, target_file_bytes=1 << 40)
    assert stats2["version"] == 4
    assert sorted(
        r["o_orderkey"] for r in read_snapshot(spark, root).collect()
    ) == a


def test_diff_snapshots_time_travel_cdc(spark, tmp_path):
    """table_diff composed with snapshot versions (r7): the keyed diff
    between two committed versions reports exactly the applied churn —
    added/deleted/changed with old/new payload pairs — and unchanged rows
    never appear."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.operators.diff import table_diff

    root = str(tmp_path / "snap_cdc")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)], ["id", "s", "x"]
    )
    sinks.write_snapshot(v1, root)
    v2 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)], ["id", "s", "x"]
    )
    sinks.write_snapshot(v2, root)

    diff = table_diff(
        sinks.read_snapshot(spark, root, version=1),
        sinks.read_snapshot(spark, root, version=2),
        ["id"],
    )
    got = {r["id"]: r for r in diff.collect()}
    assert set(got) == {2, 3, 4}
    assert got[2]["change_type"] == "changed" and got[2]["old_s"] == "b" and got[2]["new_s"] == "B"
    assert got[3]["change_type"] == "deleted" and got[3]["new_s"] is None
    assert got[4]["change_type"] == "added" and got[4]["old_s"] is None

    # null-safe: a payload NULL on both sides is UNCHANGED, not changed
    b = spark.createDataFrame([(7, None)], "id long, x double")
    assert table_diff(b, b, ["id"]).count() == 0
    # a NULL→value flip IS a change
    n = spark.createDataFrame([(7, 1.0)], "id long, x double")
    assert [r["change_type"] for r in table_diff(b, n, ["id"]).collect()] == ["changed"]


def test_vacuum_snapshots_collects_orphans_keeps_window(spark, tmp_path, monkeypatch):
    """r8 (r7 VERDICT item 4): vacuum_snapshots removes (a) the orphan
    uncommitted version a crashed compact_snapshot left behind and (b)
    committed versions beyond keep_last — while the pointed version and
    the keep_last window survive and a concurrent pointer-resolving
    reader keeps working throughout."""
    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.sinks import (
        compact_snapshot,
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    root = str(tmp_path / "snap")
    for i in range(1, 5):  # publish v1..v4, pointer -> v4
        df = spark.createDataFrame([(j, f"r{i}") for j in range(i)], "id long, s string")
        assert write_snapshot(df, root) == i

    # crash a compaction before the flip -> orphan v=5
    def boom(fs_, hp_, root_, v_):
        raise RuntimeError("crash before flip")

    monkeypatch.setattr(sinks, "_flip_latest", boom)
    try:
        compact_snapshot(spark, root)
        raise AssertionError("expected the injected crash")
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert snapshot_versions(spark, root) == [1, 2, 3, 4, 5]

    before = read_snapshot(spark, root).count()  # concurrent reader, pre-vacuum
    stats = vacuum_snapshots(spark, root, keep_last=2)
    assert stats["removed_orphans"] == [5]
    assert stats["removed_expired"] == [1, 2]
    assert stats["kept"] == [3, 4]
    assert snapshot_versions(spark, root) == [3, 4]
    # reader concurrent with/after vacuum: pointer-resolved version intact
    assert read_snapshot(spark, root).count() == before == 4
    assert read_snapshot(spark, root, version=3).count() == 3

    # idempotent on a clean root; pointer version survives even keep_last=1
    assert vacuum_snapshots(spark, root, keep_last=1) == {
        "removed_orphans": [], "removed_expired": [3], "kept": [4],
        "removed_stages": [],
    }
    assert snapshot_versions(spark, root) == [4]


def test_uncommitted_first_publish_is_not_a_snapshot(spark, tmp_path, monkeypatch):
    """The pointer marker is the only commit: a first publish that
    crashed between its claim and its flip leaves a complete ``v=1`` but
    no ``_LATEST.v*`` marker.  That root holds no snapshot — readers get
    ``FileNotFoundError`` (never the unpointed version), vacuum refuses
    before deleting anything, and the next publish claims ``v=2`` and
    serves it."""
    import os

    import pytest

    from msgraphdatapipelines_spark import sinks

    root = str(tmp_path / "snap")
    first = spark.createDataFrame([(1, "crashed")], "id long, s string")

    def boom(fs_, hp_, root_, v_):
        raise RuntimeError("crash before flip")

    monkeypatch.setattr(sinks, "_flip_latest", boom)
    with pytest.raises(RuntimeError, match="crash before flip"):
        sinks.write_snapshot(first, root)
    monkeypatch.undo()
    assert sinks.snapshot_versions(spark, root) == [1]
    listing = (sorted(os.listdir(root)), sorted(os.listdir(f"{root}/v=1")))

    assert not sinks.snapshot_exists(spark, root)
    with pytest.raises(FileNotFoundError):
        sinks.read_snapshot(spark, root)
    with pytest.raises(FileNotFoundError):
        sinks.vacuum_snapshots(spark, root, keep_last=1, stage_ttl_s=0.0)
    assert (sorted(os.listdir(root)), sorted(os.listdir(f"{root}/v=1"))) == listing

    second = spark.createDataFrame([(2, "published")], "id long, s string")
    assert sinks.write_snapshot(second, root) == 2
    assert sinks.snapshot_exists(spark, root)
    assert sinks._read_latest_version(spark, root) == 2
    assert [tuple(r) for r in sinks.read_snapshot(spark, root).collect()] == [
        (2, "published")
    ]


def test_refresh_agg_incremental_rounds_equal_rebuild(spark):
    """r8 refresh_agg_incremental: across two delta rounds (insert,
    update, delete — including a group fully emptied) the incrementally
    patched aggregate equals the full rebuild, and None bootstraps."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.sinks import refresh_agg_incremental

    def build(df):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    snap0 = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 5), (4, "c", 7)], ["id", "k", "v"]
    )
    agg = refresh_agg_incremental(snap0, None, snap0.select("k").limit(0), ["k"], build)

    # round 1: update id=1 (a: 10->11), insert id=5 (b), delete id=4 (c empties)
    snap1 = spark.createDataFrame(
        [(1, "a", 11), (2, "a", 20), (3, "b", 5), (5, "b", 9)], ["id", "k", "v"]
    )
    touched1 = spark.createDataFrame([("a",), ("b",), ("c",)], ["k"])
    agg = refresh_agg_incremental(snap1, agg, touched1, ["k"], build)
    want = {(r["k"], r["n"], r["s"]) for r in build(snap1).collect()}
    assert {(r["k"], r["n"], r["s"]) for r in agg.collect()} == want
    assert not any(r["k"] == "c" for r in agg.collect())  # emptied group gone

    # round 2: touch only 'b'
    snap2 = spark.createDataFrame(
        [(1, "a", 11), (2, "a", 20), (5, "b", 100)], ["id", "k", "v"]
    )
    agg = refresh_agg_incremental(snap2, agg, spark.createDataFrame([("b",)], ["k"]), ["k"], build)
    want2 = {(r["k"], r["n"], r["s"]) for r in build(snap2).collect()}
    assert {(r["k"], r["n"], r["s"]) for r in agg.collect()} == want2


def test_zonemap_prunes_files_and_preserves_semantics(spark, sf_dir, tmp_path):
    """r9 zonemap: a Z-ordered layout + manifest prunes the file list for
    a narrow range predicate (strictly fewer files opened than written),
    results equal the full-scan filter, and a no-overlap range yields an
    empty frame with the table schema."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.queries import load_events

    ev = load_events(spark, sf_dir)
    path = str(tmp_path / "ev_zm")
    # 64 files → ~3 Morton bits of file-level resolution PER column (the
    # Z-order trade: with F files and 2 interleaved columns each column's
    # file bounding boxes are ~(hi-lo)/F^(1/2) wide, so skipping needs
    # enough files — 8 files gave 1-bit boxes and pruned nothing)
    sinks.write_zordered(ev, path, ["value", "user_id"], num_files=64)
    n_files = sinks.build_zonemap(spark, path, ["value", "user_id"])
    assert n_files == 64

    pruned = sinks.scan_pruned(spark, path, "value", 10.0, 20.0)
    assert len(pruned.inputFiles()) < n_files / 2  # narrow band skips most
    # user_id spans 0..14 at sf0.001 — probe a 3-wide band of it
    by_user = sinks.scan_pruned(spark, path, "user_id", 0, 2)
    assert len(by_user.inputFiles()) < n_files / 2  # OTHER column skips too
    expect = ev.filter(F.col("value").between(10.0, 20.0))
    assert pruned.count() == expect.count()
    a = {tuple(r) for r in pruned.select("event_id", "value").collect()}
    b = {tuple(r) for r in expect.select("event_id", "value").collect()}
    assert a == b

    empty = sinks.scan_pruned(spark, path, "value", 1e9, 2e9)
    assert empty.count() == 0
    assert set(empty.columns) == set(ev.columns)


def test_snapshot_zonemap_default_pruned_reads_and_compact_refresh(spark, tmp_path):
    """r10 (r9 VERDICT item 9): zone maps composed into the snapshot
    warehouse — write_snapshot(zonemap_cols=…) commits the manifest WITH
    the version, read_snapshot_pruned_in opens strictly fewer files with
    results identical to a full-scan filter, and a compacted version
    (which carries no manifest) serves the same rows unpruned."""
    import os

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    df = (
        spark.range(0, 20_000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 1000).cast("double").alias("value"),
        )
        # range-partition on value so per-file [min,max] boxes are tight
        .repartitionByRange(16, "value")
        .sortWithinPartitions("value")
    )
    root = str(tmp_path / "tbl")
    v1 = sinks.write_snapshot(df, root, zonemap_cols=["value"])
    assert v1 == 1

    # manifest is part of the committed version
    zm = spark.read.parquet(f"{root}/v=1/_zonemap")
    n_files = zm.count()
    assert n_files > 1

    probe = [float(v) for v in range(100, 121)]
    pruned = sinks.read_snapshot_pruned_in(spark, root, "value", probe)
    full = sinks.read_snapshot(spark, root).filter(F.col("value").between(100.0, 120.0))
    assert sorted(r["k"] for r in pruned.collect()) == sorted(
        r["k"] for r in full.collect()
    )
    # strictly fewer files opened than the layout holds
    opened = pruned.select(F.input_file_name().alias("f")).distinct().count()
    assert 0 < opened < n_files

    # compaction rewrites the file set into a version without a manifest
    stats = sinks.compact_snapshot(spark, root, target_file_bytes=1 << 30)
    assert stats["version"] == 2
    assert not os.path.exists(f"{root}/v=2/_zonemap")
    pruned2 = sinks.read_snapshot_pruned_in(spark, root, "value", probe)
    assert sorted(r["k"] for r in pruned2.collect()) == sorted(
        r["k"] for r in full.collect()
    )
    # the read really resolves against v=2's files
    assert all("/v=2/" in f for f in pruned2.inputFiles())
    # compact_parquet's size math must not have counted the v=1 manifest
    assert stats["in_files"] == n_files


def test_forget_keys_erases_current_and_history(spark, tmp_path):
    """r10 GDPR erasure on a snapshot table: the forgotten keys vanish
    from the new version, EVERY older version directory is deleted so
    time travel cannot resurrect them, unaffected rows survive, and a
    pruned read of the scrubbed version answers from it."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("value")
    )
    root = str(tmp_path / "tbl")
    sinks.write_snapshot(df, root, zonemap_cols=["value"])
    sinks.write_snapshot(df, root, zonemap_cols=["value"])  # second version
    keys = spark.createDataFrame([(3,), (500,), (999,)], "k: long")
    out = sinks.forget_keys(spark, root, ["k"], keys)
    assert out["rows_removed"] == 3
    assert out["erased_versions"] == [1, 2]
    assert sinks.snapshot_versions(spark, root) == [out["version"]]
    cur = sinks.read_snapshot(spark, root)
    assert cur.count() == 997
    assert cur.filter(F.col("k").isin(3, 500, 999)).count() == 0
    # pruned read still works on the scrubbed version
    pruned = sinks.read_snapshot_pruned_in(spark, root, "value", [2.0])
    assert pruned.count() == cur.filter(F.col("value") == 2.0).count()


# --- late r10: file-level Bloom-filter manifests ---------------------------


def test_bloom_manifest_prunes_without_false_negatives(spark, tmp_path):
    """A point lookup through the Bloom manifest must open strictly fewer
    files than the layout holds (on a random shard where zone maps cannot
    prune at all) and return EXACTLY what a full-scan filter returns, for
    every probed key — the no-false-negative contract."""
    path = str(tmp_path / "orders_sharded")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    o.repartition(8).write.parquet(path)
    sinks.build_bloom_manifest(spark, path, ["o_orderkey"], bits=1 << 15, k=4)

    total_files = 8
    pruned_any = False
    for key in [0, 7, 977, 1203, 1499]:
        cand = sinks.bloom_candidate_files(spark, path, "o_orderkey", key)
        assert 1 <= len(cand) <= total_files
        if len(cand) < total_files:
            pruned_any = True
        got = sorted(
            tuple(r)
            for r in sinks.scan_bloom_pruned(spark, path, "o_orderkey", key)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in spark.read.parquet(path)
            .filter(F.col("o_orderkey") == key)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .collect()
        )
        assert got == want and len(want) >= 1
    assert pruned_any, "bloom filter never pruned a single file"
    # absent key: result must be empty regardless of false-positive opens
    assert sinks.scan_bloom_pruned(spark, path, "o_orderkey", 10**9).count() == 0


# --- late r10: plan-fingerprint result cache -------------------------------


def test_result_cache_builds_once_and_serves_from_artifact(spark, tmp_path):
    """Second serve of the same (plan, inputs) must not rewrite the
    artifact, must read ONLY the msgdp_rc_ path (no source scan in the
    physical plan), and must return the exact direct-run result."""
    import os

    from msgraphdatapipelines_spark import cache

    src = "/root/testdata/sf0.001/orders.parquet"
    base = str(tmp_path)

    def build():
        return (
            spark.read.parquet(src)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    first = cache.serve_cached(spark, build(), [src], base_dir=base)
    direct = {(r["o_orderstatus"], r["n"]) for r in build().collect()}
    assert {(r["o_orderstatus"], r["n"]) for r in first.collect()} == direct

    fp = cache.plan_fingerprint(spark, build(), [src])
    data_dir = os.path.join(cache.result_cache_root(fp, base), "data")
    listing = sorted(
        (f, os.path.getmtime(os.path.join(data_dir, f)))
        for f in os.listdir(data_dir)
        if not f.startswith(("_", "."))
    )
    second = cache.serve_cached(spark, build(), [src], base_dir=base)
    listing2 = sorted(
        (f, os.path.getmtime(os.path.join(data_dir, f)))
        for f in os.listdir(data_dir)
        if not f.startswith(("_", "."))
    )
    assert listing == listing2, "cache hit rewrote the artifact"
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "orders.parquet" not in plan
    files = second.inputFiles()
    assert files and all("msgdp_rc_" in f for f in files)
    assert {(r["o_orderstatus"], r["n"]) for r in second.collect()} == direct


def test_result_cache_invalidates_on_input_change_and_plan_change(spark, tmp_path):
    """Touching an input file or changing a literal in the query MUST
    rotate the fingerprint (no stale serve); the stranded old entry is
    collected by the standing-artifact GC with the msgdp_rc_ prefix."""
    import shutil

    from msgraphdatapipelines_spark import cache

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    src = str(src_dir / "orders.parquet")
    shutil.copyfile("/root/testdata/sf0.001/orders.parquet", src)
    base = str(tmp_path)

    def build(thresh):
        return (
            spark.read.parquet(src)
            .filter(F.col("o_orderkey") < thresh)
            .agg(F.count(F.lit(1)).alias("n"))
        )

    fp1 = cache.plan_fingerprint(spark, build(100), [src])
    served1 = cache.serve_cached(spark, build(100), [src], base_dir=base)
    assert served1.collect()[0]["n"] == 100
    # plan change (different literal) → different key
    assert cache.plan_fingerprint(spark, build(200), [src]) != fp1
    # input change (same bytes, new mtime is enough) → different key
    import os

    os.utime(src)
    fp_after = cache.plan_fingerprint(spark, build(100), [src])
    assert fp_after != fp1
    # the stale entry is GC-able under the registered msgdp_rc_ prefix
    served2 = cache.serve_cached(spark, build(100), [src], base_dir=base)
    assert served2.collect()[0]["n"] == 100
    res = sinks.vacuum_standing_artifacts(
        spark,
        base_dir=base,
        keep_roots=[cache.result_cache_root(fp_after, base)],
        prefixes=("msgdp_rc_",),
    )
    assert cache.result_cache_root(fp1, base) in res["removed"]
    assert cache.result_cache_root(fp_after, base) in res["kept"]
    # live entry still serves after the sweep
    assert cache.serve_cached(spark, build(100), [src], base_dir=base).collect()[0]["n"] == 100


# --- r11: ADVICE-driven hardening of the standing stores --------------------


def test_result_cache_nested_input_rotation(spark, tmp_path):
    """r11 (ADVICE cache.py:61): the input signature must see LEAF files
    recursively — rewriting a file two directory levels deep (same
    top-level mtimes on object stores) must rotate the fingerprint."""
    import shutil

    from msgraphdatapipelines_spark import cache

    root = tmp_path / "in"
    deep = root / "ds=1" / "hr=2"
    deep.mkdir(parents=True)
    shutil.copyfile(
        "/root/testdata/sf0.001/region.parquet", str(deep / "part-0.parquet")
    )
    fp1 = cache.plan_fingerprint(
        spark, spark.read.parquet(str(root)).agg(F.count(F.lit(1)).alias("n")), [str(root)]
    )
    import os

    os.utime(str(deep / "part-0.parquet"))  # deep leaf touched, dirs unchanged
    fp2 = cache.plan_fingerprint(
        spark, spark.read.parquet(str(root)).agg(F.count(F.lit(1)).alias("n")), [str(root)]
    )
    assert fp1 != fp2, "deep-file rewrite did not rotate the cache key"


def test_result_cache_serves_new_rows_after_same_size_replacement(spark, tmp_path):
    """A same-size file swapped in with ``os.replace`` and its mtime
    restored is a new input: the result cache keys a local input on
    ``cache.file_identity`` (inode and ctime too), so it serves the new
    rows instead of the old result."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from msgraphdatapipelines_spark import cache

    src = str(tmp_path / "in.parquet")
    new = str(tmp_path / "new.parquet")
    base = str(tmp_path / "rc")
    pq.write_table(pa.table({"s": ["aaaa", "aaaa"]}), src)
    pq.write_table(pa.table({"s": ["bbbb", "bbbb"]}), new)
    assert os.path.getsize(src) == os.path.getsize(new)

    def query():
        return spark.read.parquet(src).select("s").distinct()

    assert [r["s"] for r in cache.serve_cached(spark, query(), [src], base_dir=base).collect()] == ["aaaa"]
    st = os.stat(src)
    os.replace(new, src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(src).st_mtime_ns == st.st_mtime_ns
    assert [r["s"] for r in query().collect()] == ["bbbb"]
    served = cache.serve_cached(spark, query(), [src], base_dir=base)
    assert [r["s"] for r in served.collect()] == ["bbbb"]


def test_result_cache_crash_between_data_and_marker_recovers(spark, tmp_path):
    """r11 (ADVICE cache.py:105): publication goes through a private
    staging dir + atomic rename.  Simulated crash (data published, marker
    lost): the rebuilder must NOT corrupt or nest into the existing data
    dir — it stages privately, detects data present, discards the staging
    copy, and recommits the marker.  Reader-never-sees-partial."""
    import os

    from msgraphdatapipelines_spark import cache

    src = "/root/testdata/sf0.001/orders.parquet"
    base = str(tmp_path)

    def build():
        return (
            spark.read.parquet(src)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    want = {(r["o_orderstatus"], r["n"]) for r in build().collect()}
    cache.serve_cached(spark, build(), [src], base_dir=base)
    fp = cache.plan_fingerprint(spark, build(), [src])
    root = cache.result_cache_root(fp, base)
    os.remove(os.path.join(root, "_rc_ready"))  # crash: marker lost
    data_dir = os.path.join(root, "data")
    before = sorted(os.listdir(data_dir))
    served = cache.serve_cached(spark, build(), [src], base_dir=base)
    assert {(r["o_orderstatus"], r["n"]) for r in served.collect()} == want
    after = sorted(os.listdir(data_dir))
    assert before == after, "recovery rewrote or nested into the live data dir"
    # no stray staging dirs left behind
    strays = [d for d in os.listdir(root) if d.startswith("data.")]
    assert strays == [], f"staging dirs leaked: {strays}"
    assert os.path.exists(os.path.join(root, "_rc_ready"))


def test_bloom_manifest_nested_partitions_full_path_identity(spark, tmp_path):
    """r11 (ADVICE sinks.py:1526): partitioned layouts repeat basenames
    (part-00000 under every partition dir).  The manifest must key files
    by FULL path — nested files join the manifest, same-basename files in
    different partitions never alias, and a rebuild after a nested append
    finds the new partition file."""
    path = str(tmp_path / "orders_part")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    o.withColumn("bucket", F.pmod(F.col("o_custkey"), F.lit(3)).cast("int")).coalesce(
        1
    ).write.partitionBy("bucket").parquet(path)
    sinks.build_bloom_manifest(spark, path, ["o_orderkey"], bits=1 << 15, k=4)
    # every partition dir holds a file named the same way; the manifest
    # must hold one entry per FULL path
    words = spark.read.parquet(f"{path}/_bloom_o_orderkey/words")
    n_files = words.select("file").distinct().count()
    assert n_files >= 3, "nested partition files missing from the manifest"
    batch = (
        o.limit(4)
        .withColumn("o_orderkey", F.col("o_orderkey") + 2_000_000)
        .withColumn("bucket", F.lit(1))
    )
    batch.coalesce(1).write.mode("append").partitionBy("bucket").parquet(path)
    sinks.build_bloom_manifest(spark, path, ["o_orderkey"], bits=1 << 15, k=4)
    words = spark.read.parquet(f"{path}/_bloom_o_orderkey/words")
    assert words.select("file").distinct().count() == n_files + 1
    for r in batch.select("o_orderkey").collect():
        got = sinks.scan_bloom_pruned(spark, path, "o_orderkey", r["o_orderkey"])
        rows = got.collect()
        assert len(rows) == 1
        # basePath read recovers the partition column from the path
        assert rows[0]["bucket"] == 1


def test_colocated_fact_key_rotates_on_lineitem_change(spark, tmp_path):
    """r11 (ADVICE tpch.py:977): the co-bucketed warehouse fingerprint
    must cover BOTH fact files — regenerating lineitem alone rotates the
    key (no stale bucketed copy served)."""
    import os
    import shutil

    from msgraphdatapipelines_spark.queries import tpch

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("orders", "lineitem"):
        shutil.copyfile(
            f"/root/testdata/sf0.001/{t}.parquet", str(sf / f"{t}.parquet")
        )
    t_o1, t_l1 = tpch.ensure_colocated_facts(spark, str(sf))
    os.utime(str(sf / "lineitem.parquet"))  # lineitem regenerated, orders untouched
    t_o2, t_l2 = tpch.ensure_colocated_facts(spark, str(sf))
    assert (t_o1, t_l1) != (t_o2, t_l2), "stale bucketed lineitem would be served"


def test_wedge_census_integral_arithmetic(spark):
    """r11 (ADVICE graph.py:298): wedge count stays integral (no per-row
    double) — star graph K_{1,4}: center degree 4 → 6 wedges, leaves
    contribute 0, zero triangles."""
    from msgraphdatapipelines_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src int, dst int"
    )
    row = triangle_stats(edges).collect()[0]
    assert row["n_wedges"] == 6
    assert row["n_triangles"] == 0
    assert row["clustering_coeff"] == 0.0


def test_result_cache_two_concurrent_builders_race_safely(spark, tmp_path):
    """r11 (r10 VERDICT item 8 / ADVICE cache.py:105): two builders racing
    the SAME uncached fingerprint must both serve correct results, leave
    exactly one committed data dir, and leak no staging dirs — the
    staged-publish + atomic-rename protocol's live proof (not just the
    crash simulation)."""
    import os
    import threading

    from msgraphdatapipelines_spark import cache

    src = "/root/testdata/sf0.001/orders.parquet"
    base = str(tmp_path)

    def build():
        return (
            spark.read.parquet(src)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    want = {(r["o_orderpriority"], r["n"]) for r in build().collect()}
    results: list[set | Exception] = [None, None]

    def racer(i: int):
        try:
            got = cache.serve_cached(spark, build(), [src], base_dir=base)
            results[i] = {(r["o_orderpriority"], r["n"]) for r in got.collect()}
        except Exception as e:  # noqa: BLE001
            results[i] = e

    ts = [threading.Thread(target=racer, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert results[0] == want, results[0]
    assert results[1] == want, results[1]
    fp = cache.plan_fingerprint(spark, build(), [src])
    root = cache.result_cache_root(fp, base)
    entries = sorted(os.listdir(root))
    assert "data" in entries and "_rc_ready" in entries
    strays = [d for d in entries if d.startswith("data.")]
    assert strays == [], f"staging leaked: {strays}"
    # nothing nested inside data either (the HDFS rename-into-dir hazard)
    assert not [d for d in os.listdir(os.path.join(root, "data")) if d.startswith("data.")]
    # and a later serve is a pure artifact hit
    again = cache.serve_cached(spark, build(), [src], base_dir=base)
    assert all("msgdp_rc_" in f for f in again.inputFiles())


def test_result_cache_misses_after_gdpr_erasure(spark, tmp_path):
    """r12 (r11 VERDICT item 8): the result cache keys on recursive
    leaf-file signatures, so a GDPR erasure REWRITE of the underlying
    store must invalidate cached results naturally — re-serving the same
    query after forget_keys is a MISS returning the scrubbed answer; a
    cache hit here would resurrect forgotten rows, defeating the
    erasure."""
    from msgraphdatapipelines_spark import cache, sinks

    base = str(tmp_path)

    snap = str(tmp_path / "snap")
    sinks.write_snapshot(
        spark.createDataFrame([(i, f"u{i}") for i in range(50)], "id long, user string"),
        snap,
    )

    def q_snap():
        return sinks.read_snapshot(spark, snap).agg(F.count(F.lit(1)).alias("n"))

    fp1 = cache.plan_fingerprint(spark, q_snap(), [snap])
    assert cache.serve_cached(spark, q_snap(), [snap], base_dir=base).collect()[0]["n"] == 50
    res = sinks.forget_keys(
        spark, snap, ["id"], spark.createDataFrame([(7,), (13,)], "id long")
    )
    assert res["rows_removed"] == 2 and res["erased_versions"]
    fp2 = cache.plan_fingerprint(spark, q_snap(), [snap])
    assert fp2 != fp1, "erasure did not rotate the snapshot cache fingerprint"
    assert cache.serve_cached(spark, q_snap(), [snap], base_dir=base).collect()[0]["n"] == 48


def test_scan_pruned_in_set_membership(spark, tmp_path):
    """late r12: IN-set zonemap pruning (scan_pruned_in /
    read_snapshot_pruned_in — the probe-list-pushdown consumer layer).
    A key-clustered layout opens ONLY the files whose [min, max] holds a
    probed value, results equal the full-scan isin, the empty set yields
    an empty frame, and a manifest-less snapshot version falls back to a
    plain filtered read (pruning optional, never required)."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    df = spark.range(0, 400).withColumn("k", (F.col("id") / 100).cast("long"))
    path = str(tmp_path / "t")
    # directory-partitioned by k: exactly one key per file, deterministic
    df.repartition(1).write.partitionBy("k").parquet(path)
    sinks.build_zonemap(spark, path, ["k"])

    pr = sinks.scan_pruned_in(spark, path, "k", [3, 0])
    assert len(pr.inputFiles()) == 2  # two probed keys -> two files opened
    assert pr.count() == 200
    assert {r["k"] for r in pr.select("k").distinct().collect()} == {0, 3}
    assert sinks.scan_pruned_in(spark, path, "k", []).count() == 0
    # values outside every file interval: nothing opens, empty result
    assert sinks.scan_pruned_in(spark, path, "k", [99]).count() == 0

    # snapshot WITHOUT a manifest: correct fallback (plain isin read)
    snap = str(tmp_path / "snap")
    sinks.write_snapshot(df, snap)
    fb = sinks.read_snapshot_pruned_in(spark, snap, "k", [1, 2])
    assert fb.count() == 200

    # snapshot WITH a manifest: committed with the version, prunes
    snap2 = str(tmp_path / "snap2")
    sinks.write_snapshot(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        snap2,
        zonemap_cols=["k"],
    )
    full = sinks.read_snapshot(spark, snap2)
    pr2 = sinks.read_snapshot_pruned_in(spark, snap2, "k", [2])
    assert len(pr2.inputFiles()) < len(full.inputFiles())
    assert pr2.count() == 100


def test_pruned_reads_survive_directory_rename(spark, tmp_path):
    """late r12 (found by the serial gate, not by any single-test run):
    file manifests record absolute input_file_name() paths, but a
    staged-rename publish (ensure_standing_index) RELOCATES the table
    after its manifest was built — a pruned read must resolve files by
    table-relative identity, not the recorded prefix, or it dangles into
    the dead stage path (PATH_NOT_FOUND).  Covers the zonemap range scan,
    the IN-set scan, and the Bloom point lookup, on a partitionBy layout
    where bare basenames are NOT unique across partition dirs."""
    import os

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    df = spark.range(0, 400).withColumn("k", (F.col("id") / 100).cast("long"))
    stage = tmp_path / "stage"
    (stage / "t").parent.mkdir(parents=True, exist_ok=True)
    old = str(stage / "t")
    # one task -> identical part-file basename in EVERY k= dir
    df.repartition(1).write.partitionBy("k").parquet(old)
    sinks.build_zonemap(spark, old, ["k"])
    sinks.build_bloom_manifest(spark, old, ["id"])

    live = tmp_path / "live"
    os.rename(stage, live)  # the staged-publish relocation
    new = str(live / "t")

    pr_in = sinks.scan_pruned_in(spark, new, "k", [2])
    assert pr_in.count() == 100 and len(pr_in.inputFiles()) == 1
    pr_rng = sinks.scan_pruned(spark, new, "k", 1, 2)
    assert pr_rng.count() == 200 and len(pr_rng.inputFiles()) == 2
    pr_bl = sinks.scan_bloom_pruned(spark, new, "id", 123)
    assert [r["id"] for r in pr_bl.collect()] == [123]


def test_pruned_reads_fall_back_loudly_on_dangling_manifest(spark, tmp_path):
    """r13 (ADVICE): a manifest entry with NO match in the current
    listing means files were deleted/rewritten OUTSIDE the refresh
    protocol — a rename moves every file identically, so a dangling
    entry can't be a relocation.  Silently dropping it returned
    incomplete pruned results; now the scan warns and falls back to a
    FULL filtered scan (always correct), preserving the layer's
    'stale, never WRONG' invariant."""
    import glob
    import os
    import warnings

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    path = str(tmp_path / "t")
    df = spark.range(0, 400).withColumn("k", (F.col("id") / 100).cast("long"))
    df.repartition("k").write.parquet(path)
    sinks.build_zonemap(spark, path, ["k"])
    sinks.build_bloom_manifest(spark, path, ["id"])

    # rewrite the data files outside the protocol: same rows, NEW file
    # names — every manifest entry now dangles
    tmp2 = str(tmp_path / "t2")
    spark.read.parquet(path).write.parquet(tmp2)
    for f in glob.glob(f"{path}/part-*"):
        os.remove(f)
    for f in glob.glob(f"{tmp2}/part-*"):
        os.rename(f, f"{path}/rewritten-{os.path.basename(f)}")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert sinks.scan_pruned(spark, path, "k", 1, 2).count() == 200
        assert sinks.scan_pruned_in(spark, path, "k", [2]).count() == 100
        got = sinks.scan_bloom_pruned(spark, path, "id", 123).collect()
    assert [r["id"] for r in got] == [123]
    msgs = [str(w.message) for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) >= 3 and all("FULL filtered scan" in m for m in msgs)


def test_latest_pointer_cas_never_lags_commits(spark, tmp_path):
    """Late r14: the pointer commit is a unique ``_LATEST.v{N}`` marker +
    max-resolve — the one interleaving the replace design could lose
    (a slower publisher's flip running AFTER a faster one's) now cannot
    even transiently lag: flipping v2 AFTER v3 leaves resolution at 3.
    An external reader's ``max(_LATEST.v*)`` listing agrees (there is no
    single ``_LATEST`` file), and the marker GC keeps the top two."""
    import os

    from msgraphdatapipelines_spark import sinks

    root = str(tmp_path / "snap")
    df = spark.range(5).toDF("n")
    assert sinks.write_snapshot(df, root) == 1
    # simulate the racing publishers' claim order: v2 and v3 both
    # committed as dirs, flips arriving OUT of order
    df.write.parquet(f"{root}/v=2")
    df.write.parquet(f"{root}/v=3")
    fs, hp = sinks._fs_for(spark, root)
    sinks._flip_latest(fs, hp, root, 3)
    assert sinks._read_latest_version(spark, root) == 3
    sinks._flip_latest(fs, hp, root, 2)  # the slow racer's late flip
    assert sinks._read_latest_version(spark, root) == 3, (
        "a late flip must never lower the resolved pointer"
    )
    assert sinks.read_snapshot(spark, root).count() == 5
    # an external reader resolving max(_LATEST.v*) never reads below the
    # max either; no single-file pointer is written
    marks = [f for f in os.listdir(root) if f.startswith("_LATEST.v")]
    assert max(int(f[len("_LATEST.v"):]) for f in marks) == 3
    assert "_LATEST" not in os.listdir(root)
    # marker GC bounded the set
    assert 1 <= len(marks) <= 2, marks
    # a fresh publish advances everything
    v = sinks.write_snapshot(df, root)
    assert v == 4 and sinks._read_latest_version(spark, root) == 4


def test_zonemap_missing_manifest_falls_back_to_full_scan(spark, tmp_path):
    """r15: a table whose ``_zonemap`` is gone is still served —
    scan_pruned/scan_pruned_in degrade to a full filtered scan under
    RuntimeWarning, with the rows a pruned scan returns."""
    import warnings

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    path = str(tmp_path / "layout")
    (
        spark.range(0, 3000)
        .select(F.col("id").alias("k"), (F.col("id") % 100).cast("double").alias("value"))
        .repartitionByRange(4, "value")
        .sortWithinPartitions("value")
        .write.parquet(path)
    )
    sinks.build_zonemap(spark, path, ["value"])
    want = spark.read.parquet(path).filter(F.col("value").between(10.0, 12.0)).count()
    want_in = spark.read.parquet(path).filter(F.col("value").isin([5.0, 7.0])).count()

    assert sinks.scan_pruned(spark, path, "value", 10.0, 12.0).count() == want
    assert sinks.scan_pruned_in(spark, path, "value", [5.0, 7.0]).count() == want_in

    fs, hp = sinks._fs_for(spark, path)
    fs.delete(hp(f"{path}/_zonemap"), True)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = sinks.scan_pruned(spark, path, "value", 10.0, 12.0).count()
        got_in = sinks.scan_pruned_in(spark, path, "value", [5.0, 7.0]).count()
    assert got == want and got_in == want_in
    assert sum(issubclass(x.category, RuntimeWarning) for x in w) >= 2


def test_vacuum_snapshots_sweeps_stage_debris(spark, tmp_path):
    """r15 (ADVICE low): crashed publishers leave ``v.stage.*`` at the
    top level and (crashed losers) nested inside a committed ``v=N``;
    neither was ever swept.  vacuum_snapshots now deletes both past a
    TTL — and keeps a young (in-flight) stage."""
    import os

    from msgraphdatapipelines_spark import sinks

    root = str(tmp_path / "snap")
    df = spark.range(7).toDF("n")
    assert sinks.write_snapshot(df, root) == 1
    df.write.parquet(f"{root}/v.stage.crashed1")
    df.write.parquet(f"{root}/v=1/v.stage.nested2")

    # young debris survives a TTL'd vacuum
    out = sinks.vacuum_snapshots(spark, root, keep_last=2, stage_ttl_s=3600)
    assert out["removed_stages"] == []
    assert os.path.isdir(f"{root}/v.stage.crashed1")

    # past the TTL both forms are swept; the committed table is intact
    out = sinks.vacuum_snapshots(spark, root, keep_last=2, stage_ttl_s=0.0)
    assert len(out["removed_stages"]) == 2
    assert not os.path.exists(f"{root}/v.stage.crashed1")
    assert not os.path.exists(f"{root}/v=1/v.stage.nested2")
    assert sinks.read_snapshot(spark, root).count() == 7


def test_bloom_pruned_missing_manifest_falls_back(spark, tmp_path):
    """r15 (zonemap symmetry): scan_bloom_pruned on a table with no
    committed Bloom manifest degrades to a full filtered scan under
    RuntimeWarning instead of raising on the meta read."""
    import warnings

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    path = str(tmp_path / "plain")
    spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).write.parquet(path)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = sinks.scan_bloom_pruned(spark, path, "k", 42).count()
    assert got == 1
    assert any(issubclass(x.category, RuntimeWarning) for x in w)


def test_result_cache_forget_reaches_cached_entries(spark, tmp_path):
    """r15: GDPR reach into the result-reuse layer — erasing a source
    table must delete every cached entry derived from it IMMEDIATELY
    (not at the TTL sweep).  Pins: provenance-matched entries (exact
    path and nested-under) are removed, unrelated entries survive, an
    entry with NO provenance record is removed by default (cannot prove
    clean ⇒ gone) but kept under delete_unknown=False, and a rebuild
    after the forget re-derives from the current inputs."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import cache

    base = str(tmp_path / "rc")
    src_a = str(tmp_path / "table_a")
    src_b = str(tmp_path / "table_b")
    spark.range(50).select(F.col("id").alias("k")).write.parquet(src_a)
    spark.range(30).select(F.col("id").alias("k")).write.parquet(src_b)

    def qa():
        return spark.read.parquet(src_a).agg(F.sum("k").alias("s"))

    def qb():
        return spark.read.parquet(src_b).agg(F.sum("k").alias("s"))

    assert cache.serve_cached(spark, qa(), [src_a], base_dir=base).first()["s"] == 1225
    assert cache.serve_cached(spark, qb(), [src_b], base_dir=base).first()["s"] == 435
    import os

    roots = [d for d in os.listdir(base) if d.startswith("msgdp_rc_")]
    assert len(roots) == 2
    assert all(os.path.exists(f"{base}/{d}/_rc_meta.json") for d in roots)

    out = cache.result_cache_forget(spark, src_a, base_dir=base)
    assert len(out["removed"]) == 1 and len(out["kept"]) == 1
    left = [d for d in os.listdir(base) if d.startswith("msgdp_rc_")]
    assert len(left) == 1
    # the survivor is b's entry, still serving
    assert cache.serve_cached(spark, qb(), [src_b], base_dir=base).first()["s"] == 435

    # nested-input match: an entry recording a PARTITION under the table
    spark.range(5).write.parquet(f"{src_a}/part_x")
    cache.serve_cached(
        spark, spark.read.parquet(f"{src_a}/part_x").agg(F.count("*").alias("n")),
        [f"{src_a}/part_x"], base_dir=base,
    )
    out = cache.result_cache_forget(spark, src_a, base_dir=base)
    assert len(out["removed"]) == 1, "nested input must match the table forget"

    # no-provenance entry: conservative default removes, opt-out keeps
    orphan = f"{base}/msgdp_rc_deadbeefcafe"
    os.makedirs(f"{orphan}/data", exist_ok=True)
    open(f"{orphan}/_rc_ready", "w").write("x")
    out = cache.result_cache_forget(
        spark, src_a, base_dir=base, delete_unknown=False
    )
    assert f"{base}/msgdp_rc_deadbeefcafe".replace("//", "/") not in [
        p.replace("//", "/") for p in out["removed"]
    ]
    assert os.path.exists(orphan)
    out = cache.result_cache_forget(spark, src_a, base_dir=base)
    assert not os.path.exists(orphan), "cannot-prove-clean must mean gone"

    # rebuild after forget re-derives from current inputs
    assert cache.serve_cached(spark, qb(), [src_b], base_dir=base).first()["s"] == 435


def test_result_cache_forget_matches_differently_spelled_inputs(spark, tmp_path):
    """r16 (ADVICE): provenance matching used to string-compare
    os.path.normpath'd paths, so an entry built with an equivalent but
    differently-spelled input (scheme-qualified ``file:/…`` vs plain,
    ``/a/./b`` vs ``/a/b``) was silently KEPT — a missed erasure in a
    compliance-critical path.  Both sides now canonicalize through
    ``fs.makeQualified`` before comparing."""
    import os

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import cache

    base = str(tmp_path / "rc2")
    src = str(tmp_path / "tbl")
    spark.range(20).select(F.col("id").alias("k")).write.parquet(src)

    # build THREE entries, each recording a different spelling of the
    # same table: scheme-qualified, dot-segment, and trailing-slash
    spellings = [f"file://{src}", f"{tmp_path}/./tbl", src + "/"]
    for i, sp in enumerate(spellings):
        df = (
            spark.read.parquet(src)
            .agg(F.sum(F.col("k") + i).alias("s"))
        )
        cache.serve_cached(spark, df, [sp], base_dir=base)
    roots = [d for d in os.listdir(base) if d.startswith("msgdp_rc_")]
    assert len(roots) == 3

    # forget with a FOURTH spelling (plain absolute) must reach all 3
    out = cache.result_cache_forget(spark, src, base_dir=base)
    assert len(out["removed"]) == 3, (
        f"differently-spelled provenance silently kept: {out}"
    )
    assert [d for d in os.listdir(base) if d.startswith("msgdp_rc_")] == []

    # and a scheme-qualified forget target reaches a plain-recorded entry
    cache.serve_cached(
        spark,
        spark.read.parquet(src).agg(F.count("*").alias("n")),
        [src],
        base_dir=base,
    )
    out = cache.result_cache_forget(spark, f"file://{src}", base_dir=base)
    assert len(out["removed"]) == 1


def test_rel_files_tolerant_walk_skips_racer_stage(spark, tmp_path):
    """r16 (ADVICE): _claim_publish's post-claim completeness verify
    walks the committed v=N dir while a LOSING racer may still be
    renaming its nested ``*.stage.*`` dir back out — the tolerant walk
    must (a) skip stage-named subdirs (never part of our manifest) and
    (b) treat a subtree vanishing mid-walk as absent instead of failing
    a publish whose version dir actually committed."""
    import os

    from msgraphdatapipelines_spark import sinks

    base = str(tmp_path / "v=1")
    os.makedirs(f"{base}/sub")
    open(f"{base}/a.parquet", "w").write("x")
    open(f"{base}/sub/b.parquet", "w").write("y")
    os.makedirs(f"{base}/v.stage.cafe01/nested")
    open(f"{base}/v.stage.cafe01/junk.parquet", "w").write("z")

    fs, hp = sinks._fs_for(spark, base)

    strict = sinks._rel_files(fs, hp, base)
    assert "v.stage.cafe01/junk.parquet" in strict
    tol = sinks._rel_files(fs, hp, base, tolerant=True)
    assert tol == ["a.parquet", "sub/b.parquet"], tol

    # (b) mid-walk vanish: a fake fs whose listing of one subdir raises
    # the Java FileNotFoundException signature — tolerant treats it as
    # absent, strict surfaces it
    class _FakeStatus:
        def __init__(self, name, is_dir):
            self._n, self._d = name, is_dir

        def getPath(self):
            return self

        def getName(self):
            return self._n

        def isDirectory(self):
            return self._d

    class _FakeFS:
        def listStatus(self, p):
            s = str(p)
            if s.endswith("/gone"):
                raise RuntimeError(
                    "java.io.FileNotFoundException: File /gone does not exist"
                )
            return [
                _FakeStatus("a.parquet", False),
                _FakeStatus("gone", True),
            ]

    got = sinks._rel_files(_FakeFS(), str, "/r", tolerant=True)
    assert got == ["a.parquet"]
    try:
        sinks._rel_files(_FakeFS(), str, "/r")
        raise AssertionError("strict walk must surface the listing error")
    except RuntimeError:
        pass


def test_zonemap_manifest_cache_reuse_and_erasure_purge(spark, tmp_path):
    """r16: pruned snapshot reads cache the collected _zonemap rows per
    (session, version dir) — version dirs are immutable, so the cache
    can never go stale; what must still hold is (a) repeats reuse the
    same rows object and serve identical results, (b) a NEW version
    resolves fresh rows (key miss), (c) forget_keys purges the root's
    entries and post-erasure reads serve the scrubbed content, and
    (d) plain mutable paths never populate the cache."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks

    root = str(tmp_path / "zs")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    v1 = sinks.write_snapshot(
        df.repartitionByRange(4, "k"), root, zonemap_cols=["k"]
    )
    appid = spark.sparkContext.applicationId

    def entries():
        return {k: v for k, v in sinks._ZM_CACHE.items() if root in k[1]}

    sinks.zonemap_cache_forget(root)
    r1 = sorted(
        x["k"]
        for x in sinks.read_snapshot_pruned_in(spark, root, "k", range(100, 121)).collect()
    )
    assert r1 == list(range(100, 121))
    ent = entries()
    assert list(ent) == [(appid, f"{root}/v={v1}")]
    rows_obj = ent[(appid, f"{root}/v={v1}")]
    r2 = sorted(
        x["k"] for x in sinks.read_snapshot_pruned_in(
            spark, root, "k", [100, 110, 120]
        ).collect()
    )
    assert r2 == [100, 110, 120]
    assert entries()[(appid, f"{root}/v={v1}")] is rows_obj, "repeat must reuse"

    # (b) new version = new key
    v2 = sinks.write_snapshot(
        df.filter(F.col("k") < 500).repartitionByRange(4, "k"),
        root, zonemap_cols=["k"],
    )
    r3 = sorted(
        x["k"]
        for x in sinks.read_snapshot_pruned_in(spark, root, "k", range(100, 121)).collect()
    )
    assert r3 == list(range(100, 121))
    assert (appid, f"{root}/v={v2}") in entries()

    # (c) erasure purges and post-erasure reads are scrubbed
    victims = spark.createDataFrame([(110,)], "k long")
    sinks.forget_keys(spark, root, ["k"], victims)
    assert entries() == {}, "forget_keys must purge the root's manifest cache"
    r4 = sorted(
        x["k"]
        for x in sinks.read_snapshot_pruned_in(spark, root, "k", range(100, 121)).collect()
    )
    assert r4 == [k for k in range(100, 121) if k != 110]
    # the scrubbed version carries no manifest, so nothing is cached
    assert entries() == {}

    # (d) plain mutable paths bypass the cache entirely
    plain = str(tmp_path / "plain")
    df.write.parquet(plain)
    sinks.build_zonemap(spark, plain, ["k"])
    before = set(sinks._ZM_CACHE)
    got = sorted(
        x["k"] for x in sinks.scan_pruned(spark, plain, "k", 5, 9).collect()
    )
    assert got == [5, 6, 7, 8, 9]
    assert set(sinks._ZM_CACHE) == before, "mutable paths must not cache"


# --- right-sized, self-describing snapshot publish ----------------------------


def _part_files(vdir: str) -> list[str]:
    import os

    return sorted(n for n in os.listdir(vdir) if n.startswith("part-") and n.endswith(".parquet"))


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_write_snapshot_small_frame_one_data_file(spark, tmp_path):
    """A small frame publishes one data file whatever its partitioning:
    write_snapshot coalesces to ceil(estimated bytes / 128 MiB)."""
    root = str(tmp_path / "snap")
    df = spark.range(100).repartition(6)
    assert sinks.write_snapshot(df, root) == 1
    assert len(_part_files(f"{root}/v=1")) == 1
    assert sorted(r["id"] for r in sinks.read_snapshot(spark, root).collect()) == list(range(100))


def test_write_snapshot_keeps_partitioning_when_size_unknown_or_indexed(spark, tmp_path):
    """The two sizing exceptions: an RDD-backed frame (no size estimate)
    and a zonemap publish (its manifest indexes file boundaries) keep the
    caller's partition count."""
    unknown = spark.createDataFrame(spark.range(60).rdd, "id long").repartition(5)
    sinks.write_snapshot(unknown, str(tmp_path / "rdd"))
    assert len(_part_files(str(tmp_path / "rdd" / "v=1"))) == 5

    zroot = str(tmp_path / "zm")
    sinks.write_snapshot(spark.range(100).repartition(4), zroot, zonemap_cols=["id"])
    assert len(_part_files(f"{zroot}/v=1")) == 4
    assert spark.read.parquet(f"{zroot}/v=1/_zonemap").count() == 4


def test_read_snapshot_uses_schema_sidecar_without_a_job(spark, tmp_path):
    """write_snapshot stores the frame's schema as ``_schema.json``;
    read_snapshot builds its reader from it and submits no Spark job,
    with the same schema schema inference gives; compact_snapshot's
    version carries the sidecar too."""
    import os

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField(
                "s",
                T.StructType([T.StructField("a", T.IntegerType(), False), T.StructField("b", T.StringType())]),
            ),
            T.StructField("arr", T.ArrayType(T.StructType([T.StructField("x", T.DoubleType(), False)]), False)),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [
        (1, (2, "b"), [(1.5,), (2.5,)], dt.datetime(2024, 1, 1, 12, 30)),
        (2, (3, None), [], None),
    ]
    root = str(tmp_path / "snap")
    sinks.write_snapshot(spark.createDataFrame(rows, schema), root)
    vdir = f"{root}/v=1"
    assert T.StructType.fromJson(json.loads(open(f"{vdir}/_schema.json").read())) == schema

    got, jobs = _jobs_in_group(spark, "read_snapshot", lambda: sinks.read_snapshot(spark, root))
    assert jobs == [], f"read_snapshot submitted jobs {jobs}"
    inferred, jobs = _jobs_in_group(spark, "inference", lambda: spark.read.parquet(vdir).schema)
    assert jobs, "parquet schema inference runs a job (the one the sidecar saves)"
    assert got.schema == inferred
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, spark.createDataFrame(rows, schema).collect()))

    assert sinks.compact_snapshot(spark, root)["version"] == 2
    assert os.path.exists(f"{root}/v=2/_schema.json")
    got2, jobs = _jobs_in_group(spark, "read_compacted", lambda: sinks.read_snapshot(spark, root))
    assert jobs == [] and got2.schema == inferred


def test_read_snapshot_without_schema_sidecar_infers(spark, tmp_path):
    """A version published before the sidecar existed still reads,
    through parquet schema inference."""
    import os

    root = str(tmp_path / "snap")
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    sinks.write_snapshot(df, root)
    for name in os.listdir(f"{root}/v=1"):
        if "_schema.json" in name:
            os.remove(f"{root}/v=1/{name}")
    got = sinks.read_snapshot(spark, root)
    assert got.schema == spark.read.parquet(f"{root}/v=1").schema
    assert sorted((r["id"], r["v"]) for r in got.collect()) == [(i, 2 * i) for i in range(10)]


def test_read_snapshot_pruned_in_fallback_reads_the_schema_sidecar(spark, tmp_path):
    """A version without a zonemap manifest serves IN-set reads through
    read_snapshot, so the fallback takes its schema from the sidecar and
    submits no schema-inference job."""
    root = str(tmp_path / "snap")
    sinks.write_snapshot(spark.range(20).toDF("k"), root)
    got, jobs = _jobs_in_group(
        spark, "pruned_in_fallback", lambda: sinks.read_snapshot_pruned_in(spark, root, "k", [5, 3, 5])
    )
    assert jobs == [], f"the no-manifest fallback submitted jobs {jobs}"
    assert sorted(r["k"] for r in got.collect()) == [3, 5]


def test_snapshot_publish_py4j_round_trips(spark, tmp_path, monkeypatch):
    """The py4j traffic of one tiny publish-and-read cycle
    (write_snapshot + snapshot_exists + read_snapshot) stays bounded, and
    no Hadoop ``Path`` is resolved by walking the ``org.apache…``
    package tree (four failed class loads per walk)."""
    from py4j.clientserver import ClientServerConnection

    df = spark.range(5)
    root = str(tmp_path / "snap")
    sinks.write_snapshot(df, root)  # warm: first-use class loads are not the subject
    sent: list[str] = []
    real = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    sinks.write_snapshot(df, root)
    assert sinks.snapshot_exists(spark, root)
    sinks.read_snapshot(spark, root)
    monkeypatch.undo()
    walks = [c for c in sent if c.startswith(("r\nu\norg\n", "r\nu\norg.apache\n"))]
    assert walks == [], f"{len(walks)} package-walk lookups"
    # memory commands release Python-side proxies whenever the GC runs;
    # the rest are the calls this code makes (188 when this bound was
    # set, with one (fs, Path class) resolve per publish and per read;
    # a single-file pointer mirror would add ~25)
    calls = [c for c in sent if not c.startswith("m\n")]
    assert len(calls) <= 196, f"{len(calls)} py4j round trips"


def test_tiny_file_io_goes_through_genstore():
    """Markers, pointers and sidecars are written and read through
    genstore's helpers (put_file, commit_file, read_file, build_once),
    and staged directories are published through commit_dir.  Outside
    genstore.py and sources/rest.py (whose throttle fence and delta
    state also run in executor workers with no JVM gateway), the package
    source contains no ``readAllBytes``, no ``.create(`` and no
    ``os.replace(``; outside genstore.py it contains no hand-rolled
    first-writer-wins rename ``or not fs.rename(``."""
    import pathlib

    pkg = pathlib.Path(sinks.__file__).parent
    allowed = {pkg / "genstore.py", pkg / "sources" / "rest.py"}
    banned = re.compile(r"readAllBytes|\.create\(|os\.replace\(")
    handrolled = re.compile(r"or not fs\.rename\(")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "genstore.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if handrolled.search(line) or (path not in allowed and banned.search(line))
    ]
    assert hits == [], "\n".join(hits)
