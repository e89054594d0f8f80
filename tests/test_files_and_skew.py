"""File-format round trips (S7/L8) and skew-salting equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from msgraphdatapipelines_spark.operators import skew
from msgraphdatapipelines_spark.sources import files


def test_csv_json_orc_round_trips(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    schema = nation.schema
    expected = sorted(tuple(r) for r in nation.collect())

    files.write_csv(nation, str(tmp_path / "n_csv"))
    got = files.read_csv(spark, str(tmp_path / "n_csv"), schema)
    assert sorted(tuple(r) for r in got.collect()) == expected

    files.write_json(nation, str(tmp_path / "n_json"))
    got = files.read_json(spark, str(tmp_path / "n_json"), schema)
    assert sorted(tuple(r) for r in got.collect()) == expected

    files.write_orc(nation, str(tmp_path / "n_orc"))
    got = files.read_orc(spark, str(tmp_path / "n_orc"))
    assert sorted(tuple(r) for r in got.collect()) == expected


def test_json_schema_superset_tolerance(spark, tmp_path):
    """Extra JSON fields dropped, missing fields NULL (SURVEY §1.2)."""
    p = tmp_path / "recs.json"
    p.write_text('{"a": 1, "zzz": true}\n{"a": 2, "b": "x"}\n')
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    rows = {r["a"]: r for r in files.read_json(spark, str(p), schema).collect()}
    assert rows[1]["b"] is None
    assert rows[2]["b"] == "x"


def test_salted_join_equals_plain_join(spark):
    """Salting redistributes the hot key without changing the result."""
    left = spark.createDataFrame(
        [(1, f"v{i}") for i in range(500)] + [(2, "rare")], "k int, payload string"
    )  # key 1 is hot: 500 of 501 rows
    right = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], "k int, name string")
    plain = sorted(tuple(r) for r in left.join(right, "k").collect())
    salted = sorted(
        tuple(r) for r in skew.salted_join(left, right, "k", salts=4).select("k", "payload", "name").collect()
    )
    assert salted == plain


def test_salted_groupby_count(spark):
    df = spark.createDataFrame([(1,)] * 100 + [(2,)] * 3, "k int")
    got = {r["k"]: r["n"] for r in skew.salted_groupby_count(df, "k", salts=4).collect()}
    assert got == {1: 100, 2: 3}


def test_salted_join_rejects_right_and_full(spark):
    """ADVICE fix: replicating the right side makes right/full joins emit
    unmatched right rows salts× — the operator must refuse them."""
    import pytest as _pytest

    from msgraphdatapipelines_spark.operators import skew

    df = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "right_outer"):
        with _pytest.raises(ValueError):
            skew.salted_join(df, df, "k", how=how)


def test_salt_spreads_identical_duplicate_rows(spark):
    """ADVICE fix: the salt must be content-independent so identical
    duplicate rows of one hot key land in different salt buckets."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import skew

    hot = spark.range(1000).select(F.lit(1).alias("k"))  # 1000 identical rows
    salted = hot.withColumn("s", skew._row_salt(8))
    n_buckets = salted.select("s").distinct().count()
    assert n_buckets > 1  # xxhash64-of-content would give exactly 1


def test_explode_array_element_naming(spark):
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import flatten

    df = spark.range(2).select(
        F.col("id"),
        F.array(F.lit("a"), F.lit("b")).alias("items"),
        F.array(F.lit("x")).alias("address"),
    )
    assert "item" in flatten.explode_array(df, "items", keep=["id"]).columns
    # single-suffix strip only — 'address' must NOT become 'addres'
    assert "address" in flatten.explode_array(df, "address", keep=["id"]).columns


def test_sql_surface_views_and_query(spark, sf_dir):
    """r6 SQL entry point: every warehouse table registers as a view and a
    multi-table ANSI SQL query runs through the same Catalyst path
    (broadcast + pushdown) the DataFrame queries use."""
    from msgraphdatapipelines_spark import sql as E

    names = E.register_views(spark, sf_dir)
    assert "events" in names and "lineitem" in names
    out = E.sql(
        spark,
        sf_dir,
        """
        SELECT n.n_name, count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
        """,
    )
    rows = out.collect()
    assert len(rows) == 25 and all(r["n_customers"] > 0 for r in rows)
    # events view has a proper timestamp column (nanos handled)
    ts_type = dict(spark.table("events").dtypes)["ts"]
    assert ts_type.startswith("timestamp")  # µs timestamp (tz or ntz), not raw nanos long


def test_read_binary_files_feeds_multimodal(spark, tmp_path):
    """r6: binaryFile ingest — blobs arrive as an opaque binary column and
    flow straight into the multimodal metadata operator."""
    from msgraphdatapipelines_spark.operators import multimodal as M
    from msgraphdatapipelines_spark.sources import files as FS

    blobs = {"a.bin": b"\x89PNG\r\n" + b"x" * 100, "b.bin": b"RIFFxxxxWAVE" + b"y" * 50}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    df = FS.read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == set(blobs)
    assert bytes(rows["a.bin"]["content"]) == blobs["a.bin"]
    assert rows["b.bin"]["length"] == len(blobs["b.bin"])
    # bridge into the media-record contract and decode (fake backend)
    media = df.select(
        F.xxhash64("path").alias("media_id"),
        F.lit("application/octet-stream").alias("mime"),
        F.col("content").alias("payload"),
    )
    meta = {r["n_bytes"] for r in M.decode_image_meta(media, backend="fake").collect()}
    assert meta == {len(b) for b in blobs.values()}


def test_read_parquet_evolved_schemas(spark, tmp_path):
    """Schema-evolution read postures: mergeSchema unions evolving footers
    (added column NULL where absent) but refuses type changes; the
    explicit-schema form reads every file through the declared contract —
    missing column NULL, extra column pruned, per-file int→long widened —
    with no footer-merge pass."""
    import pytest as _pytest
    from pyspark.sql import types as T

    d = tmp_path / "evolved"
    spark.createDataFrame([(1, "a1")], "id int, a string").write.parquet(f"{d}/f1")
    spark.createDataFrame(
        [(2, "a2", 7.5)], "id int, a string, b double"
    ).write.parquet(f"{d}/f2")
    path = f"{d}/f*"

    merged = files.read_parquet_evolved(spark, path)
    rows = {r["id"]: (r["a"], r["b"]) for r in merged.collect()}
    assert rows == {1: ("a1", None), 2: ("a2", 7.5)}

    # mergeSchema does NOT widen: an int/long conflict on the same column fails
    spark.createDataFrame([(2**40, "a3", 1.0)], "id long, a string, b double").write.parquet(
        f"{d}/f3"
    )
    with _pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        files.read_parquet_evolved(spark, path).collect()

    # the explicit-schema posture reads ALL three files: old int files widen
    # to the declared long, missing b arrives NULL, undeclared a is pruned,
    # never-written c arrives NULL
    declared = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.StringType()),
        ]
    )
    strict = files.read_parquet_evolved(spark, path, schema=declared)
    got = {r["id"]: (r["b"], r["c"]) for r in strict.collect()}
    assert got == {1: (None, None), 2: (7.5, None), 2**40: (1.0, None)}
    assert "a" not in strict.columns


def test_scale_conf_arithmetic():
    """r8 session.scale_conf: partition counts scale with input size,
    scan slices shrink under small executors, and the 100 TB point lands
    where the design notes claim (~800k initial shuffle partitions for
    AQE to coalesce)."""
    from msgraphdatapipelines_spark.session import scale_conf

    c = scale_conf(100 << 40)  # 100 TB, 8 GiB executors
    assert int(c["spark.sql.shuffle.partitions"]) == 819200
    assert int(c["spark.sql.files.maxPartitionBytes"]) == 128 << 20  # cap not binding
    small = scale_conf(100 << 40, executor_mem_bytes=2 << 30)  # starved executors
    assert int(small["spark.sql.files.maxPartitionBytes"]) < (128 << 20)
    tiny = scale_conf(1 << 30)
    assert int(tiny["spark.sql.shuffle.partitions"]) == 200  # floor holds
    assert int(c["spark.sql.adaptive.advisoryPartitionSizeInBytes"]) == 128 << 20


def test_load_spread_rekeys_a_replaced_file(spark, tmp_path):
    """The load_spread memo keys on the file identity (size, mtime_ns) that
    load's scan memo keys on: after the parquet file is replaced, the
    floored scan re-plans instead of serving the old file's rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from msgraphdatapipelines_spark.queries import load, load_spread

    root = str(tmp_path)
    pq.write_table(pa.table({"id": [1, 2, 3]}), tmp_path / "docs.parquet")
    spread = load_spread(spark, root, "docs", "id")
    assert "hashpartitioning(id" in spread._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["id"] for r in spread.collect()) == [1, 2, 3]

    pq.write_table(pa.table({"id": list(range(100, 160))}), tmp_path / "next.parquet")
    os.replace(tmp_path / "next.parquet", tmp_path / "docs.parquet")
    want = list(range(100, 160))
    assert sorted(r["id"] for r in load(spark, root, "docs").collect()) == want
    assert sorted(r["id"] for r in load_spread(spark, root, "docs", "id").collect()) == want
