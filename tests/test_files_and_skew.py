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


def test_same_size_same_mtime_replacement_is_a_new_input(spark, tmp_path):
    """A documents.parquet replaced by a file of the same size with its
    old mtime_ns restored is still a new input: moved in with os.replace
    it has a new inode, rewritten in place it has a new ctime.  load_spread
    returns the new rows and prefix_index_root rotates in both cases."""
    import io
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from msgraphdatapipelines_spark.queries import load_spread
    from msgraphdatapipelines_spark.queries.dedup import prefix_index_root

    root, path = str(tmp_path), tmp_path / "documents.parquet"

    def parquet_bytes(text: str) -> bytes:
        buf = io.BytesIO()
        table = pa.table({"doc_id": [1, 2, 3], "text": [text] * 3})
        pq.write_table(table, buf, compression="none")
        return buf.getvalue()

    def texts() -> set:
        return {r["text"] for r in load_spread(spark, root, "documents", "doc_id").collect()}

    path.write_bytes(parquet_bytes("aaaa"))
    assert texts() == {"aaaa"}
    old = os.stat(path)
    r1 = prefix_index_root(root, 3, 0.5)

    (tmp_path / "next.parquet").write_bytes(parquet_bytes("bbbb"))
    os.replace(tmp_path / "next.parquet", path)
    os.utime(path, ns=(old.st_atime_ns, old.st_mtime_ns))
    moved = os.stat(path)
    assert (moved.st_size, moved.st_mtime_ns) == (old.st_size, old.st_mtime_ns)
    assert texts() == {"bbbb"}
    r2 = prefix_index_root(root, 3, 0.5)
    assert r2 != r1

    time.sleep(0.05)  # file timestamps tick at the kernel's coarse clock
    with open(path, "r+b") as fh:  # same inode, same size
        fh.write(parquet_bytes("cccc"))
    os.utime(path, ns=(old.st_atime_ns, old.st_mtime_ns))
    rewritten = os.stat(path)
    assert rewritten.st_ino == moved.st_ino
    assert (rewritten.st_size, rewritten.st_mtime_ns) == (old.st_size, old.st_mtime_ns)
    assert texts() == {"cccc"}
    assert prefix_index_root(root, 3, 0.5) != r2


def test_bounded_memo_fifo_and_thread_safe():
    """cache.BoundedMemo, the one in-process memo: FIFO eviction at
    capacity, a None build is not cached, forget(predicate) drops matches;
    threads hammering get_or_build and forget with a short switch interval
    never push it past capacity and never raise."""
    import sys
    import threading

    from msgraphdatapipelines_spark.cache import BoundedMemo

    memo = BoundedMemo(3)
    for k in range(5):
        assert memo.get_or_build(k, lambda k=k: k * 10) == k * 10
    assert list(memo) == [2, 3, 4] and memo.get_or_build(4, lambda: -1) == 40
    builds = []
    for _ in range(2):
        assert memo.get_or_build("missing", lambda: builds.append(1)) is None
    assert len(builds) == 2 and "missing" not in memo
    memo.forget(lambda k: k % 2 == 0)
    assert list(memo) == [3]

    shared, errors, over = BoundedMemo(4), [], []

    def worker(seed: int) -> None:
        try:
            for i in range(3000):
                shared.get_or_build((seed, i % 9), lambda: i)
                if i % 97 == 0:
                    shared.forget(lambda k: k[0] == seed)
                if len(shared) > 4:
                    over.append(len(shared))
        except Exception as e:  # noqa: BLE001 — collected and asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and over == []
