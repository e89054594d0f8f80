"""bench.py's between-row pin sweep must never break a live frame."""

from __future__ import annotations

import bench


def test_release_stale_pins_keeps_local_checkpoints(spark):
    """A localCheckpointed DataFrame's data is the persisted blocks of
    its RDD: the sweep skips it, so the frame still collects, while a
    plain cached RDD is still released."""
    pinned = spark.range(40).selectExpr("id * 3 AS x").localCheckpoint(eager=True)
    cached = spark.sparkContext.parallelize(range(10)).cache()
    cached.count()
    bench.release_stale_pins(spark)
    assert sorted(r["x"] for r in pinned.collect()) == [3 * i for i in range(40)]
    assert not cached._jrdd.getStorageLevel().useMemory()
    assert cached.count() == 10
