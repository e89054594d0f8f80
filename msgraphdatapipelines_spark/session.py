"""SparkSession builder for the engine.

Scale notes (100 TB design): every config here is also correct on a large
cluster — AQE handles runtime re-planning (partition coalescing, skew joins,
dynamic broadcast), Arrow makes any unavoidable Python boundary batched, and
UTC pins timestamp semantics so results are portable across engines
(FIXTURES.md §C).  Only ``shuffle.partitions`` is sized for the local
harness; on a real cluster leave it to AQE's coalescing from a higher
initial value (e.g. 2000+ for 100 TB inputs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "msgraphdatapipelines-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    AQE on (adaptive joins, skew handling, partition coalescing), Arrow on
    (vectorized Pandas-UDF boundary), session timezone pinned to UTC for
    oracle parity (FIXTURES.md §C).
    """
    n = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's events.parquet stores ts as TIMESTAMP(NANOS) which the
        # vanilla parquet reader rejects; read as long and convert (see
        # queries.load_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # r16 OPT: Spark 4.1's ChecksumCheckpointFileManager (new, default
        # on) wraps EVERY streaming-checkpoint file write with a checksum
        # twin written from a fresh Future — profiled here at 584 live
        # ChecksumCheckpointFileManager-Threads mid-bench, with state-store
        # commit tasks blocked in Thread.start0, and it DOUBLES the
        # checkpoint file count (one .crc twin per delta/commit file — at
        # production state-partition counts that is the small-file problem
        # twice per micro-batch).  Measured on the tumbling-window row at
        # sf0.1: median-of-3 4.06 s → 2.05 s with it off (steady state
        # 1.9 → 1.5 s).  Corruption detection for checkpoint files falls
        # back to the filesystem's own integrity (local-FS CRC / object
        # store etags).
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        b = b.master(f"local[{n}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

