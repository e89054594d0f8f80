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
        # store etags); set SPARK_GRAFT_STREAM_CHECKSUM=1 to re-enable.
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            "true" if os.environ.get("SPARK_GRAFT_STREAM_CHECKSUM") else "false",
        )
    )
    if SparkSession.getActiveSession() is None:
        b = b.master(f"local[{n}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def scale_conf(
    input_bytes: int,
    executor_mem_bytes: int = 8 << 30,
    task_mem_fraction: float = 0.125,
    target_partition_bytes: int = 128 << 20,
    min_partitions: int = 200,
) -> dict[str, str]:
    """Spill-aware conf sizing for a target input size (r8) — the
    arithmetic the 100 TB prompt demands, as CODE instead of a rule of
    thumb:

    - ``spark.sql.files.maxPartitionBytes``: capped so one scan task's
      decompressed slice (~3× the on-disk bytes for parquet) fits the
      per-task memory share ``executor_mem · task_mem_fraction``
      (default: 8 GiB executor, 8 concurrent tasks → 1 GiB/task →
      ≤ ~341 MiB slices; the 128 MiB default survives unless the cap is
      SMALLER);
    - ``spark.sql.shuffle.partitions``: input_bytes /
      target_partition_bytes, floored at ``min_partitions`` — the HIGH
      INITIAL value AQE coalesces DOWN from at runtime (coalescing is
      cheap, splitting is not, so err high: 100 TB / 128 MiB ≈ 800k is
      intentionally large and AQE merges what the real reduce sizes
      allow);
    - ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: the
      target_partition_bytes itself, so AQE's coalescing aims at the
      same post-shuffle size the static sizing assumed.

    Returns a conf dict for ``get_spark(extra_conf=…)``.  Pure
    arithmetic — unit-tested, no session required.
    """
    per_task = int(executor_mem_bytes * task_mem_fraction)
    max_part = min(target_partition_bytes, max(per_task // 3, 8 << 20))
    parts = max(min_partitions, -(-input_bytes // target_partition_bytes))
    return {
        "spark.sql.files.maxPartitionBytes": str(max_part),
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(target_partition_bytes),
    }


def runtime_filter_conf(
    creation_side_threshold: str = "50MB",
    application_side_min_scan: str = "0",
) -> dict[str, str]:
    """Runtime bloom-filter join pruning (r10) — the shuffle-join analog
    of broadcast-side dynamic pruning: when one join side carries a
    selective filter, Catalyst injects a ``bloom_filter_agg`` subquery on
    that side and a might-contain probe on the OTHER side's scan, so fact
    rows that cannot match are dropped BEFORE the shuffle.  At 100 TB
    this turns "shuffle the whole fact table, then join-drop 95%" into
    "shuffle the ~5% that might match" — the single biggest lever on
    selective-dim shuffle joins that AQE alone does not pull.

    Spark enables the feature by default but gates it on size thresholds
    tuned for clusters; this returns the conf dict that makes the gate
    reflect a deployment's real sizes (pass to ``get_spark(extra_conf=…)``
    or apply per-session).  The plan pin lives in
    tests/test_plans.py::test_runtime_bloom_filter_prunes_fact_shuffle.
    """
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": creation_side_threshold,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": application_side_min_scan,
    }
