"""Per-query layer profile over the benchmark's event-log parser.

Runs each named query (warm-up + 1 timed run, noop sink) with the Spark
event log on, then prints for the timed run the ``spark.*`` layer metrics
of ``perfbench.tracing.EventLog.window`` (the names the benchmark
reports) and per-stage rows aggregated from ``EventLog.tasks``, sorted by
task time.  This substitutes for the UI when deciding WHERE a query's
wall goes.

Usage:
    python tools/profile_query.py <query> [query ...]
    SPARK_GRAFT_SF_DIR=... to pick the scale dir (default sf0.1).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from msgraphdatapipelines_spark.queries import DEMOTED, REGISTRY, _ensure_loaded  # noqa: E402
from msgraphdatapipelines_spark.session import get_spark  # noqa: E402
from perfbench.tracing import EventLog  # noqa: E402

STAGE_SUMS = ("input", "shuffle_read", "shuffle_write", "spill")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    rows = {**REGISTRY, **DEMOTED}
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            # EventLog.from_dir reads one plain file, not a rolling dir
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    windows: dict[str, tuple[float, float]] = {}
    for name in sys.argv[1:]:
        fn = rows[name].fn
        # warm-up run: artifact builds, plan compile, code cache
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        w0 = time.time() * 1e3
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        windows[name] = (w0, time.time() * 1e3)
    spark.stop()

    log = EventLog.from_dir(Path(evdir))
    for name, (w0, w1) in windows.items():
        print(f"\n=== {name}  wall={(w1 - w0) / 1e3:.3f}s ===")
        for k, v in log.window(w0, w1, cores).items():
            print(f"  {k:<26} {v:.3f}" if isinstance(v, float) else f"  {k:<26} {v}")
        jobs = {j["id"] for j in log.jobs.values() if w0 <= j["start"] <= w1}
        stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for t in log.tasks:
            if log.stage_job.get(t["stage"]) in jobs:
                s, dur = stages[t["stage"]], (t["finish"] - t["launch"]) / 1e3
                s["tasks"] += 1
                s["task_s"] += dur
                s["max_s"] = max(s["max_s"], dur)
                s["cpu_s"] += t["cpu_ns"] / 1e9
                s["gc_s"] += t["gc_ms"] / 1e3
                for k in STAGE_SUMS:
                    s[k] += t[k]
        for sid, s in sorted(stages.items(), key=lambda kv: -kv[1]["task_s"]):
            print(
                f"    stage {sid:4d} tasks={int(s['tasks']):3d} tasktime={s['task_s']:7.2f}s "
                f"max={s['max_s']:6.3f}s cpu={s['cpu_s']:6.2f}s gc={s['gc_s']:5.2f}s "
                + " ".join(f"{k}={int(s[k]) >> 10}KB" for k in STAGE_SUMS)
            )
    print(f"\nevent log: {evdir}")


if __name__ == "__main__":
    main()
