"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.5 — the escape hatch when built-in windowed aggs can't
express the state machine).

State is partitioned by the grouping key, Arrow-batched per group, and
bounded: every operator here carries an explicit eviction rule (timeout or
monotone key) — unbounded state is what kills week-long streams at scale.

r17 OPT (guide §4 — the Python boundary): the state machine is sharded by
a HASH BUCKET of the logical key instead of the raw key.  Profiled at
sf0.1, the per-(user_id, event_type) formulation spent 70.5 s of task time
on 7,500 groups (~9 ms/group): ``applyInPandasWithState`` pays a pandas
frame construction + a per-group Arrow emission + state (de)serialization
for EVERY group, and the per-group payload here is ~13 tiny rows.  Keying
the operator by ``pmod(xxhash64(user, type), n_buckets)`` amortizes that
fixed cost over ~keyspace/n_buckets logical keys per group: inside the
function the per-key state machine runs vectorized (one pandas groupby per
bucket), emissions batch into ONE frame per bucket, and the Arrow
round-trip count drops from Θ(keys) to Θ(buckets).  Semantics per logical
key are unchanged (min is associative across any row grouping); only the
EVICTION granularity coarsens — see ``first_seen_dedup``.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FIRST_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("first_event_id", T.LongType()),
    ]
)

# Per-bucket state: the bucket's live logical keys as aligned arrays.
# Array-of-scalars (not array-of-structs) so the Arrow state round-trip
# stays columnar; size is keys-in-bucket, bounded by keyspace/n_buckets.
FIRST_SEEN_STATE = T.StructType(
    [
        T.StructField("user_ids", T.ArrayType(T.LongType())),
        T.StructField("event_types", T.ArrayType(T.StringType())),
        T.StructField("min_ids", T.ArrayType(T.LongType())),
        T.StructField("last_ms", T.ArrayType(T.LongType())),
    ]
)

# Idle-key TTL in EVENT time: a (user_id, event_type) key whose last event
# is this far behind the watermark is evicted.  Re-appearing after eviction
# re-emits (at-least-once dedup window) — the bounded-state contract for
# week-long streams.  Event-time (not processing-time) timers on purpose:
# wall-clock timers make the micro-batch engine schedule state-cleanup
# batches indefinitely, so a finite drain (processAllAvailable OR
# availableNow) never terminates — an event-time timer only fires when the
# watermark moves, which only happens with data.
FIRST_SEEN_TTL_MS = 6 * 60 * 60 * 1000


def _first_seen_fn(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Bucket-sharded streaming first-occurrence dedup: the group key is a
    hash bucket; per (user_id, event_type) key inside it, keep the minimum
    event_id ever seen and emit only when it improves.

    min() over the batch makes the result independent of intra-batch row
    order — deterministic under any partitioning (and under any bucket
    count, since min is associative).  State eviction: the bucket's timer
    is armed at the EARLIEST key expiry (last-seen + TTL); when it fires,
    every key past its own expiry is pruned and the timer re-arms at the
    next earliest.
    """
    if state.hasTimedOut:
        u, e, m, t = state.get
        wm = state.getCurrentWatermarkMs()
        keep = [i for i in range(len(u)) if t[i] + FIRST_SEEN_TTL_MS > wm]
        if not keep:
            state.remove()
        else:
            t2 = [t[i] for i in keep]
            state.update(
                (
                    [u[i] for i in keep],
                    [e[i] for i in keep],
                    [m[i] for i in keep],
                    t2,
                )
            )
            state.setTimeoutTimestamp(max(min(t2) + FIRST_SEEN_TTL_MS, wm + 1))
        return

    frames = [p for p in pdfs if len(p)]
    if not frames:
        return
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    # one vectorized reduce per bucket instead of one Python call per key
    agg = pdf.groupby(["user_id", "event_type"], sort=False).agg(
        mn=("event_id", "min"), mt=("ts", "max")
    )
    mns = agg["mn"].to_numpy()
    mts = agg["mt"].to_numpy().astype("datetime64[ms]").astype("int64")

    prev: dict = {}
    if state.exists:
        u, e, m, t = state.get
        prev = {(u[i], e[i]): [m[i], t[i]] for i in range(len(u))}

    out_u: list = []
    out_e: list = []
    out_m: list = []
    for (uid, et), mn_, mt_ in zip(agg.index, mns, mts):
        k = (int(uid), et)
        mn_ = int(mn_)
        cur = prev.get(k)
        if cur is None:
            prev[k] = [mn_, int(mt_)]
            out_u.append(k[0])
            out_e.append(et)
            out_m.append(mn_)
        else:
            if mn_ < cur[0]:
                cur[0] = mn_
                out_u.append(k[0])
                out_e.append(et)
                out_m.append(mn_)
            if mt_ > cur[1]:
                cur[1] = int(mt_)
    if out_u:
        yield pd.DataFrame(
            {"user_id": out_u, "event_type": out_e, "first_event_id": out_m}
        )

    t2 = [v[1] for v in prev.values()]
    state.update(
        (
            [k[0] for k in prev],
            [k[1] for k in prev],
            [v[0] for v in prev.values()],
            t2,
        )
    )
    # must be strictly beyond the current watermark or Spark rejects it
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(min(t2) + FIRST_SEEN_TTL_MS, wm + 1))


def first_seen_dedup(events: DataFrame) -> DataFrame:
    """Apply the first-occurrence dedup state machine to a stream keyed by
    (user_id, event_type), with an event-time TTL bounding state size.
    The 1-hour watermark on ``ts`` drives both late-data semantics and
    timer firing (EventTimeTimeout requires one).

    The state is sharded: the stream is grouped by
    ``pmod(xxhash64(user_id, event_type), n)`` with ``n = 4 ×
    defaultParallelism`` and each group runs the per-key state machine
    vectorized over its shard (module docstring) — scales with the
    cluster, keeps every core busy, and amortizes the per-group Python
    cost over keyspace/n keys; per-bucket state is O(keys/n).  Per-key
    EMISSIONS are bucket-count-independent (min is associative); only
    eviction coarsens: a key is pruned at the first bucket-timer firing at
    or after its own last-seen + TTL, instead of exactly at it.

    Only the four columns the state machine reads cross the Python
    boundary (guide §4: project before an opaque function).

    Watermark caveat for batch-equality drains (r2 ADVICE): events more
    than the watermark behind the advancing watermark are dropped BEFORE
    the state function sees them, so the streamed result equals the batch
    GROUP-BY-min only when the input arrives in one micro-batch (the
    registered oracle drain: one file, availableNow) or when the watermark
    is at least the input's event-time span.  A multi-batch, out-of-order
    replay with a narrow watermark can silently miss the true minimum
    event_id — that is correct streaming semantics (late data is late),
    not an engine bug, but oracle drains must account for it.
    """
    n = 4 * events.sparkSession.sparkContext.defaultParallelism
    keyed = events.withWatermark("ts", "1 hour").select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.pmod(F.xxhash64("user_id", "event_type"), F.lit(n)).alias("__bucket"),
    )
    return keyed.groupBy("__bucket").applyInPandasWithState(
        _first_seen_fn,
        FIRST_SEEN_SCHEMA,
        FIRST_SEEN_STATE,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )
