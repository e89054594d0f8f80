"""Plan inspection helpers — the engine's scale guardrails.

Used by tests (tests/test_plans.py) to pin the physical properties that
matter at 100 TB: filters reach the scan, projections prune the read
schema, and operators don't shuffle more than designed.  A regression that
adds an Exchange or widens a scan fails CI here long before it burns a
cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def num_exchanges(df: DataFrame) -> int:
    """Count shuffle boundaries (Exchange operators, minus reused ones)."""
    plan = physical_plan(df)
    return len(re.findall(r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)", plan))


def num_broadcasts(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastExchange")


def pushed_filters(df: DataFrame) -> list[str]:
    """DataFilters/PushedFilters reaching the parquet scan."""
    out = []
    for m in re.finditer(r"(?:PushedFilters|DataFilters): \[([^\]]*)\]", physical_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column list of each FileScan (the pruned read schema)."""
    scans = []
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", physical_plan(df)):
        cols = [c.split("#")[0].strip() for c in m.group(1).split(",") if c.strip()]
        scans.append(cols)
    return scans


def _walk(node):
    yield node
    # AQE wraps materialized stages in QueryStage nodes whose subtree hangs
    # off .plan(), not .children() — descend through both
    if "QueryStage" in node.nodeName():
        try:
            yield from _walk(node.plan())
        except Exception:  # noqa: BLE001 — stage not materialized yet
            pass
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk(it.next())


def plan_metrics(df: DataFrame) -> list[tuple[str, str, int]]:
    """Per-node SQL metrics after an action — the engine's runtime
    instrumentation (the reference logs Stopwatch elapsed + row counts per
    stage, `Invoke-GraphDataPipelineToAzureSQLDatabase.ps1:122-130,200`;
    Spark's equivalent is the SQLMetric set every physical node maintains:
    output rows, shuffle bytes, spill sizes, scan rows/files).

    Returns ``[(node_name, metric_key, value), ...]`` for the EXECUTED
    plan (under AQE, the final re-planned tree — QueryStage subtrees
    included).  Run an action first — metrics are zero until the plan
    executes.  Driver-side plan walk only: no data moves, usable in
    production run loops exactly like ``pipelines.RunResult.elapsed_s``.
    """
    plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    if plan.nodeName() == "AdaptiveSparkPlan":
        try:
            plan = plan.executedPlan()
        except Exception:  # noqa: BLE001 — pre-execution adaptive tree; walk as-is
            pass
    out = []
    for node in _walk(plan):
        mit = node.metrics().iterator()
        while mit.hasNext():
            kv = mit.next()
            out.append((node.nodeName(), kv._1(), kv._2().value()))
    return out


def metrics_summary(df: DataFrame) -> dict[str, int]:
    """Roll ``plan_metrics`` up to the numbers a pipeline run log wants:
    rows scanned, shuffle bytes/records written, and bytes spilled."""
    ms = plan_metrics(df)

    def total(key: str) -> int:
        return sum(v for _, k, v in ms if k == key and v > 0)

    return {
        "shuffle_bytes_written": total("shuffleBytesWritten"),
        "shuffle_records_written": total("shuffleRecordsWritten"),
        "spill_bytes": total("spillSize"),
        "scan_output_rows": sum(
            v
            for node, k, v in ms
            if "Scan" in node and k == "numOutputRows" and v > 0
        ),
    }


def _first_line(node) -> str:
    return node.toString().split("\n", 1)[0]


_UNGROUPED_AGG = re.compile(r"Aggregate\(keys?=\[\]")  # HashAggregate keys=[], SortAggregate key=[]
# two-phase upstream half: partial_/merge_ functions, or NO functions at all
# (the zero-width existence-check aggregate)
_PARTIAL_FNS = re.compile(r"functions=\[\]|functions=\[[^\]]*(?:partial_|merge_)")


# single-child nodes that preserve (or reduce) a 1-row stream — the only
# nodes allowed between a scalar aggregate and the subtree root.  EXACT
# names: a prefix match would let "Sort" swallow a grouped SortAggregate.
_ROW_PRESERVING = frozenset(
    {
        "Project",
        "Filter",
        "Exchange",
        "BroadcastExchange",
        "ReusedExchange",
        "Sort",
        "InputAdapter",
        "ColumnarToRow",
        "RowToColumnar",
        "AQEShuffleRead",
        "CollectLimit",
        "LocalLimit",
        "GlobalLimit",
        "Coalesce",
        "AdaptiveSparkPlan",
    }
)


def _subtree_is_scalar(node) -> bool:
    """True when the subtree PROVABLY yields ≤ 1 row: an UNGROUPED final
    aggregate (``keys=[]``) at the root, allowing only single-child
    row-preserving pass-through nodes above it.  The pattern behind every
    legitimate 1-row broadcast — corpus totals, χ² marginals, PSI
    reference mass, PageRank dangling mass — a constant-size build side
    at ANY data scale.

    r12 (ADVICE): the old version scanned the whole subtree pre-order and
    returned True at the FIRST ungrouped aggregate found anywhere below —
    wrongly classifying many-row shapes like ``Join(scalarAgg, bigTable)``
    or ``Union(scalarAgg, bigScan)`` as scalar and suppressing the
    cartesian-product lint.  Now the aggregate must BE the subtree modulo
    pass-through nodes, so any Join/Union/Generate on the way down
    disqualifies."""
    d = node
    while d is not None:
        name = d.nodeName()
        if "Aggregate" in name and _UNGROUPED_AGG.search(_first_line(d)):
            return True
        if "QueryStage" in name:
            # AQE stage wrapper: subtree hangs off .plan(), not .children()
            try:
                d = d.plan()
                continue
            except Exception:  # noqa: BLE001 — stage not materialized yet
                return False
        if not (name in _ROW_PRESERVING or name.startswith("WholeStageCodegen")):
            return False
        it = d.children().iterator()
        kids = []
        while it.hasNext():
            kids.append(it.next())
        if len(kids) != 1:
            return False
        d = kids[0]
    return False


def lint(df: DataFrame, max_exchanges: int | None = None) -> list[dict]:
    """Automated plan-quality gate (late r10): inspect a DataFrame's
    physical plan for the scale hazards the test-suite pins catch one by
    one, as a REUSABLE preflight any pipeline can call before burning a
    cluster on a bad plan.  Returns a list of findings
    ``{"rule", "severity", "detail"}`` — empty means clean.

    Rules (each is a documented 100 TB failure mode):

    - ``cartesian-product``: CartesianProduct / BroadcastNestedLoopJoin
      in the plan — O(n·m) scoring pass; almost always a missing or
      non-equi join key.  (Severity ``error`` — a deliberate bounded
      nested loop, e.g. a broadcast brute-force scorer, should be
      annotated at the call site and the finding waived by the caller.)
      r11 refinement: a nested-loop join whose BUILD side is provably
      scalar (an ungrouped aggregate — 1 row at any scale) is the
      benign broadcast-a-total pattern and is NOT flagged.
    - ``single-partition-exchange``: ``Exchange SinglePartition`` — the
      whole dataset through one task (global window / global sort
      without a downstream limit).  r11 refinement: the exchange INSIDE
      a two-phase global aggregate (child is an ungrouped partial/merge
      aggregate — one row PER PARTITION through the wire, never
      data-sized) is how Spark plans every global total and is NOT
      flagged.
    - ``rowwise-python-udf``: ``BatchEvalPython`` — row-at-a-time Python
      in the hot path (~10-100× slower than Arrow); use a pandas UDF.
    - ``unfiltered-wide-scan``: a parquet scan reading ≥ ``12`` columns
      with NO pushed filters — the symptom of a missing projection or a
      filter stuck above a join (warning: some consumers legitimately
      read everything).
    - ``excessive-exchanges``: more shuffles than ``max_exchanges``
      (only checked when the caller states a budget).
    """
    p = physical_plan(df)
    findings: list[dict] = []

    root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    if root.nodeName() == "AdaptiveSparkPlan":
        # AdaptiveSparkPlanExec is a LEAF node — unwrap to the current
        # (post-execution) or initial (pre-execution) physical tree
        try:
            root = root.executedPlan()
        except Exception:  # noqa: BLE001
            root = root.initialPlan()
    n_cartesian = 0
    n_single = 0
    for node in _walk(root):
        name = node.nodeName()
        if name in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            first = _first_line(node)
            kids = []
            it = node.children().iterator()
            while it.hasNext():
                kids.append(it.next())
            if name == "BroadcastNestedLoopJoin" and len(kids) == 2:
                build = kids[0] if "BuildLeft" in first else kids[1]
                if _subtree_is_scalar(build):
                    continue  # 1-row broadcast: benign at any scale
            elif name == "CartesianProduct" and any(
                _subtree_is_scalar(k) for k in kids
            ):
                continue
            n_cartesian += 1
        elif name == "Exchange" and "SinglePartition" in _first_line(node):
            it = node.children().iterator()
            child = it.next() if it.hasNext() else None
            if child is not None:
                cf = _first_line(child)
                if (
                    "Aggregate" in child.nodeName()
                    and _UNGROUPED_AGG.search(cf)
                    and _PARTIAL_FNS.search(cf)
                ):
                    continue  # two-phase global aggregate: 1 row/partition
            n_single += 1
    if n_cartesian:
        findings.append(
            {
                "rule": "cartesian-product",
                "severity": "error",
                "detail": f"{n_cartesian} non-scalar nested-loop join node(s): "
                "O(left x right) pass; join key missing or non-equi",
            }
        )
    if n_single:
        findings.append(
            {
                "rule": "single-partition-exchange",
                "severity": "error",
                "detail": f"{n_single} node(s): all rows through ONE task "
                "(global window/sort?); use two-phase bucketed forms",
            }
        )
    if "BatchEvalPython" in p:
        findings.append(
            {
                "rule": "rowwise-python-udf",
                "severity": "warning",
                "detail": "row-at-a-time Python UDF in plan; prefer a pandas/Arrow UDF",
            }
        )
    for line in p.splitlines():
        if "FileScan parquet" in line and "PushedFilters: []" in line:
            m = re.search(r"FileScan parquet \[([^\]]*)\]", line)
            ncols = len(m.group(1).split(",")) if m and m.group(1).strip() else 0
            if ncols >= 12:
                findings.append(
                    {
                        "rule": "unfiltered-wide-scan",
                        "severity": "warning",
                        "detail": f"scan reads {ncols} columns with no pushed filters",
                    }
                )
    if max_exchanges is not None:
        n = num_exchanges(df)
        if n > max_exchanges:
            findings.append(
                {
                    "rule": "excessive-exchanges",
                    "severity": "warning",
                    "detail": f"{n} exchanges > stated budget {max_exchanges}",
                }
            )
    return findings
