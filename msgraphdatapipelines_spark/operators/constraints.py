"""Declarative data-quality constraint checking — the engine-side analog of
the reference's database-enforced contracts.

The reference pushes integrity into the target schema: `NOT NULL` columns
and the `PK_*` primary keys of `SQL database/ManagedDevices/
Prepare-SQLDatabase.sql:8-9,22` (and the Windows365 twins) make the LOAD
fail on bad data.  A Spark warehouse has no engine-enforced constraints,
so the same contracts become an explicit validation pass that runs before
publish — this module.

Design for 100 TB: every constraint compiles to a conditional COUNT
aggregate over one shared scan — ``not_null``/``range``/``regex`` checks
fold into ONE agg job with zero shuffles; ``unique`` needs its own
count-distinct (one shuffle); ``foreign_key`` needs one anti-join against
the parent's key set.  The FK probe's join strategy is GATED, not forced:
``broadcast_parent=None`` (default) leaves the choice to AQE/size stats —
small dimension parents still broadcast, a data-sized parent (documents ←
chunks, the first FK an LLM-pipeline user writes) gets a shuffle join
instead of an unbounded broadcast; ``True`` forces the hint (caller
vouches the parent is model-sized), ``False`` forces shuffle-hash.  Feed
the decision from CM sketches of the key columns via
``operators.sketches.choose_join_strategy`` — a never-underestimating
row-count verdict with NO scan of either table at planning time.
The report is rows of ``(constraint, kind, passed, n_violations)`` — the
load gate consumes ``passed``, the triage dashboard reads
``n_violations``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Constraint:
    name: str
    kind: str  # not_null | check | unique | foreign_key
    # for not_null/check: a per-row violation predicate Column
    # for unique: the key column list
    # for foreign_key: (child_cols, parent_df, parent_cols)
    spec: object


def not_null(*cols: str) -> list[Constraint]:
    return [
        Constraint(f"not_null_{c}", "not_null", F.col(c).isNull()) for c in cols
    ]


def check(name: str, violation: Column) -> Constraint:
    """A row-level CHECK: ``violation`` is TRUE on rows breaking the rule."""
    return Constraint(name, "check", violation)


def unique(*cols: str) -> Constraint:
    """Key uniqueness via ``count(*) − count_distinct(keys)``: NULL-keyed
    rows count as violations (count_distinct skips them) — stricter than
    ANSI UNIQUE; pair with ``not_null`` on the key to attribute them."""
    return Constraint("unique_" + "_".join(cols), "unique", list(cols))


def foreign_key(
    child_cols: list[str],
    parent: DataFrame,
    parent_cols: list[str],
    broadcast_parent: bool | None = None,
) -> Constraint:
    """FK membership probe.  ``broadcast_parent``: ``None`` (default) —
    no hint, AQE/size stats pick broadcast vs shuffle; ``True`` — force
    the broadcast hint (caller vouches the parent key set is
    model-sized); ``False`` — force a shuffle-hash join (parent is known
    data-sized, e.g. a ``choose_join_strategy`` sketch verdict)."""
    return Constraint(
        "fk_" + "_".join(child_cols),
        "foreign_key",
        (child_cols, parent, parent_cols, broadcast_parent),
    )


def _fk_parent_keys(spec) -> tuple[list[str], DataFrame]:
    """Distinct parent key set aliased to the child columns, with the
    join-strategy policy applied (see :func:`foreign_key`)."""
    child_cols, parent, parent_cols, broadcast_parent = spec
    pk = parent.select(
        *[F.col(p).alias(ch) for ch, p in zip(child_cols, parent_cols)]
    ).distinct()
    if broadcast_parent is True:
        pk = F.broadcast(pk)
    elif broadcast_parent is False:
        pk = pk.hint("shuffle_hash")
    return child_cols, pk


def check_constraints(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Evaluate all constraints; returns one report row per constraint:
    ``(constraint, kind, passed, n_violations)``.

    All row-level constraints (not_null/check) share ONE aggregation job
    over one scan; each unique adds a count-vs-count_distinct agg; each
    foreign_key adds a LEFT ANTI join counted in the same job — broadcast
    only when the parent is actually small (AQE/size stats, or an
    explicit ``broadcast_parent`` verdict; never forced).  Reports union
    driver-side (each is a 1-row frame).
    """
    reports: list[DataFrame] = []

    rowlevel = [c for c in constraints if c.kind in ("not_null", "check")]
    if rowlevel:
        aggs = [
            F.sum(F.when(c.spec, 1).otherwise(0)).cast("long").alias(c.name)
            for c in rowlevel
        ]
        one = df.agg(*aggs)
        stack = ", ".join(f"'{c.name}', '{c.kind}', {c.name}" for c in rowlevel)
        reports.append(
            one.selectExpr(
                f"stack({len(rowlevel)}, {stack}) AS (constraint, kind, n_violations)"
            )
        )

    for c in constraints:
        if c.kind == "unique":
            keys = [F.col(k) for k in c.spec]
            rep = df.agg(
                (F.count(F.lit(1)) - F.count_distinct(*keys)).cast("long").alias("n_violations")
            ).select(
                F.lit(c.name).alias("constraint"), F.lit(c.kind).alias("kind"), "n_violations"
            )
            reports.append(rep)
        elif c.kind == "foreign_key":
            child_cols, pk = _fk_parent_keys(c.spec)
            # NULL child keys are not FK violations (SQL semantics)
            child = df.select(*child_cols).na.drop(subset=child_cols)
            rep = child.join(pk, on=child_cols, how="left_anti").agg(
                F.count(F.lit(1)).cast("long").alias("n_violations")
            ).select(
                F.lit(c.name).alias("constraint"), F.lit(c.kind).alias("kind"), "n_violations"
            )
            reports.append(rep)

    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.select(
        "constraint", "kind", (F.col("n_violations") == 0).alias("passed"), "n_violations"
    )


def quarantine(
    df: DataFrame,
    constraints: list[Constraint],
) -> tuple[DataFrame, DataFrame]:
    """Row-level dead-letter split (r8): ``(valid, invalid)`` where
    ``invalid`` carries a ``_violations`` array naming every constraint
    each row breaks — the quarantine pattern an ingestion pipeline runs
    instead of failing the whole load (the engine-side generalization of
    the reference's per-entity error skip, S5, to per-ROW granularity).

    Scope: ``not_null``/``check`` predicates evaluate inline (narrow, one
    pass); ``foreign_key`` marks child rows whose non-NULL key misses the
    parent via a LEFT probe folded into the same projection (an
    ``exists`` column join) — join strategy per the constraint's
    ``broadcast_parent`` policy (default: AQE/size stats decide; a
    data-sized parent shuffles instead of broadcasting).  ``unique`` is a
    SET-level property — a duplicate pair has no canonical guilty row —
    so it stays in ``check_constraints``'s report and is rejected here.

    Plan: ONE pass over ``df`` computing the violation array; ``valid``
    and ``invalid`` are two filters of the same projection (Spark reuses
    the scan; no shuffle beyond the FK probe's own join).
    """
    if any(c.kind == "unique" for c in constraints):
        raise ValueError(
            "quarantine: 'unique' is set-level (no canonical guilty row) — "
            "gate it with check_constraints instead"
        )
    marked = df
    flags: list[Column] = []
    for c in constraints:
        if c.kind in ("not_null", "check"):
            flags.append(F.when(c.spec, F.lit(c.name)))
        elif c.kind == "foreign_key":
            child_cols, pk = _fk_parent_keys(c.spec)
            pk = pk.withColumn(f"__ok_{c.name}", F.lit(True))
            marked = marked.join(pk, on=child_cols, how="left")
            nonnull = F.lit(True)
            for ch in child_cols:
                nonnull = nonnull & F.col(ch).isNotNull()
            flags.append(
                F.when(nonnull & F.col(f"__ok_{c.name}").isNull(), F.lit(c.name))
            )
        else:
            raise ValueError(f"quarantine: unsupported constraint kind {c.kind!r}")
    reasons = F.filter(F.array(*flags), lambda x: x.isNotNull())
    marked = marked.select(*df.columns, reasons.alias("_violations"))
    valid = marked.filter(F.size("_violations") == 0).drop("_violations")
    invalid = marked.filter(F.size("_violations") > 0)
    return valid, invalid
