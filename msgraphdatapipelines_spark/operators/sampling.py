"""Deterministic sampling / data-mixing operators (north-star extension).

Training-data pipelines rarely train on the raw corpus mix: the standard
recipe reweights domains (sources, languages) with a TEMPERATURE on their
sizes — share_d ∝ n_d^alpha, alpha<1 upweighting low-resource domains
(the multilingual-sampling scheme popularized by mBERT/XLM-R and the
domain-mixture step of corpus curation).  The reference has no sampling
operator (SURVEY.md §2.5 charter extension); the deterministic-hash keep
rule generalizes corpus_curation's md5-prefix sample.

Everything here is DETERMINISTIC (no rand()): the keep decision hashes
the row id, so a re-run — or a different engine computing the same
expression (the DuckDB oracle) — selects byte-identical rows.  That
run-to-run stability is itself the operational requirement at 100 TB:
sampling must be reproducible across retries, backfills, and engines.

Scale shape: domain rates come from ONE tiny aggregation (|domains| rows)
that broadcast-joins back onto the corpus; the keep predicate is a narrow
per-row map.  Cost = one scan + one broadcast join, zero fact-side
shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def md5_uniform(col: Column | str) -> Column:
    """Deterministic uniform-[0,1) draw from the first 8 hex digits of
    ``md5(col)``.

    Each hex digit contributes ``digit * 16^-i`` — every term is an exact
    binary fraction (lsb 2^-32), so the sum is EXACT in IEEE double and
    bit-identical in any engine with md5 + strpos arithmetic (the DuckDB
    oracle builds the same expression; see queries/curation.py).  Granularity
    2^-32 ≈ 2.3e-10 — far finer than any practical sampling rate.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(c.cast("string"))
    terms = [
        (F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - F.lit(1)).cast("double")
        * F.lit(16.0 ** -(i + 1))
        for i in range(8)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def md5_uniform_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_uniform` — identical term-by-term
    expression so both engines draw the same exact double."""
    terms = [
        f"(strpos('{_HEX}', substr(md5(CAST({expr} AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16.0 ** -(i + 1)!r}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def temperature_mixture_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    target_total: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-weighted mixture sampling: domain d receives a target
    share ∝ n_d^alpha (alpha=0.5 → sqrt — the cross-engine-exact choice;
    sqrt is correctly rounded in IEEE, pow is not guaranteed to be), and
    each row is kept iff its deterministic md5 draw falls below the
    domain's keep rate

        rate_d = min(1, target_total · n_d^alpha / Σ_e n_e^alpha / n_d)

    rounded to 6 decimals (absorbs the cross-engine last-bit drift of the
    Σ over domains, whose accumulation order is engine-specific).  Rates
    above 1 clamp — an over-asked small domain contributes all its rows —
    so the realized total can undershoot ``target_total``; iterate on the
    target or redistribute externally if exact totals matter.

    Output: the kept rows of ``df`` plus ``n_domain`` (domain size) and
    ``rate`` (the applied keep rate).  One tiny domain-count aggregation →
    broadcast join → narrow filter; the corpus is scanned once and never
    shuffled.
    """
    counts = df.groupBy(domain_col).agg(F.count("*").alias("n_domain"))
    w = F.sqrt(F.col("n_domain").cast("double")) if alpha == 0.5 else F.pow(
        F.col("n_domain").cast("double"), F.lit(float(alpha))
    )
    weighted = counts.select(domain_col, "n_domain", w.alias("_w"))
    tot = weighted.agg(F.sum("_w").alias("_tw"))
    rate = F.round(
        F.least(
            F.lit(1.0),
            F.lit(float(target_total))
            * F.col("_w")
            / F.col("_tw")
            / F.col("n_domain").cast("double"),
        ),
        6,
    )
    rates = weighted.crossJoin(F.broadcast(tot)).select(
        domain_col, "n_domain", rate.alias("rate")
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(md5_uniform(F.col(id_col)) < F.col("rate"))
    )


def stratified_take_exact(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    counts: dict[str, int],
    default_n: int = 0,
) -> DataFrame:
    """EXACT-count stratified sampling: take exactly ``counts[stratum]``
    rows per stratum (all rows if the stratum is smaller), chosen by the
    smallest deterministic md5 draws — the "exactly 10k eval docs per
    language" primitive that the rate-based ``temperature_mixture_sample``
    cannot guarantee (its realized totals are binomial).

    Determinism: rows rank by ``(md5_uniform(id), id)`` within their
    stratum, so re-runs, backfills, and the DuckDB oracle select
    byte-identical rows; adding rows to a stratum only perturbs the
    selection where the new draws land inside the top-n (bounded churn,
    the property sliced-conventional random sampling lacks).

    Spark shape: ONE sort-shuffle keyed on the stratum.  Catalyst plans
    rank-then-filter as WindowGroupLimit: each map task keeps only its
    per-stratum top-n BEFORE the exchange, so the shuffle moves
    O(strata · n) rows, not the corpus — the same pre-shuffle heap that
    bounds the LSH pair audit.  Strata missing from ``counts`` get
    ``default_n`` (0 → dropped entirely).

    Output: the selected rows plus ``draw`` (the uniform) and
    ``stratum_rank`` (1-based rank within the stratum).
    """
    n_for = F.coalesce(
        *(
            [F.create_map(*[F.lit(x) for kv in counts.items() for x in kv])[F.col(stratum_col)]]
            if counts
            else []
        ),
        F.lit(default_n),
    )
    from pyspark.sql import Window

    draw = md5_uniform(id_col)
    w = Window.partitionBy(stratum_col).orderBy(draw.asc(), F.col(id_col).asc())
    # the per-stratum bound is an expression, which InferWindowGroupLimit
    # cannot use — the extra LITERAL max-n conjunct is what turns the plan
    # into the pre-shuffle heap; the expression conjunct then trims exactly
    max_n = max([*counts.values(), default_n]) if counts else default_n
    return (
        df.withColumn("draw", draw)  # exact binary fraction — bit-identical cross-engine, no rounding needed
        .withColumn("stratum_rank", F.row_number().over(w).cast("long"))
        .filter((F.col("stratum_rank") <= F.lit(max_n)) & (F.col("stratum_rank") <= n_for))
    )


def shuffle_deterministic(
    df: DataFrame,
    id_col: str,
    seed: int = 0,
    num_buckets: int | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every row a
    dense position ``1..n`` in a pseudo-random order that is a pure
    function of ``(id, seed)`` — the "shuffle the corpus before epoch k"
    step of a training-data pipeline, reproducible across re-runs,
    backfills, engines, and cluster sizes (unlike ``ORDER BY rand()``,
    whose order changes with partitioning and retries).

    Order key: ``u = md5_uniform(id:seed)`` (exact binary fraction —
    bit-identical cross-engine), tie-broken by the full md5 hex then the
    id, so the order is total even at u's 2^-32 granularity.  A new seed
    is a completely new permutation.

    Scale shape — this is ``with_surrogate_key(contiguous=True)`` with the
    min/max job DELETED: because u is uniform on [0,1) by construction,
    fixed-width buckets ``floor(u·B)`` are balanced a priori, so no bounds
    aggregation, no ``approxQuantile``, and no range-exchange sampling pass
    (what ``repartitionByRange`` + ``row_number`` would cost).  Per-bucket
    counts → broadcast prefix-sum offsets + per-bucket ``row_number`` —
    the plan's only wide steps are one hash exchange on the bucket and the
    in-plan count aggregation; no ``Exchange SinglePartition``, no global
    sort.  The upstream plan is consumed by both the counts branch and the
    probe branch; since bucket and u are pure functions of the data this
    double-execution is recompute-safe (pin upstream yourself if its scan
    is nondeterministic or expensive — see ``with_surrogate_key``'s
    ``localCheckpoint`` caveat in sinks.py).

    Training consumers then ``repartitionByRange("shuffle_pos")`` +
    ``sortWithinPartitions("shuffle_pos")`` at write time to lay files out in
    shuffle order, or range-read ``[lo, hi)`` position slices for
    curriculum windows.

    CONTRACT — ``id_col`` must be UNIQUE (r6 ADVICE): the order key is
    (u, md5, id), all pure functions of the id, so duplicated ids share
    an identical key and their relative positions fall to partition
    order — nondeterministic across runs, silently.  Dedup first
    (``dropDuplicates([id_col])``) or pass a genuinely unique key; this
    operator does not scan for violations (a uniqueness assert would
    cost an extra count-distinct job at 100 TB — run
    ``constraints.check`` in a validation pass if the upstream cannot
    guarantee it).  Likewise, the counts branch and the probe branch
    both re-execute the upstream plan: with a NONDETERMINISTIC upstream
    (sample(), rand() filters, re-listed mutable input) the broadcast
    offsets can disagree with the probe rows and the inner join then
    drops or mis-positions rows SILENTLY rather than failing — pin the
    upstream (localCheckpoint / write-out) before calling, exactly as
    ``with_surrogate_key`` does.
    """
    n = num_buckets or df.sparkSession.sparkContext.defaultParallelism
    from pyspark.sql import Window

    sid = F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    h = F.md5(sid)
    u = md5_uniform(sid)
    bucketc, cntc, offc = "__sh_bucket", "__sh_cnt", "__sh_off"
    bucket = F.least(F.floor(u * F.lit(float(n))), F.lit(n - 1)).cast("int")
    keyed = df.withColumn(bucketc, bucket)
    counts = keyed.groupBy(bucketc).agg(F.count(F.lit(1)).alias(cntc))
    woff = Window.orderBy(bucketc).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        counts.coalesce(1)  # B rows; already 1 partition → no Exchange SinglePartition
        .withColumn(offc, F.coalesce(F.sum(cntc).over(woff), F.lit(0)))
        .drop(cntc)
    )
    w = Window.partitionBy(bucketc).orderBy(u.asc(), h.asc(), F.col(id_col).asc())
    return (
        keyed.join(F.broadcast(offsets), bucketc)
        .withColumn("shuffle_pos", (F.col(offc) + F.row_number().over(w)).cast("long"))
        .drop(bucketc, offc)
    )


def split_by_group(
    group_col: Column | str,
    splits: list[tuple[str, float]] | None = None,
    seed: str = "",
) -> Column:
    """GROUP-wise train/val/test assignment (r8): every row whose
    ``group_col`` is equal lands in the SAME split — the leakage-safe way
    to partition training data (splitting by row leaks near-identical
    rows of one user/domain/document-cluster across train and eval; the
    published protocol splits by the entity).

    The assignment is a pure expression: ``u = md5_uniform(group:seed)``
    against cumulative split weights — deterministic, engine-replayable
    (``split_by_group_sql`` renders the same CASE chain), stable under
    re-runs/backfills, and requiring NO join or shuffle: any table
    carrying the group key computes its split inline.  ``splits`` is an
    ordered (name, weight) list, weights summing to 1 (last split takes
    the remainder, so float dust cannot drop rows).
    """
    splits = splits or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    u = md5_uniform(F.concat(g.cast("string"), F.lit(f":{seed}")))
    expr = None
    acc = 0.0
    for name, wt in splits[:-1]:
        acc += wt
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    return (F.lit(last) if expr is None else expr.otherwise(last)).alias("split")


def split_by_group_sql(
    expr: str,
    splits: list[tuple[str, float]] | None = None,
    seed: str = "",
) -> str:
    """DuckDB twin of :func:`split_by_group` — same draw, same cumulative
    thresholds, same first-match CASE semantics."""
    splits = splits or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    u = md5_uniform_sql(f"CAST({expr} AS VARCHAR) || ':{seed}'")
    arms = []
    acc = 0.0
    for name, wt in splits[:-1]:
        acc += wt
        arms.append(f"WHEN {u} < {acc!r} THEN '{name}'")
    return "CASE " + " ".join(arms) + f" ELSE '{splits[-1][0]}' END"


def leakage_check(df: DataFrame, key_col: str) -> DataFrame:
    """Cross-split leakage audit: one row — (n_keys, n_leaked) where
    n_leaked counts keys observed in MORE THAN ONE split.  Zero by
    construction when the split came from :func:`split_by_group`; the
    check exists for splits of independent provenance (merged datasets,
    historical splits, vendor-supplied eval sets) where the guarantee
    does NOT hold by construction.  One (key)-keyed count-distinct agg +
    one global agg — map-combinable, no row explosion."""
    per_key = df.groupBy(key_col).agg(
        F.countDistinct("split").alias("__n_splits")
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("__n_splits") > 1).cast("long")).alias("n_leaked"),
    )


def weighted_sample_without_replacement(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    strata: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (r8): the
    Efraimidis–Spirakis A-ES scheme — each row draws u = md5_uniform(id:)
    and ranks by u^(1/w); the top-``k`` per stratum is a weighted
    sample without replacement (inclusion ∝ weight, exactly k rows).
    The weighted counterpart of ``stratified_take_exact``: upweight
    high-quality documents in a training mix while keeping the draw
    reproducible across retries, backfills, and engines.

    Determinism: rank key = floor(ln(u)/w · 1e9) as BIGINT — the
    monotone-equivalent log form of u^(1/w) (ln u < 0, 1/w > 0 preserve
    order), quantized BEFORE comparison so cross-engine libm ulp
    differences cannot flip a selection (the BM25 quantization
    discipline); ties break by id.  One ranking window per stratum
    (WindowGroupLimit heap, no global sort), draw is a pure row
    expression.  Zero/negative weights are excluded (their u^(1/w) is
    ill-defined; a zero-weight row should never be sampled anyway).
    The draw is clamped to ≥ 2^-33 before the log: md5_uniform can return
    exactly 0 (first 8 hex digits zero, p ≈ 2^-32), where Spark's ln
    yields NULL (row silently sorts last) but DuckDB's ln raises —
    clamping identically in both renderings keeps the engines bit-equal.
    """
    strata = strata or []
    from pyspark.sql import Window

    u = F.greatest(
        md5_uniform(F.concat(F.col(id_col).cast("string"), F.lit(":"))),
        F.lit(2.0 ** -33),
    )
    w = F.col(weight_col).cast("double")
    key_q = F.floor(F.log(u) / w * F.lit(1e9)).cast("long")
    win = Window.partitionBy(*strata).orderBy(F.desc("__aes_q"), F.col(id_col))
    return (
        df.filter(w > 0)
        .withColumn("__aes_q", key_q)
        .withColumn("__aes_rn", F.row_number().over(win))
        .filter(F.col("__aes_rn") <= k)
        .drop("__aes_q", "__aes_rn")
    )


def weighted_sample_sql(id_expr: str, weight_expr: str) -> str:
    """DuckDB twin of the A-ES rank key: floor(ln(u)/w · 1e9), with the
    same ≥ 2^-33 clamp as the engine (ln(0) raises in DuckDB)."""
    u = md5_uniform_sql(f"CAST({id_expr} AS VARCHAR) || ':'")
    return (
        f"CAST(floor(ln(greatest({u}, {2.0 ** -33!r}))"
        f" / CAST({weight_expr} AS DOUBLE) * 1e9) AS BIGINT)"
    )
