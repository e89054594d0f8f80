"""End-to-end corpus curation (north-star composition): the canonical
training-data prep pipeline as ONE declarative plan —

    quality-filter → exact-dedup (keep-first) → deterministic sample

Each stage is an operator family proven elsewhere (operators.text quality
signals, operators.dedup exact grouping, md5-prefix sampling); this query
is the composition evidence: Catalyst fuses the filter into the scan, the
dedup is the single hash shuffle, and the sample predicate costs nothing.
At 100 TB this exact shape (filter early → one shuffle → cheap sample) is
the difference between a curation job that runs and one that doesn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as X
from . import load, load_spread, register

_WS = "list_filter(string_split(text, ' '), w -> w <> '')"
_ALL_MARKERS = ", ".join(f"'{m}'" for ms in X.LANG_MARKERS.values() for m in ms)


@register(
    "corpus_curation",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len({_WS}) AS BIGINT) AS n_tokens,
               round(CAST(len(list_filter({_WS}, w -> w IN ({_ALL_MARKERS}))) AS DOUBLE)
                     / greatest(len({_WS}), 1), 4) AS stopword_ratio,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_exact
        FROM documents
    ),
    quality AS (
        SELECT * FROM scored
        WHERE n_tokens BETWEEN 30 AND 95 AND stopword_ratio >= 0.01
    ),
    deduped AS (
        SELECT fp_exact,
               min(doc_id) AS doc_id,
               arg_min(n_tokens, doc_id) AS n_tokens,
               arg_min(stopword_ratio, doc_id) AS stopword_ratio,
               count(*) AS n_copies
        FROM quality GROUP BY fp_exact
    )
    SELECT doc_id, n_tokens, stopword_ratio, n_copies, fp_exact
    FROM deduped
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter → exact-dedup → ~50% deterministic sample, one plan.

    Stage shapes: the quality predicate evaluates in the scan stage
    (tokenization staged once, filter before any shuffle — the early-prune
    that matters at 100 TB); dedup is ONE hash aggregation on the
    normalized-text fingerprint with first-wins representative (map-side
    partial min); the sample is an md5-prefix predicate on the surviving
    rows (reproducible across engines, free at scan).
    """
    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", X.tokens("text").alias("_ws"))
    stats = X.quality_stats("text", ws=F.col("_ws"))
    scored = toked.select(
        "doc_id",
        stats["n_tokens"].alias("n_tokens"),
        stats["stopword_ratio"].alias("stopword_ratio"),
        X.fingerprint_exact("text").alias("fp_exact"),
    )
    quality = scored.filter(
        F.col("n_tokens").between(30, 95) & (F.col("stopword_ratio") >= 0.01)
    )
    deduped = quality.groupBy("fp_exact").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        F.min_by("stopword_ratio", "doc_id").alias("stopword_ratio"),
        F.count("*").alias("n_copies"),
    )
    return deduped.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    ).select("doc_id", "n_tokens", "stopword_ratio", "n_copies", "fp_exact")


def _mixture_oracle() -> str:
    from ..operators.sampling import md5_uniform_sql

    return f"""
    WITH counts AS (SELECT lang, count(*) AS n_domain FROM documents GROUP BY lang),
    tot AS (SELECT sum(sqrt(CAST(n_domain AS DOUBLE))) AS tw FROM counts),
    rates AS (
        SELECT lang, n_domain,
               round(least(1.0,
                           CAST(400 AS DOUBLE)
                           * sqrt(CAST(n_domain AS DOUBLE)) / tw
                           / CAST(n_domain AS DOUBLE)), 6) AS rate
        FROM counts, tot
    )
    SELECT d.doc_id, d.lang, r.n_domain, r.rate
    FROM documents d JOIN rates r USING (lang)
    WHERE {md5_uniform_sql('d.doc_id')} < r.rate
    """


@register("mixture_sample_temperature", oracle=_mixture_oracle())
def mixture_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture sampling (r6) — the
    training-mix staple (operators.sampling.temperature_mixture_sample):
    language d's target share ∝ n_d^0.5, so low-resource languages are
    upweighted relative to their corpus share; each row keeps iff its
    deterministic md5 uniform draw < the domain rate (clamped at 1 —
    exercised here: the sub-400-doc languages clamp at sf0.01 while 'en'
    samples at ~its temperature share).

    Scale shape: ONE |langs|-row aggregation → broadcast joins → narrow
    per-row predicate; the corpus is scanned once, never shuffled.
    Determinism (identical keep set on re-run and cross-engine) is the
    100 TB operational requirement — no rand() anywhere."""
    from ..operators.sampling import temperature_mixture_sample

    docs = load(spark, sf_dir, "documents")
    out = temperature_mixture_sample(
        docs, domain_col="lang", id_col="doc_id", target_total=400, alpha=0.5
    )
    return out.select("doc_id", "lang", "n_domain", "rate")


_STRATA_N = {"en": 50, "de": 30, "zh": 100, "fr": 0}  # es absent -> default 10
_STRATA_DEFAULT = 10


def _stratified_oracle() -> str:
    from ..operators.sampling import md5_uniform_sql

    u = md5_uniform_sql("doc_id")
    cases = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_N.items())
    return f"""
    WITH ranked AS (
        SELECT *, {u} AS draw,
               row_number() OVER (PARTITION BY lang ORDER BY {u} ASC, doc_id ASC)
                   AS stratum_rank
        FROM documents
    )
    SELECT doc_id, text, lang, source, n_chars, draw,
           CAST(stratum_rank AS BIGINT) AS stratum_rank
    FROM ranked
    WHERE stratum_rank <= (CASE lang {cases} ELSE {_STRATA_DEFAULT} END)
    """


@register(
    "stratified_sample_exact",
    oracle=_stratified_oracle(),
    demoted=True,  # sampling family holds the graded mixture_sample_temperature row
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-stratum sampling (operators.sampling.stratified_take_exact):
    exactly n_lang documents per language by smallest deterministic md5
    draw — zh over-asks (100 > |zh|, whole stratum survives), fr takes 0,
    es falls to the default.  One stratum-keyed sort-shuffle planned as
    WindowGroupLimit (pre-shuffle top-n heap); the oracle replays the
    identical draw expression so both engines pick byte-identical rows."""
    from ..operators.sampling import stratified_take_exact

    docs = load(spark, sf_dir, "documents")
    return stratified_take_exact(
        docs, "lang", "doc_id", counts=_STRATA_N, default_n=_STRATA_DEFAULT
    )


def _shuffle_oracle() -> str:
    from ..operators.sampling import md5_uniform_sql

    sid = "CAST(doc_id AS VARCHAR) || ':7'"
    u = md5_uniform_sql(sid)
    return f"""
    SELECT doc_id, lang,
           CAST(row_number() OVER (ORDER BY {u} ASC, md5({sid}) ASC, doc_id ASC)
                AS BIGINT) AS shuffle_pos
    FROM documents
    """


@register(
    "shuffle_training_order",
    oracle=_shuffle_oracle(),
    demoted=True,  # sampling family holds the graded mixture_sample_temperature row
)
def shuffle_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (operators.sampling.shuffle_deterministic, seed=7): every document
    gets a dense position 1..n in a pseudo-random order that is a pure
    function of (doc_id, seed) — the epoch-shuffle step of a training
    pipeline, byte-identical across engines and re-runs.  No global sort:
    uniform md5 draws make fixed-width buckets balanced a priori, so the
    plan is per-bucket row_number + broadcast prefix-sum offsets (one hash
    exchange; no range-partitioning sampling pass, no Exchange
    SinglePartition — pinned in tests/test_plans.py).  The oracle replays
    the identical draw expression through a plain global window.
    ``doc_id`` satisfies the operator's id-uniqueness contract (primary
    key of the documents fixture; see shuffle_deterministic's CONTRACT
    note — duplicated ids would make tie order nondeterministic)."""
    from ..operators.sampling import shuffle_deterministic

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return shuffle_deterministic(docs, "doc_id", seed=7, num_buckets=8)


def _groupwise_split_oracle() -> str:
    from ..operators.sampling import split_by_group_sql

    case = split_by_group_sql("o_custkey", seed="r8")
    return f"""
    WITH assigned AS (
        SELECT o_orderkey, o_custkey, {case} AS split FROM orders
    ),
    per_key AS (
        SELECT o_custkey, count(DISTINCT split) AS ns FROM assigned GROUP BY o_custkey
    ),
    leak AS (
        SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
        FROM per_key
    )
    SELECT split,
           count(*) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           any_value(l.n_leaked) AS n_leaked
    FROM assigned CROSS JOIN leak l
    GROUP BY split
    """


@register(
    "groupwise_split_orders",
    demoted=True,  # sampling family holds the graded mixture_sample_temperature row
    oracle=_groupwise_split_oracle(),
)
def groupwise_split_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (r8): orders partitioned 80/10/10
    by the CUSTOMER's deterministic hash draw (``split_by_group``) — every
    order of a customer lands in the same split, the entity-level
    protocol that keeps near-identical rows of one user out of
    train+eval simultaneously.  The cross-split ``leakage_check`` audit
    rides the same result (n_leaked = 0 by construction here; the
    operator exists for splits of independent provenance).  Assignment is
    a pure expression of the group key — no join, no shuffle, stable
    under re-runs/backfills, bit-identical in the oracle."""
    from ..operators.sampling import leakage_check, split_by_group

    o = load(spark, sf_dir, "orders")
    assigned = o.select(
        "o_orderkey", "o_custkey", split_by_group("o_custkey", seed="r8")
    )
    leak = leakage_check(assigned, "o_custkey")
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .crossJoin(F.broadcast(leak.select("n_leaked")))
    )


def _weighted_sample_oracle() -> str:
    from ..operators.sampling import weighted_sample_sql

    key = weighted_sample_sql("doc_id", "length(text)")
    return f"""
    SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
    FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY {key} DESC, doc_id) AS rn
        FROM documents
    )
    WHERE rn <= 25
    """


@register(
    "weighted_sample_docs",
    demoted=True,  # sampling family holds the graded mixture_sample_temperature row
    oracle=_weighted_sample_oracle(),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (r8, A-ES): exactly 25 docs
    per language, inclusion probability ∝ document length (the
    quality-weighted corpus-mixing draw), deterministic and replayed
    bit-identically by the oracle via the quantized log-form rank key
    (``operators.sampling.weighted_sample_without_replacement``)."""
    from ..operators.sampling import weighted_sample_without_replacement

    docs = load(spark, sf_dir, "documents").withColumn(
        "n_chars", F.length("text").cast("long")
    )
    return weighted_sample_without_replacement(
        docs, "doc_id", "n_chars", k=25, strata=["lang"]
    ).select("doc_id", "lang", "n_chars")


@register(
    "dsir_importance_weights",
    demoted=True,  # curation family driver-graded via corpus_curation/mixture rows
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS t, substr(md5(tok), 1, 2) AS b
        FROM (SELECT doc_id, lang, unnest({_WS}) AS tok FROM documents)
    ),
    counts AS (
        SELECT b, count(*) AS c_raw,
               sum(CASE WHEN t THEN 1 ELSE 0 END) AS c_tgt
        FROM toks GROUP BY b
    ),
    wtab AS (
        SELECT b,
               CAST(floor(ln(CAST(c_tgt + 1 AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(floor(ln(CAST(c_raw + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS wq
        FROM counts
    ),
    tot AS (
        SELECT CAST(floor(ln(CAST(sum(c_raw) + 256 AS DOUBLE)) * 1000000) AS BIGINT)
             - CAST(floor(ln(CAST(sum(c_tgt) + 256 AS DOUBLE)) * 1000000) AS BIGINT) AS cq
        FROM counts
    ),
    scored AS (
        SELECT doc_id, count(*) AS n_tokens, sum(wq) AS swq
        FROM toks JOIN wtab USING (b) GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(swq + n_tokens * cq AS DOUBLE) / (1000000.0 * n_tokens), 6)
               AS dsir_logratio,
           (swq + n_tokens * cq) > 0 AS target_like
    FROM scored, tot
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (r9, Xie et al. 2023): per-document
    log-likelihood ratio between the English subcorpus (target) and the
    raw corpus over hashed unigram buckets — the data-selection score
    whose top-weighted docs "look like" the target domain.  Quantized
    integer micro-nat sums (the quality_buckets_logprob discipline) keep
    the score bit-identical cross-engine; compose with the A-ES sampler
    for the actual importance-resampling draw."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    return X.dsir_weights(docs, F.col("lang") == "en", "doc_id", "text")


@register(
    "domain_reputation_filter",
    demoted=True,  # curation family driver-graded via corpus_curation
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), w -> w <> '')) AS nt,
               len(list_distinct(list_filter(string_split(text, ' '), w -> w <> '')))
                   AS nd
        FROM documents
    ),
    dom AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS sum_tokens,
               CAST(sum(nd) AS BIGINT) AS sum_distinct
        FROM d GROUP BY source
    ),
    v AS (
        SELECT source, n_docs,
               round(CAST(sum_tokens AS DOUBLE) / n_docs, 6) AS domain_mean_tokens,
               round(1 - CAST(sum_distinct AS DOUBLE) / sum_tokens, 6)
                   AS domain_dup_ratio,
               (CAST(sum_tokens AS DOUBLE) / n_docs >= 52.0
                AND 1 - CAST(sum_distinct AS DOUBLE) / sum_tokens <= 0.58)
                   AS domain_keep
        FROM dom
    )
    SELECT d.doc_id, d.source, v.domain_mean_tokens, v.domain_dup_ratio,
           v.domain_keep
    FROM d JOIN v USING (source)
    """,
)
def domain_reputation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level reputation filtering (r10) — the RefinedWeb/C4 stage
    where KEEP/DROP verdicts are made per SOURCE (domain), not per
    document: a domain whose aggregate signals look degenerate (short
    docs, high token duplication) is dropped wholesale, catching junk
    domains whose individual pages pass per-doc filters.  Every document
    is annotated with its domain's mean-token-count, duplication ratio,
    and verdict.

    Scale shape: ONE corpus scan computes per-doc exact integer signals
    (token count, distinct-token count — pure codegen array ops); ONE
    hash agg reduces them to per-domain integer sums (domains ≪ docs, so
    the agg output is model-sized); the verdict table broadcasts back —
    no second corpus shuffle.  All arithmetic stays in exact integers
    until one final division per domain, so verdicts and the rounded
    ratios replay bit-identically in the oracle."""
    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    d = docs.select(
        "doc_id",
        "source",
        F.size(ws).alias("nt"),
        F.size(F.array_distinct(ws)).alias("nd"),
    )
    dom = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("sum_tokens"),
        F.sum("nd").alias("sum_distinct"),
    )
    mean_t = F.col("sum_tokens").cast("double") / F.col("n_docs")
    dup = 1 - F.col("sum_distinct").cast("double") / F.col("sum_tokens")
    v = dom.select(
        "source",
        F.round(mean_t, 6).alias("domain_mean_tokens"),
        F.round(dup, 6).alias("domain_dup_ratio"),
        ((mean_t >= 52.0) & (dup <= 0.58)).alias("domain_keep"),
    )
    return d.select("doc_id", "source").join(F.broadcast(v), "source").select(
        "doc_id", "source", "domain_mean_tokens", "domain_dup_ratio", "domain_keep"
    )
