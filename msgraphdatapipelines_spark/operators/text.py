"""Text-analysis operators (north-star): language ID, quality scoring,
token counting, document fingerprinting.

All pure Column expressions — regex/string/hash built-ins, zero Python in
the row path, so the operators cost one scan at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword marker sets for the heuristic classifier.
# Deterministic and tiny by design: the classifier is a scoring rule over
# marker hits, reproducible in plain SQL for the oracle twin.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}

# BPE-ish token pattern: runs of letters, runs of digits, or single
# non-space symbols — the standard pre-tokenizer shape.
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(t, " "), lambda w: w != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (bigint)."""
    return F.size(tokens(text)).cast("long")


def bpe_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via the BPE-style pre-tokenizer regex."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0)).cast("long")


def quality_stats(text: Column | str, ws: Column | None = None) -> dict[str, Column]:
    """Quality-scoring signals: length, token stats, stopword/digit ratios.

    Ratios are exact integer ratios cast to double (deterministic).

    Pass ``ws`` (a materialized ``tokens(text)`` column) when combining with
    other token-consuming operators: higher-order functions are
    codegen-fallback, so Catalyst does NOT common-subexpression-eliminate a
    repeated ``split``+``filter`` — tokenizing once in a prior projection
    (CollapseProject keeps non-cheap exprs referenced more than once staged)
    turns O(uses) tokenizations per row into one.
    """
    t = F.col(text) if isinstance(text, str) else text
    if ws is None:
        ws = tokens(t)
    n_tok = F.size(ws)
    stop = F.array([F.lit(w) for ms in LANG_MARKERS.values() for w in ms])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop, w)))
    n_digit_tok = F.size(F.filter(ws, lambda w: w.rlike("^[0-9]+$")))
    mean_len = F.when(
        n_tok > 0,
        F.aggregate(
            F.transform(ws, lambda w: F.length(w).cast("long")), F.lit(0).cast("long"), lambda a, b: a + b
        ).cast("double")
        / n_tok,
    )
    return {
        "n_chars": F.length(t).cast("long"),
        "n_tokens": n_tok.cast("long"),
        "mean_token_len": F.round(mean_len, 4),
        "stopword_ratio": F.round(n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 4),
        "digit_token_ratio": F.round(n_digit_tok.cast("double") / F.greatest(n_tok, F.lit(1)), 4),
    }


def lang_scores(text: Column | str, ws: Column | None = None) -> dict[str, Column]:
    """Per-language marker-hit counts (the language-ID signal).  ``ws``: see
    quality_stats — pass the materialized token array to tokenize once."""
    if ws is None:
        ws = tokens(text)
    return {
        lang: F.size(F.filter(ws, lambda w: F.array_contains(F.array(*[F.lit(m) for m in ms]), w)))
        for lang, ms in LANG_MARKERS.items()
    }


def lang_id_from_scores(scores_by_lang: dict[str, Column]) -> Column:
    """Argmax language from per-language score columns, 'und' when all zero.
    Deterministic tie-break: earlier dict order wins.  Feed it materialized
    score COLUMNS (cheap attribute refs) — a CASE chain over inline score
    expressions would re-evaluate each tokenization per branch."""
    scores = list(scores_by_lang.items())
    expr = F.lit("und")
    # build the CASE chain back-to-front; earlier languages win ties via >=
    for i in range(len(scores) - 1, -1, -1):
        lang, n = scores[i]
        cond = n > 0
        for _, later_n in scores[i + 1 :]:
            cond = cond & (n >= later_n)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def tfidf_top_terms(
    df: "DataFrame",  # noqa: F821 - imported lazily to keep module Column-only
    id_col: str,
    text_col: str,
    k: int = 5,
) -> "DataFrame":  # noqa: F821
    """Top-k TF-IDF terms per document — the classic corpus-weighting
    operator behind keyword extraction and quality-by-informativeness
    filters.

    tf = in-document term count; idf = ln((N+1)/(df+1)) + 1 (smoothed);
    weight = tf·idf.  Ties break lexicographically for determinism.

    Scale shape: explode → ONE (doc, term) hash aggregation (map-side
    partials collapse duplicate terms early); document frequency is a
    second aggregation over the already-deduplicated (doc, term) pairs —
    input n_docs·distinct_terms, not raw tokens; the idf join broadcasts
    (vocabulary ≪ corpus); final top-k is a WindowGroupLimit-prunable
    ranking window per doc.  No stage touches raw text twice.
    """
    from pyspark.sql import DataFrame, Window  # local import: module is else expr-only

    assert isinstance(df, DataFrame)
    n_docs = df.select(id_col).distinct().count()  # model scalar, like IVF centroids
    pairs = (
        df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
    )
    docfreq = pairs.groupBy("term").agg(F.count("*").alias("df_"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df_") + 1.0)) + 1.0
    weighted = pairs.join(F.broadcast(docfreq.withColumn("idf", idf)), "term").select(
        "doc", "term", (F.col("tf") * F.col("idf")).alias("weight")
    )
    w = Window.partitionBy("doc").orderBy(F.desc("weight"), F.asc("term"))
    return (
        weighted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("doc").alias(id_col), "term", F.round("weight", 6).alias("weight"), "rank"
        )
    )


def fingerprint_exact(text: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text (lowercase,
    whitespace collapsed).  Two docs with equal fingerprints are duplicates
    after normalization — the O(n) dedup key."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(t)), "\\s+", " "))


def fingerprint_minhash1(text: Column | str, k: int = 5) -> Column:
    """Content fingerprint robust to local edits: the minimum md5 hex over
    the document's character k-shingles (a 1-hash MinHash), cross-engine
    reproducible.  Docs sharing it are near-dup candidates.
    """
    from ..functions import char_shingles

    return F.array_min(F.transform(char_shingles(text, k), lambda s: F.md5(s)))


# Portable PII patterns: identical semantics under Java regex (Spark) and
# RE2 (DuckDB) — no lookarounds, no backrefs, ASCII classes only.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    "ssn": (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
}


def pii_scrub(text: Column | str) -> dict[str, Column]:
    """PII redaction + per-kind match counts — the curation scrub pass.

    Pure Column expressions (regexp_replace / regexp_extract_all), one
    scan; replacement order is the fixed dict order so nested matches
    (an SSN inside an already-replaced span) behave identically in any
    engine running the same order.
    """
    t = F.col(text) if isinstance(text, str) else text
    out: dict[str, Column] = {}
    scrubbed = t
    for kind, (pat, repl) in PII_PATTERNS.items():
        out[f"n_{kind}"] = F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long")
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    out["scrubbed"] = scrubbed
    return out


def chunk_text(
    df: "DataFrame",  # noqa: F821
    id_col: str,
    text_col: str,
    size: int = 200,
    stride: int = 150,
) -> "DataFrame":  # noqa: F821
    """Overlapping fixed-size character chunking (RAG/window prep): chunk i
    covers ``[i·stride, i·stride + size)``; ``n_chunks =
    max((len-1) div stride + 1, 1)`` so every character is covered and an
    empty document still yields one (empty) chunk.

    The chunk array builds per-row (sequence + transform + substr — pure
    codegen, same pattern as char_shingles) and ``posexplode`` fans out
    rows; the explode is the only row-count change, no shuffle.  Integer
    ``div`` keeps the chunk count exact in both engines.
    """
    from pyspark.sql import DataFrame  # local import: module is else expr-only

    assert isinstance(df, DataFrame)
    t = F.col(text_col)
    n = F.greatest(F.expr(f"(length({text_col}) - 1) div {stride}") + 1, F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1), lambda i: t.substr(i * stride + 1, F.lit(size))
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chunks"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).select(
        id_col, F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk_text", "n_chunks"
    )


def content_defined_chunks(
    df: "DataFrame",  # noqa: F821
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
) -> "DataFrame":  # noqa: F821
    """Content-defined chunking (r10) — Rabin/FastCDC-style boundaries at
    the TOKEN level: a chunk boundary falls after token ``i`` whenever the
    hash of the trailing ``w``-token window opens with a zero nibble
    (P=1/16 → expected chunk length ~16 tokens + the window warm-up).
    Because boundaries depend only on LOCAL content, an insertion early
    in a document shifts at most one chunk instead of re-chunking
    everything — the property that makes CDC the standard prep for
    chunk-hash dedup and incremental RAG re-indexing, where fixed-size
    chunking (``chunk_text``) invalidates every downstream chunk after
    any edit.

    All per-row codegen (sequence → filter → zip_with → posexplode), no
    shuffle; the hash is the same ``md5`` both engines evaluate
    bit-identically, so chunk boundaries, texts, and content hashes all
    replay in the DuckDB oracle.  The final token index is excluded from
    the boundary candidates so no empty trailing chunk appears.

    Output: ``id_col, n_tokens, chunk_idx, chunk_text, chunk_hash`` —
    one row per chunk; an empty/short document yields one chunk.
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    base = df.select(F.col(id_col), tokens(text_col).alias("_w")).select(
        F.col(id_col), F.col("_w"), F.size("_w").alias("_nt")
    )
    win = lambda i: F.array_join(F.slice(F.col("_w"), i - (w - 1), w), " ")  # noqa: E731
    bounds = F.when(
        F.col("_nt") - 1 >= w,
        F.filter(
            F.sequence(F.lit(w), F.col("_nt") - 1),
            lambda i: F.md5(win(i)).substr(1, 1) == F.lit("0"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    b = base.select(F.col(id_col), F.col("_w"), F.col("_nt"), bounds.alias("_b"))
    starts = F.concat(F.array(F.lit(1)), F.transform(F.col("_b"), lambda x: x + 1))
    ends = F.concat(F.col("_b"), F.array(F.col("_nt")))
    chunks = F.zip_with(
        starts,
        ends,
        lambda s, e: F.array_join(
            F.slice(F.col("_w"), s, F.greatest(e - s + 1, F.lit(0))), " "
        ),
    )
    return b.select(
        F.col(id_col),
        F.col("_nt").cast("long").alias("n_tokens"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).select(
        F.col(id_col),
        "n_tokens",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.md5("chunk_text").alias("chunk_hash"),
    )


def repetition_signals(text: Column | str, ws: Column | None = None) -> dict[str, Column]:
    """Repetition quality signals (the Gopher/MassiveText-style heuristics
    used to drop boilerplate and degenerate generations from training
    corpora): token- and n-gram-level duplication ratios plus the most
    frequent token's mass.  All pure per-row codegen (split + higher-order
    array functions) — a single corpus scan scores everything, no shuffle.

    - ``dup_token_ratio``   = 1 − |distinct tokens| / |tokens|
    - ``top_token_ratio``   = occurrences of the most frequent token / |tokens|
    - ``dup_2gram_ratio``   = 1 − |distinct 2-grams| / |2-grams|
    - ``dup_3gram_ratio``   = 1 − |distinct 3-grams| / |3-grams|

    High values mean the document repeats itself; typical curation drops
    docs with dup_3gram_ratio or top_token_ratio above a corpus-tuned cut.
    """
    t = F.col(text) if isinstance(text, str) else text
    w = ws if ws is not None else tokens(t)
    n = F.greatest(F.size(w), F.lit(1))

    def _ngrams(k: int) -> Column:
        cnt = F.greatest(F.size(w) - F.lit(k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), cnt), lambda i: F.array_join(F.slice(w, i, k), " ")
        )

    top = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda tok: F.size(F.filter(w, lambda x: x == tok)),
        )
    )
    g2, g3 = _ngrams(2), _ngrams(3)
    return {
        "dup_token_ratio": F.round(
            F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n, 6
        ),
        "top_token_ratio": F.round(
            F.coalesce(top, F.lit(0)).cast("double") / n, 6
        ),
        "dup_2gram_ratio": F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(g2)).cast("double") / F.greatest(F.size(g2), F.lit(1)),
            6,
        ),
        "dup_3gram_ratio": F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(g3)).cast("double") / F.greatest(F.size(g3), F.lit(1)),
            6,
        ),
    }


def segment_windows(text: Column | str, width: int = 8, ws: Column | None = None) -> Column:
    """Disjoint ``width``-token segments of a document, each re-joined with
    single spaces (the trailing segment may be shorter).

    This is the unit of corpus-level boilerplate removal (see
    ``strip_frequent_segments``): published training-data pipelines dedup
    repeated *lines*; this corpus has no line structure, so fixed token
    windows play the same role deterministically.  ``n_segments =
    (n_tokens + width - 1) div width`` — integer ``div`` keeps the count
    exact in both engines, and a document with no tokens yields an empty
    array (``sequence`` is guarded: Spark's default step is −1 when
    start > stop, which would silently produce ``[0, -1]``).
    """
    t = F.col(text) if isinstance(text, str) else text
    w = ws if ws is not None else tokens(t)
    # integer-exact ceil(n_tokens / width): (n + width-1) div width
    n_seg = ((F.size(w) + F.lit(width - 1)) / F.lit(width)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(w, i * width + 1, width), " "),
    )
    return F.when(F.size(w) > 0, segs).otherwise(F.array().cast("array<string>"))


def strip_frequent_segments(
    df: "DataFrame",  # noqa: F821
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_docs: int = 3,
) -> "DataFrame":  # noqa: F821
    """Corpus-wide boilerplate removal: drop every ``width``-token segment
    that occurs in ≥ ``min_docs`` DISTINCT documents, rebuild each document
    from its surviving segments in original order.

    The line-dedup step of public corpus pipelines (CCNet §4.1 "we
    deduplicate paragraphs"; Lee et al. 2022 exact-substring dedup;
    reference analog: the conform/clean stage of
    `Invoke-GraphDataPipelineToAzureSQLDatabase.ps1:131-168`, which strips
    repeated envelope noise before load) expressed for Spark scale:

    1. one scan → per-doc segment arrays (pure codegen, see
       ``segment_windows``);
    2. ONE shuffle: explode → groupBy(segment) → count_distinct(doc) —
       map-side partial aggregation collapses each partition's repeats
       before the exchange; the frequent set is bounded at 100,000
       (highest-document-count segments first, lexicographic tiebreak →
       deterministic under truncation);
    3. rebuild: posexplode → broadcast HASH join against the frequent
       table (O(1) probes) → re-aggregate per doc ordered by position.
       One extra doc-keyed shuffle + a per-doc-bounded collect_list, but
       rebuild cost is corpus-linear REGARDLESS of |frequent| — the 100×
       sweep caught a broadcast-array rebuild at 78k frequent segments ×
       6M linear probes (duplication-heavy corpora make the frequent set
       corpus-sized; see PERF.md r6).

    Output: ``id_col, clean_text, n_segments, n_dropped`` — one row per
    input document (documents that were pure boilerplate come back with an
    empty ``clean_text``, preserving corpus accounting).
    """
    from pyspark.sql import DataFrame  # local import: module is else expr-only

    assert isinstance(df, DataFrame)
    ws = tokens(text_col)
    base = df.select(F.col(id_col), segment_windows(text_col, width=width, ws=ws).alias("segs"))
    frequent = (
        base.select(F.col(id_col), F.explode("segs").alias("seg"))
        .groupBy("seg")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), F.col("seg"))
        .limit(100_000)
    )
    ex = base.select(
        F.col(id_col),
        F.size("segs").alias("_n_segs"),
        F.posexplode_outer("segs").alias("_pos", "seg"),  # _outer keeps 0-segment docs
    )
    marked = ex.join(
        F.broadcast(frequent.select("seg", F.lit(1).alias("_f"))), "seg", "left"
    )
    kept = F.when(F.col("_f").isNull() & F.col("seg").isNotNull(),
                  F.struct(F.col("_pos"), F.col("seg")))
    return marked.groupBy(id_col).agg(
        F.array_join(
            # collect_list skips NULLs; array_sort on (pos, seg) restores order
            F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["seg"]),
            " ",
        ).alias("clean_text"),
        F.max("_n_segs").cast("long").alias("n_segments"),
        F.sum(F.when(F.col("_f") == 1, 1).otherwise(0)).cast("long").alias("n_dropped"),
    )


def gopher_rules(
    text: Column | str,
    ws: Column | None = None,
) -> dict[str, Column]:
    """Gopher/MassiveText-style quality RULE battery (r9): the keep/drop
    decision layer over the per-document signals — each published
    heuristic as a named boolean verdict plus the conjunction
    ``gopher_pass`` (Rae et al. 2021 §A1.1.1, the filter set FineWeb/
    Dolma re-implement; line-based rules are expressed token-based
    because this corpus has no line structure).

    All verdicts are comparisons of exact integer ratios (cast to double
    once, same operand order cross-engine) against literal thresholds —
    pure per-row codegen, one scan scores and gates the whole corpus, no
    shuffle anywhere.  Compose with ``quality_stats``/``repetition_signals``
    sharing one materialized ``ws`` so the document tokenizes once.
    """
    t = F.col(text) if isinstance(text, str) else text
    w = ws if ws is not None else tokens(t)
    n = F.size(w)
    nd = F.greatest(n, F.lit(1))
    stats = quality_stats(t, ws=w)
    rep = repetition_signals(t, ws=w)
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]")))
    stop = F.array([F.lit(m) for ms in LANG_MARKERS.values() for m in ms])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop, x)))
    # the rule table: Gopher's published thresholds
    rules = {
        "pass_n_tokens": (n >= 20) & (n <= 100_000),
        "pass_mean_token_len": (stats["mean_token_len"] >= 3.0)
        & (stats["mean_token_len"] <= 10.0),
        "pass_digit_ratio": stats["digit_token_ratio"] <= 0.2,
        "pass_alpha_ratio": (n_alpha.cast("double") / nd) >= 0.8,
        "pass_stopwords": n_stop >= 2,
        "pass_top_token": rep["top_token_ratio"] <= 0.15,
        "pass_dup_3gram": rep["dup_3gram_ratio"] <= 0.5,
    }
    acc = None
    for c in rules.values():
        acc = c if acc is None else (acc & c)
    rules["gopher_pass"] = acc
    return rules


def duplicated_span_stats(
    df: "DataFrame",  # noqa: F821
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> "DataFrame":  # noqa: F821
    """Cross-document repeated-substring statistics (r9): for every
    document, how much of it is covered by a token ``n``-gram that occurs
    ≥ ``min_count`` times ANYWHERE in the corpus — the sliding-window
    exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), as per-doc coverage
    stats a curation pipeline thresholds on.  Differs from
    ``strip_frequent_segments`` (disjoint windows, removal) in catching
    duplication at ANY alignment.

    Scale shape: one scan explodes sliding gram POSITIONS keyed by
    ``md5(gram)`` (the shuffle carries a fixed-width hash, never the
    text); ONE gram-keyed shuffle counts global occurrences (map-side
    partial agg collapses per-partition repeats); duplicated positions
    semi-join back (broadcastable only if the dup set is small — left as
    a plain equi-join for AQE to decide) and per-doc coverage is an
    O(positions) sorted-interval-union FOLD (``F.aggregate`` over the
    sorted position array — no second explode of ``n`` covered indices
    per position, which would multiply the shuffle by the window width).

    Output: ``id_col, n_tokens, n_grams, n_dup_positions,
    dup_ngram_ratio, covered_tokens, dup_token_fraction`` — one row per
    input document (docs shorter than ``n`` tokens report zeros).
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    w = tokens(text_col)
    base = df.select(F.col(id_col), w.alias("_w")).select(
        F.col(id_col), F.col("_w"), F.size("_w").alias("_nt")
    )
    pos = base.filter(F.col("_nt") >= n).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_nt") - F.lit(n - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.array_join(F.slice(F.col("_w"), i, n), " ")).alias("gkey"),
                ),
            )
        ).alias("_g"),
    ).select(F.col(id_col), F.col("_g.pos").alias("pos"), F.col("_g.gkey").alias("gkey"))
    dup = (
        pos.groupBy("gkey")
        .count()
        .filter(F.col("count") >= min_count)
        .select("gkey")
    )
    dup_pos = pos.join(dup, "gkey", "left_semi")
    per_doc = dup_pos.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_dup_positions"),
        F.sort_array(F.collect_list("pos")).alias("_ps"),
    )
    covered = F.aggregate(
        F.col("_ps"),
        F.struct(
            F.lit(-(10**9)).alias("prev"), F.lit(0).alias("acc")
        ),
        lambda s, p: F.struct(
            p.alias("prev"),
            (s["acc"] + F.least(F.lit(n), p - s["prev"])).alias("acc"),
        ),
        lambda s: s["acc"],
    )
    out = base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("_nt").cast("long").alias("n_tokens"),
        F.greatest(F.col("_nt") - F.lit(n - 1), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dup_positions"), F.lit(0)).cast("long").alias("n_dup_positions"),
        F.round(
            F.coalesce(F.col("n_dup_positions"), F.lit(0)).cast("double")
            / F.greatest(F.col("_nt") - F.lit(n - 1), F.lit(1)),
            6,
        ).alias("dup_ngram_ratio"),
        F.coalesce(covered, F.lit(0)).cast("long").alias("covered_tokens"),
        F.round(
            F.coalesce(covered, F.lit(0)).cast("double")
            / F.greatest(F.col("_nt"), F.lit(1)),
            6,
        ).alias("dup_token_fraction"),
    )
    return out


def remove_duplicated_spans(
    df: "DataFrame",  # noqa: F821
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> "DataFrame":  # noqa: F821
    """Exact-substring dedup as a TRANSFORM (r10): remove every token
    covered by a corpus-duplicated ``n``-gram occurrence EXCEPT the
    canonical first one — the destructive half of Lee et al. 2022 (the
    stats half is :func:`duplicated_span_stats`).  The canonical keeper
    per gram is the minimum ``doc_id·10⁶ + pos`` occurrence (total order,
    engine-independent), so exactly one copy of every duplicated span
    survives and the output is deterministic.

    Scale shape: same ONE gram-keyed shuffle as the stats op (positions
    keyed by ``md5(gram)``; the min-occurrence rides the count agg as a
    second aggregate, no extra pass); redundant positions join back on
    the gram key and collapse to a per-doc sorted START ARRAY (bounded by
    dup positions, not window width).  Token filtering is per-row array
    work: token ``i`` survives iff no redundant start ``s`` satisfies
    ``s ≤ i ≤ s+n−1`` — O(n_tokens · dup_starts) per doc, zero extra
    shuffle, whole output rebuilt with ``array_join``.

    Output: ``id_col, n_tokens, n_removed, text_clean`` (single-space
    retokenized, like every tokenizing op here).
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    w = tokens(text_col)
    base = df.select(F.col(id_col), w.alias("_w")).select(
        F.col(id_col), F.col("_w"), F.size("_w").alias("_nt")
    )
    pos = base.filter(F.col("_nt") >= n).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_nt") - F.lit(n - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.array_join(F.slice(F.col("_w"), i, n), " ")).alias("gkey"),
                ),
            )
        ).alias("_g"),
    ).select(F.col(id_col), F.col("_g.pos").alias("pos"), F.col("_g.gkey").alias("gkey"))
    occ = F.col(id_col) * F.lit(1_000_000) + F.col("pos")
    gstats = (
        pos.select("gkey", occ.alias("_occ"))
        .groupBy("gkey")
        .agg(F.count(F.lit(1)).alias("_c"), F.min("_occ").alias("_keep"))
        .filter(F.col("_c") >= min_count)
        .select("gkey", "_keep")
    )
    red = (
        pos.join(gstats, "gkey")
        .filter(occ != F.col("_keep"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("_starts"))
    )
    starts = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    idx = F.when(F.col("_nt") >= 1, F.sequence(F.lit(1), F.col("_nt"))).otherwise(
        F.array().cast("array<int>")
    )
    kept = F.filter(
        F.zip_with(
            F.col("_w"),
            idx,
            lambda t, i: F.when(
                ~F.exists(starts, lambda s: (i >= s) & (i <= s + F.lit(n - 1))), t
            ),
        ),
        lambda t: t.isNotNull(),
    )
    return base.join(red, id_col, "left").select(
        F.col(id_col),
        F.col("_nt").cast("long").alias("n_tokens"),
        (F.col("_nt") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )


def dsir_weights(
    df: "DataFrame",  # noqa: F821
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":  # noqa: f821
    """DSIR-style importance weights (r9): per-document log-likelihood
    ratio between a TARGET token distribution (rows where ``is_target``)
    and the RAW corpus distribution, over hashed unigram buckets — the
    data-selection score of Xie et al. 2023 ("Data Selection for Language
    Models via Importance Resampling"), whose top-weighted documents are
    the ones that "look like" the target domain.  Feed the weights to
    ``sampling.weighted_sample_without_replacement`` for the actual
    resampling draw.

    Determinism: token → bucket via the first md5 byte(s) (identical
    cross-engine); both add-one-smoothed log terms are floor-quantized to
    integer micro-nats (the ``quality_buckets_logprob`` discipline), so
    per-doc sums are exact integer arithmetic and the final double is one
    division — bit-identical cross-engine.

    Scale shape: ONE bucket-keyed shuffle builds the 2×256 count table
    (map-side combine; the table is O(buckets), broadcast back), then one
    doc-keyed aggregation sums weights — no corpus-sized state, no UDFs.
    The 256 buckets are a 1-byte md5 prefix; the hash-bucket collisions
    ARE the DSIR smoothing.
    """
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    Q = 1_000_000
    toks = df.select(
        F.col(id_col), is_target.alias("_t"), F.explode(tokens(text_col)).alias("tok")
    ).select(F.col(id_col), F.col("_t"), F.substring(F.md5("tok"), 1, 2).alias("b"))
    counts = toks.groupBy("b").agg(
        F.count("*").alias("c_raw"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("c_tgt"),
    )

    def _lnq(c: Column) -> Column:
        return F.floor(F.log(c.cast("double")) * Q).cast("long")

    wtab = counts.select(
        "b", (_lnq(F.col("c_tgt") + 1) - _lnq(F.col("c_raw") + 1)).alias("wq")
    )
    totals = counts.agg(
        (
            _lnq(F.sum("c_raw") + 256) - _lnq(F.sum("c_tgt") + 256)
        ).alias("cq")
    )
    scored = (
        toks.join(F.broadcast(wtab), "b")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("wq").alias("_swq"))
        .crossJoin(F.broadcast(totals))
    )
    return scored.select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            (F.col("_swq") + F.col("n_tokens") * F.col("cq")).cast("double")
            / (F.lit(float(Q)) * F.col("n_tokens")),
            6,
        ).alias("dsir_logratio"),
        ((F.col("_swq") + F.col("n_tokens") * F.col("cq")) > 0).alias("target_like"),
    )
