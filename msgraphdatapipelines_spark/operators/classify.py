"""In-engine trained text classifier (r7): hashed-feature naive Bayes.

LLM curation pipelines gate documents with cheap linear classifiers
(fastText-style quality models, language ID, domain routers).  The engine's
version is a multinomial naive Bayes over HASHED unigram features, trained
and applied entirely as DataFrame aggregations — no mllib, no UDFs, no
driver-side model materialization:

- **model = two small DataFrames.**  ``class_stats`` (one row per class:
  doc count, token count) and ``counts`` (one row per (class, feature
  bucket): token count).  The feature space is hashed to ``buckets``
  buckets (md5-prefix mod B), so the model is ≤ k·B rows REGARDLESS of
  corpus size — at 100 TB the artifact still broadcasts.
- **training = one hash aggregation** over the exploded train split
  (plus a k-row class rollup) — map-side combinable, one shuffle.
- **scoring = one equi-join on the feature bucket + two aggregations.**
  Laplace smoothing makes unmatched (class, bucket) pairs contribute
  ln(0+1) = 0, so the inner join IS the full sum — absent pairs need no
  rows, no dense cross-product of tokens × classes.
- **cross-engine determinism**: per-token contributions quantize to
  exact integers (floor(ln·1e6), the unigram-LM/k-means trick), so
  per-(doc, class) scores are order-free integer sums and argmax ties
  break on the class name — bit-identical in any engine.

Scores are unnormalized log-posteriors: score_q(d, c) =
q(D_c) + Σ_tok q(cnt(c, h(tok)) + 1) − n_tokens·q(N_c + B), with
q(x) = floor(ln(x)·1e6); the ln(ΣD) and Σln-denominator terms constant
across classes are dropped (argmax-invariant).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hashed_feature(tok: Column, buckets: int = 4096) -> Column:
    """Deterministic, engine-portable feature hash: first 8 md5 hex chars
    parsed as an integer, mod ``buckets`` (DuckDB twin:
    ``CAST('0x' || substr(md5(tok),1,8) AS BIGINT) % buckets``).
    Production swap: ``xxhash64(tok) % buckets`` is ~4× cheaper JVM-side;
    md5 is the cross-engine-checkable default (same trade documented at
    ``text.fingerprint_minhash1``)."""
    return (F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % buckets).alias("h")


def _q(x: Column) -> Column:
    """floor(ln(x)·1e6) as BIGINT — the exact-integer log quantization."""
    return F.floor(F.log(x.cast("double")) * 1e6).cast("long")


def nb_train(
    toks: DataFrame,
    label_col: str,
    buckets: int = 4096,
) -> tuple[DataFrame, DataFrame]:
    """Train from an exploded (doc_id, label, hashed-token) frame.

    Returns ``(class_stats, counts)``: the k-row class rollup
    (label, n_docs, n_toks) and the ≤ k·buckets feature-count table
    (label, h, c).  One hash shuffle each; both map-side combinable.
    """
    counts = toks.groupBy(label_col, "h").agg(F.count(F.lit(1)).alias("c"))
    class_stats = toks.groupBy(label_col).agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_toks"),
    )
    return class_stats, counts


def nb_score(
    doc_toks: DataFrame,
    docs: DataFrame,
    class_stats: DataFrame,
    counts: DataFrame,
    label_col: str,
    buckets: int = 4096,
) -> DataFrame:
    """Score every document against every class and keep the argmax.

    ``doc_toks``: (id, hashed token) for the documents to score;
    ``docs``: one row per id (drives zero-token docs through).  Output:
    (id, n_tokens, pred, score_q).

    Plan shape: token⋈counts inner equi-join on the bucket (the ONLY
    data-sized join — matched pairs sum q(c+1), absent pairs are the
    Laplace zero), one (id, class) agg, then a broadcast of the k-row
    class rollup and a k-rows-per-id argmax window (WindowGroupLimit-size
    state).  Nothing collects; the model never leaves the cluster.
    """
    n_tok = doc_toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    base = docs.select("doc_id").join(n_tok, "doc_id", "left").fillna(0, ["n_tokens"])

    matched = (
        doc_toks.join(counts, "h")
        .groupBy("doc_id", label_col)
        .agg(F.sum(_q(F.col("c") + 1)).alias("s"))
    )
    scored = (
        base.crossJoin(F.broadcast(class_stats))
        .join(matched, ["doc_id", label_col], "left")
        .select(
            "doc_id",
            "n_tokens",
            F.col(label_col).alias("pred"),
            (
                _q(F.col("n_docs"))
                + F.coalesce(F.col("s"), F.lit(0))
                - F.col("n_tokens") * _q(F.col("n_toks") + buckets)
            ).alias("score_q"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("pred"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def eval_classification(
    predictions: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Per-class evaluation metrics (r7): precision / recall / F1 / support
    for each class appearing as a label OR a prediction — the scorecard a
    curation team reads before trusting a filter model's output
    (complements ``nb_train``/``nb_score``; works on ANY predictions
    frame).

    Shape: ONE (label, pred) hash agg collapses the data to a confusion
    matrix ≤ |classes|² rows; every metric derives from re-aggregations of
    that tiny frame (broadcast joins).  The 100 TB cost is the single
    map-combinable count shuffle; nothing downstream sees data-sized rows.

    Conventions: precision with zero predicted-positives is NULL (not 0 —
    undefined, the sklearn warning case); same for recall with zero
    support; F1 NULL when either side is NULL or their sum is 0.
    """
    lab, prd = F.col(label_col), F.col(pred_col)
    conf = predictions.groupBy(
        lab.alias("__l"), prd.alias("__p")
    ).agg(F.count("*").alias("__n"))
    classes = (
        conf.select(F.col("__l").alias("class"))
        .union(conf.select("__p"))
        .distinct()
    )
    tp = conf.filter(F.col("__l") == F.col("__p")).select(
        F.col("__l").alias("class"), F.col("__n").alias("tp")
    )
    label_tot = conf.groupBy(F.col("__l").alias("class")).agg(
        F.sum("__n").alias("support")
    )
    pred_tot = conf.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__n").alias("n_pred")
    )
    m = (
        classes.join(tp, "class", "left")
        .join(label_tot, "class", "left")
        .join(pred_tot, "class", "left")
        .na.fill({"tp": 0, "support": 0, "n_pred": 0})
    )
    precision = F.when(
        F.col("n_pred") > 0, F.col("tp").cast("double") / F.col("n_pred")
    )
    recall = F.when(
        F.col("support") > 0, F.col("tp").cast("double") / F.col("support")
    )
    f1 = F.when(
        precision.isNotNull() & recall.isNotNull() & ((precision + recall) > 0),
        2 * precision * recall / (precision + recall),
    )
    return m.select(
        "class",
        F.col("support").cast("long").alias("support"),
        F.col("tp").cast("long").alias("tp"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
