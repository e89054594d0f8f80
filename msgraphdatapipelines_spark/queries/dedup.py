"""Dedup queries (north-star) over the ``documents`` table, oracle-checked.

The synthetic corpus has planted near-duplicates (word-3gram Jaccard ≥ 0.89
for planted pairs vs ≤ 0.07 background), so threshold 0.5 separates cleanly.

Oracle notes: DuckDB v1.0 lacks correlated lateral ``generate_series``; the
SQL uses the scalar-list form ``unnest(generate_series(...))`` instead.
MinHash/SimHash use md5-derived hashes so both engines compute identical
signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from . import load, load_spread, register

# shared oracle CTE: distinct word 3-grams per document
_GRAMS_SQL = """
words AS (
    SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g
    FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws)-2, 1))) AS i
          FROM words)
)
"""


def _doc_grams(spark: SparkSession, sf_dir: str, pin: bool = False) -> DataFrame:
    """One row per (doc_id, distinct word-3gram).

    ``pin=True`` eagerly localCheckpoints the exploded gram table.  r6
    finding: DON'T, in single-action queries — it A/B'd ~10% faster warm
    at sf0.1 for the 4-consumer pair pipeline, but at 100× the pinned
    variant ran >40 min where the unpinned pipeline finishes in ~8 —
    a checkpointed input is an ExistingRDD with NO column pruning, NO
    stats, and the source's partitioning frozen, so the verify join loses
    its planned shape exactly when the table is big.  Within ONE action
    Catalyst/Spark already avoid the worst duplication (identical
    aggregation subtrees reuse exchanges), and parquet re-scans are cheap
    relative to materializing n·grams wide string rows.  Pinning small
    MULTI-JOB intermediates is still right (lsh_dedup_clusters pins its
    signature table: 186 → 93 s at 100×) — the lever is table size ×
    job count, not consumer count alone.  Kept as an explicit flag so the
    finding stays executable.
    """
    # r16 OPT: scan-parallelism floor (load_spread) — the single-row-group
    # fixture file otherwise pins the gram explode + 8×md5 signature work
    # to ONE task (profiled: four ~3.4 s single-task subtree evaluations
    # in dedup_minhash_lsh; interleaved A/B medians: minhash 4.0 → 1.7 s,
    # connected_components 4.57 → 2.90 s).  No-op once the input splits.
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    grams = docs.select("doc_id", F.explode(D.word_ngrams("text", 3)).alias("g"))
    return grams.localCheckpoint(eager=True) if pin else grams


def _doc_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc with its DISTINCT word-3gram set in one ARRAY cell
    (r16 OPT) — word_ngrams already returns the distinct set, so the
    LSH family's per-doc quantities never need the explode at all:
    signatures are array_min(transform(...)) narrow maps and the Jaccard
    verify is size(array_intersect) — zero gram-keyed shuffles, zero
    n·grams-row explodes in the whole pipeline (guide §2.4)."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    return docs.select("doc_id", D.word_ngrams("text", 3).alias("_garr"))


def _pinned_minhash_sigs(docsets: DataFrame) -> DataFrame:
    """The MinHash signature table, PINNED (r16 OPT; guide §2.4 remove
    re-evaluation, §5 caching-when-reused).

    The 8×md5-per-gram signature map is the expensive subtree of the
    whole LSH family, and WITHOUT pinning it is re-evaluated once per
    physical consumer: the band self-join's two sides and every broadcast
    exchange built over ``cand``/``verified`` each re-run it from the
    scan (profiled at sf0.1: 61 s of the minhash row's 81 s total task
    time was duplicated signature evaluations across the broadcast-future
    stages).  The table is doc-count-sized — n_docs × 8 hex strings,
    ≪ corpus — so an eager localCheckpoint is bounded at any scale; same
    precedent as lsh_dedup_clusters's signature pin (186 → 93 s at the
    100× sweep).  This is the SMALL-table pin the r6 finding allows —
    pinning the gram payload (exploded rows or arrays) stays banned (see
    _doc_grams).  Interleaved A/B at sf0.1 of the pin alone (pre-array-
    native), 7 reps: dedup_minhash_lsh median 2.92 → 2.11 s."""
    sigs = D.minhash_signatures_arrays(
        docsets, "doc_id", "_garr", num_hashes=8, hash_fn="md5"
    )
    return sigs.localCheckpoint(eager=True)


@register(
    "dedup_exact",
    oracle="""
    WITH d2 AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
    SELECT text,
           arg_min(doc_id, doc_id) AS doc_id,
           arg_min(lang, doc_id) AS lang,
           arg_min(source, doc_id) AS source,
           arg_min(n_chars, doc_id) AS n_chars,
           count(*) AS n_copies
    FROM d2
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic first-wins representative
    (operators.dedup.exact_dedup): the corpus is unioned with itself so the
    operator provably collapses copies (n_copies = 2·k).  One hash
    aggregation with map-side combine — the O(n) scale path."""
    docs = load(spark, sf_dir, "documents")
    doubled = docs.unionAll(docs)
    return D.exact_dedup(doubled, keys=["text"], order_cols=["doc_id"])


@register(
    "dedup_ngram_jaccard",
    demoted=True,  # quadratic verify baseline; LSH row covers jaccard_verify
    oracle=f"""
    WITH {_GRAMS_SQL},
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3gram Jaccard near-dup pairs, computed relationally: the
    intersection join only meets docs sharing a gram, so cost is driven by
    gram frequency, not n² (the exact-verification building block that
    LSH narrows further)."""
    grams = _doc_grams(spark, sf_dir)
    ga = grams.select(F.col("doc_id").alias("id_a"), "g")
    gb = grams.select(F.col("doc_id").alias("id_b"), "g")
    pairs = (
        ga.join(gb, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def _lsh_verify_ctes(num_hashes: int = 8, bands: int = 4) -> str:
    """Shared oracle CTE chain: grams → minhash sigs → LSH bands →
    candidate pairs → exact Jaccard, ending in a ``verified`` CTE with
    (id_a, id_b, jaccard) — reused by the pair query AND the
    connected-components closure on top of it."""
    rpb = num_hashes // bands
    mh_exprs = ",\n           ".join(
        f"min(md5('{s}|' || g)) AS mh{s}" for s in range(num_hashes)
    )
    band_selects = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""{_GRAMS_SQL},
    sigs AS (
        SELECT doc_id,
           {mh_exprs}
        FROM grams GROUP BY doc_id
    ),
    banded AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS i
        FROM cand c
        JOIN grams ga ON ga.doc_id = c.id_a
        JOIN grams gb ON gb.doc_id = c.id_b AND gb.g = ga.g
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT id_a, id_b,
               CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    )"""


def _minhash_oracle(num_hashes: int = 8, bands: int = 4, threshold: float = 0.5) -> str:
    return f"""
    WITH {_lsh_verify_ctes(num_hashes, bands)}
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard
    FROM verified
    WHERE jaccard >= {threshold}
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 hashes) + LSH banding (4 bands × 2) + exact Jaccard verify —
    the sub-quadratic fuzzy-dedup scale path (operators.dedup).  Candidate
    pairs come only from band-bucket collisions; the expensive gram join runs
    on candidates, not all pairs.  md5-seeded hashes keep the oracle
    bit-identical."""
    docsets = _doc_sets(spark, sf_dir)  # r16 OPT: array-native, see _doc_sets
    sigs = _pinned_minhash_sigs(docsets)
    cand = D.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=4)
    return D.jaccard_verify_arrays(docsets, cand, "doc_id", "_garr", threshold=0.5)


def _minhash_representatives_oracle(num_hashes: int = 8, bands: int = 4) -> str:
    rpb = num_hashes // bands
    mh_exprs = ",\n           ".join(
        f"min(md5('{s}|' || g)) AS mh{s}" for s in range(num_hashes)
    )
    band_selects = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""
    WITH {_GRAMS_SQL},
    sigs AS (
        SELECT doc_id,
           {mh_exprs}
        FROM grams GROUP BY doc_id
    ),
    banded AS (
        {band_selects}
    ),
    bucket_min AS (
        SELECT band, bh, min(doc_id) AS bmin FROM banded GROUP BY band, bh
    )
    SELECT b.doc_id, min(m.bmin) AS rep_id, (b.doc_id = min(m.bmin)) AS kept
    FROM banded b JOIN bucket_min m ON b.band = m.band AND b.bh = m.bh
    GROUP BY b.doc_id
    """


@register(
    "dedup_minhash_representatives",
    # r12: demoted in the rotation that promoted dedup_canonical_by_quality
    # (same family, strictly richer policy: closure + quality argmax vs
    # min-id representative); dedup_minhash_lsh stays driver-graded
    demoted=True,
    oracle=_minhash_representatives_oracle(),
)
def dedup_minhash_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(n) near-dup representative selection (r4, found by the 100× sweep):
    the pair-emitting dedup_minhash_lsh is output-bound Θ(m²) per m-member
    cluster — 220× wall at 100× data on a 100-replica corpus — so the
    production path for mass-duplication corpora selects one representative
    per approximate cluster WITHOUT materializing pairs: per-(band, bucket)
    min id, then per-doc min over its buckets; keep iff own representative.
    Two map-combinable hash shuffles regardless of duplication regime
    (operators.dedup.lsh_dedup_representatives; 100× measurement in
    PERF.md).  r17 (r16 VERDICT item 9): signatures via the array-native
    operator like the graded family — the exploded reference operator
    stays the equivalence baseline under
    test_array_native_minhash_equals_exploded_path."""
    sigs = D.minhash_signatures_arrays(
        _doc_sets(spark, sf_dir), "doc_id", "_garr", num_hashes=8, hash_fn="md5"
    )
    return D.lsh_dedup_representatives(sigs, "doc_id", num_hashes=8, bands=4)


def _connected_components_oracle(threshold: float = 0.5) -> str:
    """Transitive closure over the verified LSH pair graph via a recursive
    CTE: ``reach(id, lab)`` holds every (node, label-that-reaches-it) pair;
    the component id is the MIN reachable label (= min node id of the
    component, since near-dup edges are symmetric)."""
    return f"""
    WITH RECURSIVE {_lsh_verify_ctes()},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM verified WHERE jaccard >= {threshold}
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM verified WHERE jaccard >= {threshold}
    ),
    reach(id, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id)
    SELECT doc_id, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_n,
           (doc_id = component) AS kept
    FROM comp
    """


@register("dedup_connected_components", oracle=_connected_components_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup clustering (r6): transitive closure of the verified
    MinHash-LSH pair graph via iterative min-label propagation
    (operators.dedup.connected_components) — cluster = connected component,
    component id = min doc_id, kept iff own representative.

    Closes the single-step approximation the representative passes document
    (a chain a~b~c with no shared a,c bucket stays two clusters there;
    here it converges to one).  Scale shape: per round one edge⋈label join
    + one min-agg, both keyed on the doc id; rounds ≤ component diameter
    (near-dup graphs: 1-3); lineage truncated per round with eager
    localCheckpoint.  The oracle reproduces the closure with a recursive
    CTE — fully SQL-expressible, value-hash-checked.

    Cost contract (100× sweep, PERF.md): the EDGE LIST here is the
    verified pair set — Θ(m²) per m-member cluster, so this row is
    output-bound on mass-duplication corpora (117× wall at 100× on the
    100-replica corpus), same class as dedup_minhash_lsh; it is the
    AUDIT/exact-threshold formulation.  Production closure at scale is
    dedup_lsh_clusters (star edges, Θ(n·bands) in every regime, provably
    identical components to the bucket-sharing graph)."""
    docsets = _doc_sets(spark, sf_dir)  # r16 OPT: array-native, see _doc_sets
    sigs = _pinned_minhash_sigs(docsets)
    cand = D.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=4)
    verified = D.jaccard_verify_arrays(docsets, cand, "doc_id", "_garr", threshold=0.5)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    comp = D.connected_components(
        docs, verified.select("id_a", "id_b"), id_col="doc_id"
    )
    w = Window.partitionBy("component")
    return comp.select(
        "doc_id",
        "component",
        F.count("*").over(w).cast("long").alias("cluster_n"),
        (F.col("doc_id") == F.col("component")).alias("kept"),
    )


def _lsh_clusters_oracle(num_hashes: int = 8, bands: int = 4) -> str:
    """Recursive closure over the STAR edges (doc ↔ bucket min) — the
    linear-edge production clustering path."""
    rpb = num_hashes // bands
    mh_exprs = ",\n           ".join(
        f"min(md5('{s}|' || g)) AS mh{s}" for s in range(num_hashes)
    )
    band_selects = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""
    WITH RECURSIVE {_GRAMS_SQL},
    sigs AS (
        SELECT doc_id,
           {mh_exprs}
        FROM grams GROUP BY doc_id
    ),
    banded AS (
        {band_selects}
    ),
    bucket_min AS (
        SELECT band, bh, min(doc_id) AS bmin FROM banded GROUP BY band, bh
    ),
    star AS (
        SELECT DISTINCT b.doc_id AS id_a, m.bmin AS id_b
        FROM banded b JOIN bucket_min m ON b.band = m.band AND b.bh = m.bh
        WHERE b.doc_id <> m.bmin
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM star
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM star
    ),
    reach(id, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, min(lab) AS component, (id = min(lab)) AS kept
    FROM reach GROUP BY id
    """


@register("dedup_lsh_clusters", demoted=True, oracle=_lsh_clusters_oracle())
def dedup_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-scale exact clustering (r6): transitive closure over the
    LSH bucket STAR graph (operators.dedup.lsh_dedup_clusters) — Θ(n·bands)
    edges in every duplication regime, versus the verified-pair closure's
    Θ(m²) per cluster (driver-graded dedup_connected_components documents
    that cost).  Same fixpoint semantics: chained bucket-sharing docs
    collapse into one cluster.  Demoted-oracle row (recursive CTE over the
    star edges); the verified-pair closure carries the driver grade.
    r17 (r16 VERDICT item 9): array-native signatures like the graded
    family; the exploded operator stays the pinned equivalence baseline."""
    sigs = D.minhash_signatures_arrays(
        _doc_sets(spark, sf_dir), "doc_id", "_garr", num_hashes=8, hash_fn="md5"
    )
    return D.lsh_dedup_clusters(sigs, "doc_id", num_hashes=8, bands=4)


def _simhash_oracle(num_bits: int = 16) -> str:
    sums = ",\n           ".join(
        f"sum(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), {b + 1}, 1)) - 1) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS s{b}"
        for b in range(num_bits)
    )
    bits = ", ".join(f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(num_bits))
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS tok
        FROM documents
    ),
    sums AS (
        SELECT doc_id,
           {sums}
        FROM toks GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, concat({bits}) AS simhash FROM sums)
    SELECT doc_id, simhash,
           CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS bucket_n
    FROM sigs
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit, md5-digit bit family, token-frequency weighted) +
    bucket sizes: equal signatures = near-dup candidates in O(n).  The
    signature is one aggregation over exploded tokens; bucketing is a window
    count on the signature."""
    # r16 OPT: scan-parallelism floor — the 16 per-token md5-digit bit
    # extractions otherwise run in the single scan task (load_spread
    # docstring; no-op at real input sizes)
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    # raw split (not word_ngrams, which dedupes) — keep token-frequency weights
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("tok"),
    )
    sigs = D.simhash(toks, "doc_id", "tok", num_bits=16)
    w = Window.partitionBy("simhash")
    return sigs.select("doc_id", "simhash", F.count("*").over(w).cast("long").alias("bucket_n"))


def _emb_dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Left-associated inline double dot product — same IEEE accumulation
    order as operators.similarity.seq_dot."""
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(1, dim + 1)
    )


def _emb_bucket_sql() -> str:
    from .similarity import _bucket_expr

    return _bucket_expr("embedding", num_planes=8)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, {_emb_bucket_sql()} AS bucket FROM embeddings
               WHERE sqrt({_emb_dot_sql('embedding', 'embedding')}) > 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(({_emb_dot_sql('a.embedding', 'b.embedding')})
                 / (sqrt({_emb_dot_sql('a.embedding', 'a.embedding')})
                    * sqrt({_emb_dot_sql('b.embedding', 'b.embedding')})), 6) AS cosine
    FROM e a
    JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ({_emb_dot_sql('a.embedding', 'b.embedding')})
          / (sqrt({_emb_dot_sql('a.embedding', 'a.embedding')})
             * sqrt({_emb_dot_sql('b.embedding', 'b.embedding')})) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.4 within an LSH blocking bucket
    (8 random hyperplanes → ~256 buckets, operators.similarity).

    This is the actual 100 TB blocking key, not a stand-in: bucketing is a
    narrow map, the self-join shuffles on the bucket only, and candidate
    pairs scale with bucket density (~n²/2^planes), not n² — r1's label
    blocking went ~100× super-linear on a 10× replicated corpus because
    block sizes grow with the data (PERF.md scaling table).  High-cosine
    pairs agree on most hyperplane signs, so near-dup recall stays high;
    cross-bucket misses are the documented LSH approximation (probe more
    bands/planes to trade cost for recall — see ann_lsh_multiprobe)."""
    from ..operators.similarity import hyperplane_bucket, seq_dot

    v = F.col("embedding").cast("array<double>")
    # per-row norm + bucket precomputed (narrow map): pair scoring costs one
    # dot; zero-norm vectors dropped on BOTH engine and oracle sides (NaN
    # comparison semantics differ cross-engine — same guard as the ANN ops)
    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            v.alias("v"),
            F.sqrt(seq_dot(v, v)).alias("n"),
            hyperplane_bucket(F.col("embedding"), num_planes=8, dim=64).alias("bucket"),
        )
        .filter(F.col("n") > 0)
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("bucket").alias("ba"),
        F.col("v").alias("va"), F.col("n").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("bucket").alias("bb"),
        F.col("v").alias("vb"), F.col("n").alias("nb"),
    )
    cos = seq_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("_cos", cos)  # materialize once; filter + round reference it
        .filter(F.col("_cos") >= 0.4)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
    )


@register(
    "dedup_embedding_representatives",
    demoted=True,  # representative machinery graded via dedup_canonical_by_quality (r12), embedding dedup via dedup_embedding_cosine
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, {_emb_bucket_sql()} AS bucket FROM embeddings),
    m AS (SELECT bucket, vec_id AS mid, embedding AS memb
          FROM (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
                FROM e) t
          WHERE rn = 1),
    j AS (
        SELECT e.vec_id, m.mid,
               ({_emb_dot_sql('e.embedding', 'memb')})
               / (sqrt({_emb_dot_sql('e.embedding', 'e.embedding')})
                  * sqrt({_emb_dot_sql('memb', 'memb')})) AS cos
        FROM e JOIN m USING (bucket)
    )
    SELECT vec_id,
           CASE WHEN vec_id <> mid AND NOT isnan(cos) AND cos >= 0.4
                THEN mid ELSE vec_id END AS rep_id,
           round(cos, 6) AS cosine_to_rep,
           NOT (vec_id <> mid AND NOT isnan(cos) AND cos >= 0.4) AS kept
    FROM j
    """,
)
def dedup_embedding_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(n) embedding near-dup representative selection (r4 — the
    no-pair-materialization counterpart of dedup_minhash_representatives
    for the vector family): each vector collapses into its LSH bucket's
    min-id vector when cosine ≥ 0.4.  The bucket-min table is ≤ 2^planes
    rows, so the join BROADCASTS — narrow bucket map + broadcast join +
    one cosine per row; the only shuffle is the tiny bucket-min agg.
    Single-step approximation contract and 100× rationale in PERF.md."""
    from ..operators.similarity import embedding_dedup_representatives

    emb = load(spark, sf_dir, "embeddings")
    return embedding_dedup_representatives(
        emb, "vec_id", "embedding", threshold=0.4, num_planes=8, dim=64
    )


@register(
    "contamination_check",
    oracle=f"""
    WITH {_GRAMS_SQL},
    split AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '3' AS is_eval
        FROM documents
    ),
    eg AS (SELECT g, grams.doc_id FROM grams JOIN split USING (doc_id) WHERE is_eval),
    tg AS (SELECT DISTINCT g FROM grams JOIN split USING (doc_id) WHERE NOT is_eval),
    hits AS (
        SELECT eg.doc_id, count(*) AS n_shared_grams
        FROM eg JOIN tg USING (g)
        GROUP BY eg.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id)
    SELECT s.doc_id,
           coalesce(h.n_shared_grams, 0) AS n_shared_grams,
           z.n_grams,
           round(CAST(coalesce(h.n_shared_grams, 0) AS DOUBLE) / z.n_grams, 6)
               AS contamination_ratio,
           coalesce(h.n_shared_grams, 0) > 0 AS contaminated
    FROM split s
    JOIN sizes z USING (doc_id)
    LEFT JOIN hits h USING (doc_id)
    WHERE s.is_eval
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check (r4) — the decontamination staple of
    LLM data pipelines: split the corpus deterministically (md5(doc_id)
    prefix → ~19% eval), then flag every eval document sharing any word
    3-gram with the train side, with the shared-gram ratio as the
    contamination score.

    Scale shape (r17 OPT — the r16 VERDICT/ADVICE fat-gram fix): TWO
    lanes, selected by measured input size (the load_spread /
    suggest_state_partitions pattern: adapt the plan to scale instead of
    pinning either extreme).

    - Below ``_CONTAM_ARRAY_SAFE_BYTES`` the r16 ONE-PASS runs: one
      gram-keyed aggregation collecting each gram's eval posting list +
      a has-train flag, then one doc-keyed agg over the exploded
      membership.  Its per-gram array is bounded by n_eval_docs × 8 B —
      provably tiny at fixture sizes (sf0.1: ≤19k ids ≈ 150 KB worst
      case) — and it is the measured fixture winner by >2× (interleaved
      A/B medians at sf0.1: one-pass 0.90 s vs flag-semi-join 2.0-2.7 s
      across broadcast/shuffle-hash/merge variants vs window-flag
      2.30 s — the alternatives all pay a second gram-keyed data
      movement).
    - At or above the bound — where a boilerplate gram's posting list
      could be a multi-GB single aggregation cell (the r16 ADVICE OOM
      exposure) — the memory-safe FLAG-JOIN lane runs: eval membership
      rows LEFT-SEMI-join the distinct train gram set and the per-doc
      count falls out of one doc-keyed agg.  No per-gram state anywhere:
      a fat gram is collapsed by the train-side distinct's map-side
      partial, and on the eval side it is an oversized JOIN partition,
      which AQE's skew-join split handles (splittable precisely because
      the per-key build side is one row).  ``n_grams`` is ``size(_garr)``
      and the split flag derives from doc_id inline, so neither lane
      needs a third gram evaluation or a grams⋈split join.

    Lane equality (including a synthetic every-doc fat gram) is pinned by
    tests/test_operators.py::test_contamination_lanes_agree."""
    import os as _os

    try:
        sz = _os.path.getsize(_os.path.join(sf_dir, "documents.parquet"))
    except OSError:
        sz = _CONTAM_ARRAY_SAFE_BYTES  # unknown size: take the safe lane
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    return _contamination_from_docs(docs, one_pass=sz < _CONTAM_ARRAY_SAFE_BYTES)


# One-pass lane bound: with ~1 KB/doc corpora the worst-case per-gram
# eval posting list is (input_bytes / 1 KB) × 19% × 8 B ≈ input/658 —
# 1 GiB of input caps a cell at ~1.6 MB, far under any task budget, while
# 100 TB would allow ~150 GB cells, which is the ADVICE OOM exposure the
# flag-join lane removes.
_CONTAM_ARRAY_SAFE_BYTES = 1 << 30


def _contamination_from_docs(docs: DataFrame, one_pass: bool) -> DataFrame:
    """Both contamination lanes over a (doc_id, text) document table —
    see :func:`contamination_check` for the selection rationale.  Every
    doc has ≥1 gram (word_ngrams pads empty token lists like the oracle's
    ``greatest(len-2, 1)``), so the eval membership rows cover the full
    eval universe and ``n_grams`` equals the per-doc membership count.

    The grams explode the ``word_ngrams`` EXPRESSION directly rather than
    a pre-projected array column: Catalyst's InferFiltersFromGenerate adds
    a ``size(child) > 0`` filter under a Generate whose child is a plain
    attribute, and pushing that filter below the defining Project
    substitutes the full ngram expression into it — evaluating the
    expensive gram computation TWICE per row (measured 1.06 → 2.46 s at
    sf0.1).  The rule skips non-attribute generator children, so the
    direct-explode form runs the expression once."""
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "3"
    garr = D.word_ngrams("text", 3)

    def _project(per_doc: DataFrame) -> DataFrame:
        return per_doc.select(
            "doc_id",
            F.coalesce(F.col("_shared"), F.lit(0)).cast("long").alias("n_shared_grams"),
            "n_grams",
            F.round(
                F.coalesce(F.col("_shared"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("contamination_ratio"),
            (F.coalesce(F.col("_shared"), F.lit(0)) > 0).alias("contaminated"),
        )

    if one_pass:
        mem = docs.select(
            "doc_id", is_eval.alias("_is_eval"), F.explode(garr).alias("g")
        )
        per_gram = mem.groupBy("g").agg(
            F.collect_set(F.when(F.col("_is_eval"), F.col("doc_id"))).alias("_eval_ids"),
            F.max(F.when(~F.col("_is_eval"), F.lit(1)).otherwise(F.lit(0))).alias(
                "_has_train"
            ),
        )
        per_doc = (
            per_gram.select(F.explode("_eval_ids").alias("doc_id"), "_has_train")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum("_has_train").alias("_shared"),
            )
        )
        return _project(per_doc)

    eval_docs = docs.filter(is_eval)
    eval_mem = eval_docs.select("doc_id", F.explode(garr).alias("g"))
    train_grams = (
        docs.filter(~is_eval).select(F.explode(garr).alias("g")).distinct()
    )
    shared = (
        eval_mem.join(train_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    # the semi join drops zero-shared docs, so the universe + n_grams come
    # from a sizes branch (one extra ngram map over the ~19% eval side; no
    # shuffle — the at-scale lane trades that map work for bounded memory)
    sizes = eval_docs.select(
        "doc_id", F.size(garr).cast("long").alias("n_grams")
    )
    return _project(sizes.join(shared, "doc_id", "left"))


# --- r11: the STANDING PREFIX-GRAM INDEX (r10 VERDICT item 3) ---------------
# The lexicon discipline applied to the PPJoin: the only corpus-sized work
# in the exact-recall join is building the gram-frequency-ordered sets and
# their prefix rows.  Persist both once per (corpus, n, τ) and every later
# join — repeat compliance audits, contamination sweeps against the same
# corpus — is a pure serve: narrow prefix self-join + verify, zero
# corpus-sized aggregation in the plan.


def prefix_index_root(sf_dir: str, n: int, threshold: float, variant: str = "full") -> str:
    """Deterministic artifact location keyed on corpus identity (path +
    documents.parquet size/mtime fingerprint) + the gram/threshold
    parameters — a regenerated corpus or different τ can never serve a
    stale table."""
    import hashlib
    import os
    import tempfile

    p = os.path.join(sf_dir, "documents.parquet")
    parts = []
    if os.path.isdir(p):
        for root_, _, files in sorted(os.walk(p)):
            for fn in sorted(files):
                st = os.stat(os.path.join(root_, fn))
                parts.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(p)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{'|'.join(parts)}|ppj|n={n}|t={threshold}|{variant}|v3".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"msgdp_ppj_{key}")


# ---------------------------------------------------------------------------
# Generational publish protocol for the standing prefix-gram index (r12).
#
# r11 shipped the index with direct mode("overwrite") table writes before the
# _ready marker (build) and three sequential per-table renames (compact) —
# both let a crash or a concurrent writer expose a NEW-order vocab over
# OLD-order sets/prefixes, silently breaking the prefix-filter
# zero-false-negative guarantee.  r12 makes every transition one atomic
# commit:
#
#   root/
#     _ready                    # back-compat "index exists" signal
#     gen-000042-<uid>/         # one GENERATION = one immutable vocab order
#       _commit                 #   live iff this marker exists (single rename)
#       vocab/ sets/ prefixes/  #   base tables, written staged then renamed
#       sets/batch_<bid>/ ...   #   O(delta) appends under the frozen order
#       _folded/<bid>           #   manifest: bids compacted into this base
#     _compacting.<uid>         # compaction lease (fences in-flight appends)
#
# Readers resolve the MAX committed generation; compact writes a brand-new
# generation and commits it with one marker — a crash anywhere leaves the
# previous generation fully live, and a reader can never observe vocab and
# prefixes from different orders.  The _folded manifest keeps
# prefix_index_append replay-idempotent across compaction (a folded bid is
# treated as already-published); the lease + post-publish generation re-check
# close the append-vs-compact race in both directions.
# ---------------------------------------------------------------------------

# r13 (r12 VERDICT item 3): the protocol primitives moved to the shared
# ``genstore`` module — ONE commit discipline for every standing store
# (prefix-gram index here, the BM25 lexicon, the ANN rebalance path).
# These thin wrappers keep this module's historical names AND read
# ``_LEASE_TTL_S`` at call time so tests can monkeypatch the TTL.
from .. import genstore as _gs

_GEN_RE = _gs.GEN_RE
_LEASE_TTL_S = _gs.LEASE_TTL_S


def _marker_commit(fs, hpath, path: str) -> None:
    _gs.marker_commit(fs, hpath, path)


def _committed_gens(fs, hpath, root: str) -> list[str]:
    return _gs.committed_gens(fs, hpath, root)


def prefix_index_current_gen(spark: SparkSession, root: str) -> str | None:
    """Path of the live (max committed) generation, or None pre-build."""
    from .. import sinks

    fs, _, jvm = sinks._fs_for(spark, root)
    return _gs.current_gen(fs, jvm.org.apache.hadoop.fs.Path, root)


def _live_leases(fs, hpath, root: str) -> list[str]:
    return _gs.live_leases(fs, hpath, root, ttl_s=_LEASE_TTL_S)


def _wait_leases_clear(fs, hpath, root: str, timeout_s: float | None = None) -> None:
    _gs.wait_leases_clear(fs, hpath, root, timeout_s=timeout_s, ttl_s=_LEASE_TTL_S)


def _write_gen_tables(spark: SparkSession, grams: DataFrame, threshold: float, stage: str) -> None:
    """vocab/sets/prefixes under ``stage`` — the only corpus-sized aggs
    in the algorithm.  Prefix rows cluster by their join key so the
    self-join reads co-partitioned row groups."""
    vocab = grams.groupBy("g").agg(F.count("*").alias("__df"))
    vocab.write.parquet(f"{stage}/vocab")
    sets, prefixes = D.set_similarity_prefix_tables(
        grams, "doc_id", "g", threshold, vocab=spark.read.parquet(f"{stage}/vocab")
    )
    sets.write.parquet(f"{stage}/sets")
    prefixes.repartition(F.col("__pg")).sortWithinPartitions("__pg").write.parquet(
        f"{stage}/prefixes"
    )


def prefix_index_build(
    spark: SparkSession, root: str, docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> str:
    """Staged, atomically-committed base build (the cache.serve_cached
    staging discipline): tables are written under a uuid staging root,
    renamed into a gen-000000 directory, and committed by the ``_commit``
    marker — two concurrent builders each commit an identical generation
    and the max name wins deterministically; neither can interleave
    overwrites into the other's tables.  Returns the live gen path."""
    import uuid

    from .. import sinks

    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    gens = _committed_gens(fs, hpath, root)
    if not gens:
        grams = docs.select(
            "doc_id", F.explode(D.word_ngrams(F.lower(F.col("text")), n)).alias("g")
        )
        stage = f"{root}/stage.{uuid.uuid4().hex[:8]}"
        _write_gen_tables(spark, grams, threshold, stage)
        fs.mkdirs(hpath(f"{stage}/_folded"))
        if _committed_gens(fs, hpath, root):
            fs.delete(hpath(stage), True)  # race loser: discard staging
        else:
            gen = f"{root}/gen-000000-{uuid.uuid4().hex[:8]}"
            fs.rename(hpath(stage), hpath(gen))
            _marker_commit(fs, hpath, f"{gen}/_commit")
        _marker_commit(fs, hpath, f"{root}/_ready")
    return prefix_index_current_gen(spark, root)


def ensure_prefix_gram_index(
    spark: SparkSession, sf_dir: str, n: int = 3, threshold: float = 0.5
) -> str:
    """Build-at-most-once prefix-gram artifact for a corpus directory:
    first touch pays the two corpus-sized aggs the direct path pays
    anyway, plus one staged artifact write; every later call resolves the
    committed generation and returns immediately."""
    root = prefix_index_root(sf_dir, n, threshold)
    if prefix_index_current_gen(spark, root) is None:
        prefix_index_build(
            spark, root, load(spark, sf_dir, "documents"), n=n, threshold=threshold
        )
    return root


def read_prefix_index(spark: SparkSession, root: str) -> tuple[DataFrame, DataFrame]:
    """(sets, prefixes) from the live generation — recursive lookup so
    batch subdirectories published by ``prefix_index_append`` are
    included.  Generations are immutable once committed (compact writes a
    NEW one), so a plan built here can never see a torn vocab order."""
    gen = prefix_index_current_gen(spark, root)
    if gen is None:
        raise FileNotFoundError(f"no committed prefix-gram generation under {root}")
    sets = spark.read.option("recursiveFileLookup", "true").parquet(f"{gen}/sets")
    prefixes = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{gen}/prefixes"
    )
    return sets, prefixes


def _publish_batch(
    spark: SparkSession,
    fs,
    hpath,
    root: str,
    gen: str,
    docs: DataFrame,
    n: int,
    threshold: float,
    bid: str,
) -> None:
    """The publish step of prefix_index_append in isolation: stage the
    batch's tables under ``gen``'s frozen vocab and rename them into the
    batch subdirs (exists-wins, so replays/racers no-op).  No lease wait,
    no generation re-check — callers (and the compact race tests, which
    use this to model an appender paused before its post-check) own
    those."""
    import uuid

    dst_sets = hpath(f"{gen}/sets/batch_{bid}")
    dst_pref = hpath(f"{gen}/prefixes/batch_{bid}")
    if fs.exists(hpath(f"{gen}/_folded/{bid}")):
        return  # compacted into this generation's base already
    if fs.exists(dst_sets) and fs.exists(dst_pref):
        return  # replay of a fully-published batch
    vocab = spark.read.parquet(f"{gen}/vocab")
    grams = docs.select(
        "doc_id", F.explode(D.word_ngrams(F.lower(F.col("text")), n)).alias("g")
    )
    sets, prefixes = D.set_similarity_prefix_tables(
        grams, "doc_id", "g", threshold, vocab=vocab
    )
    stage = f"{root}/stage.{uuid.uuid4().hex[:8]}.{bid}"
    sets.write.parquet(f"{stage}/sets")
    prefixes.repartition(F.col("__pg")).sortWithinPartitions("__pg").write.parquet(
        f"{stage}/prefixes"
    )
    if fs.exists(dst_sets) or not fs.rename(hpath(f"{stage}/sets"), dst_sets):
        pass  # racer/replayer already published this half
    if fs.exists(dst_pref) or not fs.rename(hpath(f"{stage}/prefixes"), dst_pref):
        pass
    fs.delete(hpath(stage), True)


def prefix_index_append(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    bid: str | None = None,
) -> str:
    """O(delta) maintenance for the prefix-gram artifact (r11): build the
    batch's sets/prefix rows under the live generation's FROZEN vocab
    order (exactness argument in set_similarity_prefix_tables) and
    publish them as atomically-renamed batch subdirectories.

    ``bid`` names the batch; passing a DETERMINISTIC id (e.g. the
    streaming micro-batch id) makes the append IDEMPOTENT under replay —
    a batch directory that already exists wins, a bid recorded in the
    generation's ``_folded`` manifest (compacted away) is treated as
    already-published, and the replayer's staging copy is discarded.

    Compact fencing (r12): after publishing, re-check the live
    generation; if a compact committed meanwhile (possibly without seeing
    this batch), wait out its lease and republish into the new generation
    — where the manifest/batch-dir checks make the republish a no-op
    whenever the compactor's straggler pass already folded us.

    Crash semantics: the staged dirs rename one table at a time; a crash
    between the two renames leaves a half-published batch whose docs are
    INVISIBLE in results (candidates and the verify both INNER-join the
    other table), never wrong — re-append the batch under the SAME bid
    and the missing half publishes.  Append-only contract (the
    lexicon's): a re-ingested doc_id is the caller's upsert problem."""
    import uuid

    from .. import sinks

    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    bid = bid or uuid.uuid4().hex[:12]
    for _ in range(6):
        gen = prefix_index_current_gen(spark, root)
        if gen is None:
            raise FileNotFoundError(f"append before build: no generation at {root}")
        _publish_batch(spark, fs, hpath, root, gen, docs, n, threshold, bid)
        _wait_leases_clear(fs, hpath, root)
        if prefix_index_current_gen(spark, root) == gen:
            return bid
        # a compact committed while we were publishing: loop and republish
        # into the new generation (no-op if its straggler pass folded us)
    raise RuntimeError(f"prefix_index_append({bid}): generation kept moving")


_TRIGRAM_PPJOIN_ORACLE = """
    WITH words AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws)-2, 1))) AS i
              FROM words)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
        SELECT ga.doc_id AS id_a, gb.doc_id AS id_b, count(*) AS cnt
        FROM grams ga JOIN grams gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.cnt AS DOUBLE) / (sa.n + sb.n - i.cnt), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.id_a
    JOIN sz sb ON sb.doc_id = i.id_b
    WHERE CAST(i.cnt AS DOUBLE) / (sa.n + sb.n - i.cnt) >= 0.5
"""


@register(
    "set_similarity_join_docs",
    # r8: PROMOTED to driver-graded (r7 VERDICT item 9) — the exact-recall
    # PPJoin flagship now graded at sf0.01; set_ops_customers demoted in trade.
    # r11: SERVED from the standing prefix-gram artifact (r10 VERDICT item 3)
    # — oracle unchanged, first touch builds, every later run is pure serve.
    # r13: DEMOTED in trade for the bucketed twin — the driver now grades the
    # shuffle-eliminated serve plan; this plain-path row keeps the identical
    # oracle under the demoted gate.
    demoted=True,
    oracle=_TRIGRAM_PPJOIN_ORACLE,
)
def set_similarity_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-recall set-similarity self-join (r7): all document pairs with
    word-TRIGRAM Jaccard ≥ 0.5, candidates generated by prefix filtering
    with the PPJoin positional bound instead of LSH bands — provably zero
    false negatives, so the QUADRATIC DuckDB oracle matches exactly (the
    oracle equality IS the loss-lessness proof at fixture scale).

    The dedup blocking ladder's compliance rung: LSH bands trade recall
    for cost and need a tuned band/row grid; prefix filtering guarantees
    recall and pays with corpus-sensitive candidate counts — rarest-first
    global ordering (document frequency asc, gram asc) keeps hot grams
    out of prefixes, the published AllPairs mitigation.  TRIGRAM shingles
    are the measured choice for this templated fixture: its closed bigram
    vocabulary (931 grams at sf0.1) kept 44% of all pairs as candidates,
    trigrams (27k grams) keep 2.5% (operator docstring caveat; PERF.md).

    r11: served from the standing prefix-gram artifact — first touch
    builds (gram-frequency agg → sorted-set agg → prefix explode →
    persist), every later run reads the narrow prefix table, self-joins
    it with length + positional pruning, and verifies via two
    doc-count-sized array joins: ZERO corpus-sized aggregation in the
    serve plan."""
    root = ensure_prefix_gram_index(spark, sf_dir, n=3, threshold=0.5)
    sets, prefixes = read_prefix_index(spark, root)
    return D.set_similarity_join_from_tables(
        sets, prefixes, "doc_id", 0.5, max_df=_setsim_max_df()
    )


@register(
    "set_similarity_join_docs_bigram_capped",
    demoted=True,  # dedup family driver-graded via dedup_minhash_lsh / ngram_jaccard
    oracle="""
    WITH words AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+1], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws)-1, 1))) AS i
              FROM words)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
        SELECT ga.doc_id AS id_a, gb.doc_id AS id_b, count(*) AS cnt
        FROM grams ga JOIN grams gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.cnt AS DOUBLE) / (sa.n + sb.n - i.cnt), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.id_a
    JOIN sz sb ON sb.doc_id = i.id_b
    WHERE CAST(i.cnt AS DOUBLE) / (sa.n + sb.n - i.cnt) >= 0.5
    """,
)
def set_similarity_join_docs_bigram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 (r7 VERDICT item 7): the MEASURED degenerate configuration —
    word-BIGRAM shingles over this closed-vocabulary corpus (the config
    whose prefix join kept 44% of all pairs at sf0.1) — run with the
    ``max_df`` stop-gram guard: prefix occurrences of grams above the df
    cap bypass the df² self-join and go through the exact within-group
    ``applyInPandas`` fallback, which evaluates the same length +
    positional bounds group-locally and emits only surviving pairs.  The
    QUADRATIC DuckDB oracle equality proves the guard kept exact recall (r11:
    also served from its own (n=2) standing prefix-gram artifact — max_df
    routing happens at CANDIDATE time from the artifact's __pdf keys, so the
    serve skips the same two corpus-sized aggs the trigram row skips)
    (zero false negatives) on the exact corpus shape that defeats plain
    prefix filtering; the shuffle now carries O(df) member rows per fat
    gram instead of O(df²) joined candidates."""
    root = ensure_prefix_gram_index(spark, sf_dir, n=2, threshold=0.5)
    sets, prefixes = read_prefix_index(spark, root)
    return D.set_similarity_join_from_tables(sets, prefixes, "doc_id", 0.5, max_df=25)

def _ensure_incremental_prefix_index(
    spark: SparkSession, sf_dir: str, split_frac: float = 0.8
) -> str:
    """The incremental-maintenance rehearsal artifact: build the prefix
    index on the FIRST ~split_frac of documents, then append the rest
    through prefix_index_append (frozen vocab order).  ONE end-to-end
    marker commits build+append together, so a torn state can never
    serve a half-appended index (and a re-run can never double-append)."""
    from .. import sinks

    root = prefix_index_root(sf_dir, 3, 0.5, variant="inc")
    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    marker = f"{root}/_inc_ready"
    if not fs.exists(hpath(marker)):
        docs = load(spark, sf_dir, "documents")
        cut = docs.selectExpr(
            f"percentile_approx(doc_id, {split_frac}, 10000) AS c"
        ).first()["c"]
        base = docs.filter(F.col("doc_id") <= cut)
        rest = docs.filter(F.col("doc_id") > cut)
        # both steps are individually idempotent/crash-safe under the r12
        # generational protocol (build commits once; append under a
        # DETERMINISTIC bid replays as a no-op), so a torn previous
        # attempt resumes instead of restarting
        prefix_index_build(spark, root, base, n=3, threshold=0.5)
        prefix_index_append(spark, root, rest, n=3, threshold=0.5, bid="inc0")
        _marker_commit(fs, hpath, marker)
    return root


@register(
    "set_similarity_join_docs_incremental",
    # r12: PROMOTED to driver-graded (r11 VERDICT item 2) — the
    # incremental-maintenance exactness claim (frozen-order appends lose
    # no recall) faces the driver; array_set_ops_per_order demoted in trade.
    # r13: rotated back to the demoted gate after its green graded round —
    # the compacted lifecycle twin takes the driver slot this round.
    # r15: RE-PROMOTED (r14 VERDICT item 1 rotation) — the bucketed twin
    # demoted in trade after two green graded rounds; the set-similarity
    # family keeps two graded lifecycle rows (compacted + incremental).
    oracle=_TRIGRAM_PPJOIN_ORACLE,
)
def set_similarity_join_docs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: the INCREMENTALLY-MAINTAINED prefix-gram index must answer
    exactly like a from-scratch build — index built on ~80% of the
    corpus, the rest appended under the FROZEN vocab order (new grams
    df=0; the prefix-filter theorem needs a consistent total order, not
    the current frequencies — see set_similarity_prefix_tables), then
    the standard served join.  The quadratic full-corpus oracle equality
    IS the proof that frozen-order appends lose no recall."""
    root = _ensure_incremental_prefix_index(spark, sf_dir)
    sets, prefixes = read_prefix_index(spark, root)
    return D.set_similarity_join_from_tables(
        sets, prefixes, "doc_id", 0.5, max_df=_setsim_max_df()
    )


def _setsim_max_df() -> int | None:
    """Scale lever for the served set-similarity rows (r17, r16 VERDICT
    item 5): document-frequency cap routing fat-gram prefixes through the
    exact within-group fallback instead of the df² self-join
    (operators.dedup.set_similarity_candidate_ids).  Default None keeps
    the fixture-scale single-join plan the driver grades — at sf0.1 the
    max prefix-gram df is 25 and the join emits ~60k rows, so the cap
    buys nothing and costs a Python stage.  On replicated corpora the
    thin-lane join output grows with Σ df² (measured: 97M rows at 10×,
    9.7e9 at 100× — PERF.md r17 sweep notes), so a deployment sets
    SPARK_GRAFT_SETSIM_MAX_DF to bound the join lane; recall is exact
    either way (the capped lane is oracle-equality-proven on the
    bigram_capped row).

    The value is stripped; empty or ≤ 0 means unset (a cap of 0 would
    route every gram through the fallback), and a non-integer raises a
    ValueError naming the variable.  On the incremental serve the cap
    reads the artifact's FROZEN ``__pdf``: grams first seen after the
    vocab freeze carry df=0 and stay in the join lane until compact."""
    import os

    v = os.environ.get("SPARK_GRAFT_SETSIM_MAX_DF", "").strip()
    if not v:
        return None
    try:
        cap = int(v)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_SETSIM_MAX_DF must be an integer, got {v!r}"
        ) from None
    return cap if cap > 0 else None


def _read_forgotten_docs(spark: SparkSession, root: str) -> DataFrame | None:
    """The store's durable erasure manifest — every compact applies it,
    so a replayed append can never resurrect an erased doc.  None when
    nothing was ever forgotten."""
    from .. import sinks

    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(hpath(f"{root}/_forgotten")):
        return None
    return spark.read.option("recursiveFileLookup", "true").parquet(
        f"{root}/_forgotten"
    )


def prefix_index_forget(spark: SparkSession, root: str, doc_ids: list) -> dict:
    """GDPR erasure for the STANDING prefix-gram index (r13): the
    warehouse-side forget (``sinks.gdpr_forget``) never reached standing
    artifacts — an erased document kept serving from the persisted
    sets/prefix tables until some unrelated rebuild.  This closes that:

    1. the ids are recorded DURABLY under ``{root}/_forgotten`` first
       (erasure intent survives crashes, and — the replay hazard — a
       checkpoint-replayed append of a batch containing the doc cannot
       resurrect it, because every later compact re-applies the
       manifest);
    2. an immediate ``prefix_index_compact`` republishes a generation
       WITHOUT the docs (anti-join before re-derivation — base and
       straggler folds both), so once this returns, no reader resolves
       a generation containing them.

    Erasure is PERMANENT for the artifact (the manifest is never
    cleared): re-ingesting an erased doc_id requires a fresh root — the
    conservative reading of an erasure obligation.  Cost is one compact
    (corpus-sized, the same pass any re-freeze pays) — GDPR erasure is
    rare and the warehouse-side forget already pays a rewrite."""
    import uuid

    ids = spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id: long")
    ids.coalesce(1).write.parquet(f"{root}/_forgotten/ids_{uuid.uuid4().hex[:8]}")
    out = prefix_index_compact(spark, root)
    out["forgotten"] = len(doc_ids)
    return out


def prefix_index_compact(
    spark: SparkSession,
    root: str,
    threshold: float = 0.5,
    _test_hook_after_list=None,
    _test_hook_before_commit=None,
) -> dict:
    """Re-freeze and merge (r11, re-published r12 as a NEW generation):
    rebuild the vocab from the FULL current contents (restoring the
    candidate-optimal rarest-first order the frozen-order appends drifted
    from), re-derive sets/prefixes from the stored gram arrays — NO
    re-tokenization; the sets table already holds every doc's gram
    multiset — with the batch subdirectories folded into the base.

    r12 protocol (closes the r11 ADVICE hazards):

    - The new tables stage under a uuid root and become live via ONE
      directory rename + ONE ``_commit`` marker rename — never three
      sequential per-table swaps, so no reader or crash can observe a
      new-order vocab over old-order prefixes, and concurrent readers
      keep the previous generation (generations are immutable).
    - Folded batch ids are recorded in the new generation's ``_folded``
      manifest (carrying forward the old generation's), so a streaming
      checkpoint REPLAY of an already-folded micro-batch is a no-op
      instead of a silent double-append.
    - A ``_compacting.<uid>`` lease fences in-flight appends: appenders
      re-check the live generation after publishing and wait out the
      lease; batches that completed publishing after our initial listing
      (stragglers) are folded into the new generation as batch dirs
      under the SAME bid, re-derived under the new vocab.  Half-published
      stragglers are skipped — their appender republishes after commit.

    The two ``_test_hook_*`` callables let tests interleave a live append
    deterministically (after the batch listing / before the commit).
    Returns {"docs": n, "batches_folded": k}."""
    import uuid

    from .. import sinks

    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    # lease + heartbeat discipline via the shared protocol module (r13):
    # a LIVE compact renews the lease mtime every TTL/4 (a long fold must
    # not release waiting appenders into the lost-batch window); a
    # CRASHED compactor stops renewing and goes stale at the TTL.
    with _gs.compaction_lease(fs, hpath, root, ttl_s=_LEASE_TTL_S):
        gens = _committed_gens(fs, hpath, root)
        if not gens:
            raise FileNotFoundError(f"compact before build: no generation at {root}")
        gen_name = gens[-1]
        gen = f"{root}/{gen_name}"
        seq = int(_GEN_RE.match(gen_name).group(1))

        def _batch_bids() -> list[str]:
            return sorted(
                st.getPath().getName()[len("batch_") :]
                for st in fs.listStatus(hpath(f"{gen}/sets"))
                if st.isDirectory() and st.getPath().getName().startswith("batch_")
            )

        batches = _batch_bids()
        if _test_hook_after_list is not None:
            _test_hook_after_list()
        prev_folded = (
            [
                st.getPath().getName()
                for st in fs.listStatus(hpath(f"{gen}/_folded"))
            ]
            if fs.exists(hpath(f"{gen}/_folded"))
            else []
        )
        # explode the stored arrays back to (doc, gram) rows — cheaper
        # than re-tokenizing text and exactly the same multiset.  The read
        # pins EXACTLY the base files + the bids listed above (not a
        # recursive lookup at read time), so a straggler publishing
        # between the listing and the read can't be double-counted by
        # both the base and the straggler pass.
        base_files = [
            st.getPath().toString()
            for st in fs.listStatus(hpath(f"{gen}/sets"))
            if not st.isDirectory()
            and not st.getPath().getName().startswith(("_", "."))
        ]
        sets = spark.read.parquet(
            *base_files, *[f"{gen}/sets/batch_{b}" for b in batches]
        )
        forgotten = _read_forgotten_docs(spark, root)
        if forgotten is not None:
            # erasure manifest (prefix_index_forget): applied on EVERY
            # compact so replayed appends can't resurrect erased docs
            sets = sets.join(F.broadcast(forgotten), "doc_id", "left_anti")
        grams = sets.select("doc_id", F.explode("__garr").alias("g"))
        n_docs = sets.count()
        stage = f"{root}/stage.compact.{uuid.uuid4().hex[:8]}"
        _write_gen_tables(spark, grams, threshold, stage)
        fs.mkdirs(hpath(f"{stage}/_folded"))
        for b in sorted(set(batches) | set(prev_folded)):
            _marker_commit(fs, hpath, f"{stage}/_folded/{b}")
        # straggler fence: fully-published batches that appeared since the
        # initial listing fold into the NEW generation as batch dirs
        # (same bid — replay stays idempotent), re-sorted under the new
        # frozen order
        new_vocab = spark.read.parquet(f"{stage}/vocab")
        for b in _batch_bids():
            if b in batches:
                continue
            if not (
                fs.exists(hpath(f"{gen}/sets/batch_{b}"))
                and fs.exists(hpath(f"{gen}/prefixes/batch_{b}"))
            ):
                continue  # half-published: invisible; appender republishes
            bsets = spark.read.parquet(f"{gen}/sets/batch_{b}")
            if forgotten is not None:
                bsets = bsets.join(F.broadcast(forgotten), "doc_id", "left_anti")
            bgrams = bsets.select("doc_id", F.explode("__garr").alias("g"))
            s2, p2 = D.set_similarity_prefix_tables(
                bgrams, "doc_id", "g", threshold, vocab=new_vocab
            )
            s2.write.parquet(f"{stage}/sets/batch_{b}")
            p2.repartition(F.col("__pg")).sortWithinPartitions("__pg").write.parquet(
                f"{stage}/prefixes/batch_{b}"
            )
        if _test_hook_before_commit is not None:
            _test_hook_before_commit()
        new_gen = f"{root}/gen-{seq + 1:06d}-{uuid.uuid4().hex[:8]}"
        fs.rename(hpath(stage), hpath(new_gen))
        _marker_commit(fs, hpath, f"{new_gen}/_commit")
        # GC: keep the live + previous generations (a reader that resolved
        # the old generation just before commit still has its files)
        for g in _committed_gens(fs, hpath, root)[:-2]:
            fs.delete(hpath(f"{root}/{g}"), True)
        return {"docs": int(n_docs), "batches_folded": len(batches)}

def _canonical_by_quality_oracle(threshold: float = 0.5) -> str:
    """Clusters = the verified-pair closure (same CTE as the graded
    components row); the kept representative is the QUALITY argmax —
    exact-integer lexical-diversity score (distinct tokens, ties by
    token count, then min doc_id), so both engines rank identically."""
    return f"""
    WITH RECURSIVE {_lsh_verify_ctes()},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM verified WHERE jaccard >= {threshold}
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM verified WHERE jaccard >= {threshold}
    ),
    reach(id, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id),
    scored AS (
        SELECT doc_id,
               CAST(len(list_distinct(list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS BIGINT) AS n_distinct_tok,
               CAST(len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS BIGINT) AS n_tok
        FROM documents
    )
    SELECT c.doc_id, c.component, s.n_distinct_tok,
           (row_number() OVER (PARTITION BY c.component
                               ORDER BY s.n_distinct_tok DESC, s.n_tok DESC, c.doc_id) = 1) AS kept
    FROM comp c JOIN scored s USING (doc_id)
    """


@register(
    "dedup_canonical_by_quality",
    # r12: PROMOTED to driver-graded (r11 VERDICT item 2) — the
    # production keep-best policy (closure + exact-integer quality argmax);
    # dedup_minhash_representatives (min-id policy, same family) demoted in trade.
    oracle=_canonical_by_quality_oracle(),
)
def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked canonicalization (r11): near-dup clusters keep their
    HIGHEST-QUALITY member instead of the min-id one — the production
    policy (Lee et al. 2022 keep-longest; CCNet keep-best-perplexity)
    the min-id rows approximate.  Clusters are the same verified-pair
    transitive closure as the graded components row; the representative
    is the argmax of an exact-integer lexical-diversity score (distinct
    tokens, ties by token count then min doc_id — deterministic in both
    engines, no float ranking).  Plan: clustering as before + one
    doc-scored join + one per-cluster window; the score is computed in
    ONE scan with no shuffle beyond the clustering's own."""
    docsets = _doc_sets(spark, sf_dir)  # r16 OPT: array-native, see _doc_sets
    sigs = _pinned_minhash_sigs(docsets)
    cand = D.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=4)
    verified = D.jaccard_verify_arrays(docsets, cand, "doc_id", "_garr", threshold=0.5)
    # r16 OPT: spread so the tokenize+distinct quality scan parallelizes
    # (the closure universe below prunes to doc_id, so its branch shuffles
    # only ids); no-op at real input sizes
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    comp = D.connected_components(
        docs.select("doc_id"), verified.select("id_a", "id_b"), id_col="doc_id"
    )
    ws = F.filter(F.split(F.lower(F.col("text")), " "), lambda w: w != "")
    scored = docs.select(
        "doc_id",
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct_tok"),
        F.size(ws).cast("long").alias("n_tok"),
    )
    joined = comp.join(scored, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_distinct_tok"), F.desc("n_tok"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id",
        "component",
        "n_distinct_tok",
        (F.row_number().over(w) == 1).alias("kept"),
    )


def _ensure_compacted_prefix_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-80% → append-20% → COMPACT rehearsal artifact: the full
    maintenance lifecycle under one end-to-end marker, so the served
    answer after a re-freeze faces the quadratic oracle (the pytest
    compact tests pin protocol mechanics; this row pins the MATH —
    re-deriving sets/prefixes from stored gram arrays under the new
    frozen order loses nothing)."""
    from .. import sinks

    root = prefix_index_root(sf_dir, 3, 0.5, variant="inccompact")
    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    marker = f"{root}/_cmp_ready"
    if not fs.exists(hpath(marker)):
        docs = load(spark, sf_dir, "documents")
        cut = docs.selectExpr(
            "percentile_approx(doc_id, 0.8, 10000) AS c"
        ).first()["c"]
        prefix_index_build(spark, root, docs.filter(F.col("doc_id") <= cut))
        prefix_index_append(
            spark, root, docs.filter(F.col("doc_id") > cut), bid="cmp0"
        )
        prefix_index_compact(spark, root)
        _marker_commit(fs, hpath, marker)
    return root


@register(
    "set_similarity_join_docs_compacted",
    # r13: PROMOTED to driver-graded (r12 VERDICT item 1 rotation) — the
    # generational compaction lifecycle (build → frozen-order append →
    # re-freeze → fold) answers the driver with the from-scratch oracle;
    # set_similarity_join_docs_incremental rotated back in trade after its
    # green r12 graded round.  One round of demoted-gate history (r12).
    # r16 rotation: demoted after three green graded rounds (r13-r15);
    # the bucketed twin re-takes the driver slot and the incremental row
    # stays graded — the PPJoin family keeps two driver rows, and this
    # oracle stays enforced under the pytest gate.
    demoted=True,
    oracle=_TRIGRAM_PPJOIN_ORACLE,
)
def set_similarity_join_docs_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: the COMPACTED prefix-gram index must answer exactly like a
    from-scratch build — build on ~80% of the corpus, append the rest
    under the frozen order, re-freeze via prefix_index_compact (new
    generation, rarest-first order restored, batches folded), then the
    standard served join.  The quadratic full-corpus oracle equality is
    the proof that compaction's array-rederivation under a NEW total
    order is lossless — closing the maintenance lifecycle
    (build → append → compact → serve) at the oracle level."""
    root = _ensure_compacted_prefix_index(spark, sf_dir)
    sets, prefixes = read_prefix_index(spark, root)
    return D.set_similarity_join_from_tables(sets, prefixes, "doc_id", 0.5)


def read_prefix_index_bucketed(
    spark: SparkSession, root: str, num_buckets: int = 32
) -> tuple[DataFrame, DataFrame]:
    """(sets, prefixes) with the PREFIX side served from a BUCKETED
    standing table on the self-join key (r12, the PERF r12-addendum
    lever): the served join's only corpus-sized shuffle is the prefix
    self-join's 2× exchange on ``__pg`` (measured 830 MB of narrow rows
    at 100×), which Spark re-creates every serve because parquet carries
    no distribution metadata.  Registering the prefix rows once as a
    CLUSTERED BY (__pg) external table (sinks.ensure_bucketed_table —
    staged build, rename commit, DDL-only re-registration) removes that
    exchange from every later serve.

    Composition with the generational protocol: the bucketed layout
    lives INSIDE the live generation directory, keyed by the generation
    name + the exact batch-dir set it folded — an append or compact
    mints a new key, so a stale bucketed snapshot can never serve (first
    touch after a change pays one repartition pass, the same cost class
    as the append itself).  Generations are immutable, so the bucketed
    copy never drifts from its source rows."""
    import hashlib

    from .. import sinks

    gen = prefix_index_current_gen(spark, root)
    if gen is None:
        raise FileNotFoundError(f"no committed prefix-gram generation under {root}")
    fs, _, jvm = sinks._fs_for(spark, gen)
    hpath = jvm.org.apache.hadoop.fs.Path
    bids = sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath(f"{gen}/prefixes"))
        if st.isDirectory() and st.getPath().getName().startswith("batch_")
    )
    sig = hashlib.md5(f"{gen}|{'|'.join(bids)}|b={num_buckets}".encode()).hexdigest()[:12]
    path = f"{gen}/prefixes_bucketed_{sig}"
    table = f"msgdp_ppjb_{sig}"
    sinks.ensure_bucketed_table(
        spark,
        table,
        path,
        "__pg",
        num_buckets,
        build=lambda: spark.read.option("recursiveFileLookup", "true").parquet(
            f"{gen}/prefixes"
        ),
        sort_col="__pg",
    )
    sets = spark.read.option("recursiveFileLookup", "true").parquet(f"{gen}/sets")
    return sets, spark.table(table)


def _ensure_forgotten_prefix_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-full → FORGET rehearsal artifact (r13): the erasure
    lifecycle under one end-to-end marker — build the standing index on
    the whole corpus, then ``prefix_index_forget`` the deterministic id
    set ``doc_id % 50 == 25`` (disjoint from every probe-doc convention,
    which uses % 100 == 0).  The quadratic oracle over the REMAINING
    corpus is the proof the erased docs are gone from the artifact, not
    merely filtered at read time."""
    from .. import sinks

    root = prefix_index_root(sf_dir, 3, 0.5, variant="forgotten")
    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    marker = f"{root}/_fgt_ready"
    if not fs.exists(hpath(marker)):
        docs = load(spark, sf_dir, "documents")
        prefix_index_build(spark, root, docs)
        ids = [
            r["doc_id"]
            for r in docs.filter(F.col("doc_id") % 50 == 25)
            .select("doc_id")
            .collect()
        ]
        prefix_index_forget(spark, root, ids)
        _marker_commit(fs, hpath, marker)
    return root


@register(
    "set_similarity_join_docs_forgotten",
    demoted=True,  # erasure-lifecycle twin of the graded compacted row
    oracle=_TRIGRAM_PPJOIN_ORACLE.replace(
        "FROM documents", "FROM documents WHERE doc_id % 50 <> 25", 1
    ),
)
def set_similarity_join_docs_forgotten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: GDPR erasure must reach the STANDING artifact — after
    ``prefix_index_forget``, the served exact-recall join answers the
    quadratic oracle over the corpus WITHOUT the erased docs: no pair
    involving them survives anywhere in the pipeline (candidates,
    verify, output), and the republished generation physically excludes
    their sets/prefix rows (the erasure manifest is re-applied by every
    later compact, so replayed appends cannot resurrect them)."""
    root = _ensure_forgotten_prefix_index(spark, sf_dir)
    sets, prefixes = read_prefix_index(spark, root)
    return D.set_similarity_join_from_tables(sets, prefixes, "doc_id", 0.5)


@register(
    "set_similarity_join_docs_bucketed",
    # r13: PROMOTED to driver-graded (r12 VERDICT item 1 rotation) — the
    # bucketed prefix table eliminates the self-join's __pg exchanges (25×
    # shuffle reduction, plan-pinned); set_similarity_join_docs (plain serve)
    # demoted in trade.  One round of demoted-gate history (r12).
    # r15 rotation: demoted after two green graded rounds (r13, r14) —
    # the incremental twin takes the driver slot back; the bucketed
    # plan's no-Exchange claim stays plan-pinned in test_plans and the
    # oracle stays enforced here.
    # r16 rotation: RE-promoted after its r15 demoted round (r15 VERDICT
    # item 2); compacted demoted in trade.  Prior graded anchors: r13
    # 2.916 s / r14 2.405 s (the ~2.4-2.9 s band stands).
    oracle=_TRIGRAM_PPJOIN_ORACLE,
)
def set_similarity_join_docs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: the served exact-recall join with the prefix self-join's
    shuffle ELIMINATED — prefixes registered once per (generation, batch
    set) as a bucketed external table on ``__pg``, so both join sides
    read co-bucketed files and Catalyst plans the equi-join with no
    Exchange under it (plan-pinned in test_plans).  Answers must equal
    the quadratic oracle exactly, like every other lifecycle row."""
    root = ensure_prefix_gram_index(spark, sf_dir, n=3, threshold=0.5)
    sets, prefixes = read_prefix_index_bucketed(spark, root)
    # no max_df lever here (r17, measured): the co-bucketed join has no
    # __pg shuffle to protect, and routing fat grams through the Python
    # fallback LOST the 10× A/B (14.0 → 23.6 s) while the shuffled serves
    # won it 2.2× — see PERF.md r17 sweep notes.
    return D.set_similarity_join_from_tables(sets, prefixes, "doc_id", 0.5)
