"""Deduplication operators — the north-star extension family (BASELINE.json).

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
All are pure DataFrame compositions (no Python row UDFs) so they stay in
whole-stage codegen and scale with the cluster.

Scale design (100 TB corpus):
- exact dedup = one hash-partitioned aggregation on the dedup key; Spark's
  partial aggregation collapses duplicates map-side before the shuffle.
- MinHash+LSH is *the* scale path for fuzzy dedup: per-doc signatures are a
  narrow map after one explode+agg; candidate generation joins only docs
  sharing a band bucket (shuffle keyed on (band, hash) — tiny compared to
  the all-pairs cross join the naive n-gram approach needs), and the
  expensive Jaccard verification runs only on candidates.
- hash function is pluggable: ``xxhash64`` (JVM, fastest) for production,
  ``md5`` for cross-engine oracle parity (DuckDB computes identical digests).

Reference parity note: the reference has no dedup operator (SURVEY.md §2.5
lists it as a charter extension); exact dedup generalizes its snapshot
full-refresh semantics (L2) where re-extracted rows replace prior copies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams of a string column as an array<string>.

    Pure codegen: split → sequence → transform → slice → join.
    """
    t = F.col(text) if isinstance(text, str) else text
    ws = F.filter(F.split(t, " "), lambda w: w != "")
    cnt = F.greatest(F.size(ws) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), cnt), lambda i: F.array_join(F.slice(ws, i, n), " "))
    )


def exact_dedup(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Exact dedup with a deterministic representative row.

    Keeps, per key group, the row minimizing ``order_cols`` (first-wins by
    e.g. doc_id), plus an ``n_copies`` count.  One shuffle on the dedup key
    with map-side combine — at 100 TB this is strictly cheaper than
    ``dropDuplicates`` (same shuffle) while adding determinism + lineage.
    """
    payload = [c for c in df.columns if c not in keys]
    return (
        df.groupBy(*keys)
        .agg(
            F.min_by(F.struct(*payload), F.struct(*order_cols)).alias("_rep"),
            F.count("*").alias("n_copies"),
        )
        .select(*keys, *[F.col(f"_rep.{c}").alias(c) for c in payload], "n_copies")
    )


def _hash_hex(col: Column, seed: int, fn: str) -> Column:
    """Deterministic per-seed hash of a string column, as orderable value."""
    if fn == "md5":
        return F.md5(F.concat(F.lit(f"{seed}|"), col))
    if fn == "xxhash64":
        return F.xxhash64(col, F.lit(seed))
    raise ValueError(f"unknown hash fn {fn!r}")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    gram_col: str,
    num_hashes: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document MinHash signature over an exploded gram set.

    ``df`` must have one row per (id, gram).  Output: id + ``mh0..mh{k-1}``
    columns (min of the seeded hash per doc) — one aggregation, map-side
    partial mins, shuffle keyed on the doc id.
    """
    aggs = [
        F.min(_hash_hex(F.col(gram_col), s, hash_fn)).alias(f"mh{s}") for s in range(num_hashes)
    ]
    return df.groupBy(id_col).agg(*aggs)


def minhash_signatures_arrays(
    df: DataFrame,
    id_col: str,
    arr_col: str,
    num_hashes: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """``minhash_signatures`` computed ARRAY-NATIVE (r16 OPT; guide §2.4
    remove shuffles outright): when the per-doc gram set already lives in
    one array cell (``word_ngrams`` returns the DISTINCT grams), the
    per-seed minimum is ``array_min(transform(...))`` — a narrow map with
    ZERO shuffle and zero explode, versus the exploded path's n·grams-row
    explode + groupBy shuffle.  Bit-identical output: min over exploded
    distinct rows == array_min over the same distinct array, and the
    per-seed hash is the same ``_hash_hex`` construction.

    Precondition (r16 ADVICE): ``arr_col`` must be NON-NULL — a null
    gram array emits a row with null mh columns here, where the exploded
    path emits no row at all (and downstream banding would hash every
    null-array doc into the same md5('') buckets).  ``word_ngrams`` never
    returns null for non-null text; callers with nullable text must
    filter first."""
    def _seeded(s: int):
        # NB: must be a ONE-parameter lambda — F.transform interprets a
        # second parameter (even a defaulted one) as the array INDEX and
        # silently substitutes it for the closure value
        return lambda g: _hash_hex(g, s, hash_fn)

    aggs = [
        F.array_min(F.transform(F.col(arr_col), _seeded(s))).alias(f"mh{s}")
        for s in range(num_hashes)
    ]
    return df.select(F.col(id_col), *aggs)


def jaccard_verify_arrays(
    docsets: DataFrame,
    pairs: DataFrame,
    id_col: str,
    arr_col: str,
    threshold: float,
) -> DataFrame:
    """``jaccard_verify`` served from per-doc DISTINCT gram arrays (r16
    OPT): intersection = ``size(array_intersect)``, union by inclusion-
    exclusion — exactly the counts the exploded equi-join path produces
    (both sides are distinct sets), without the three corpus-sized gram
    evaluations that path pays (ga/gb joins + the sizes aggregation each
    re-ran the explode subtree; profiled at sf0.1 as ~35 s of task time
    per evaluation of the verified-pair table).  The candidate pairs are
    explicitly repartitioned before the arrays attach — same AQE-
    coalescing rationale as ``_attach_gram_arrays``.

    The ``__inter > 0`` filter (r16 ADVICE) makes the output match the
    exploded path EXACTLY at any threshold: the equi-join formulation
    can never produce a zero-intersection pair, and it also discards
    null-array candidates (``size(null) = -1`` under legacy sizeOfNull
    would otherwise score -1/-1 = 1.0)."""
    n_par = pairs.sparkSession.sparkContext.defaultParallelism
    ids = pairs.repartition(n_par, "id_a", "id_b")
    ga = docsets.select(
        F.col(id_col).alias("id_a"),
        F.col(arr_col).alias("__ga"),
        F.size(arr_col).alias("__sza"),
    )
    gb = docsets.select(
        F.col(id_col).alias("id_b"),
        F.col(arr_col).alias("__gb"),
        F.size(arr_col).alias("__szb"),
    )
    inter = F.size(F.array_intersect("__ga", "__gb"))
    return (
        ids.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("__inter", inter)
        .withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__sza") + F.col("__szb") - F.col("__inter")),
        )
        .filter((F.col("__inter") > 0) & (F.col("jaccard") >= threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _band_explode(
    signatures: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_hash) rows: one per document per LSH band."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)])).alias(
                "bh"
            ),
        )
        for b in range(bands)
    ]
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_pairs_per_doc: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of their signature become a
    candidate pair (id_a < id_b, distinct).

    The band array explodes to ``bands`` rows per doc; the self-join is
    keyed on (band_idx, band_hash) so only true bucket collisions shuffle
    together — the step that makes fuzzy dedup sub-quadratic in CORPUS
    size.  Caveat (100× sweep, PERF.md): output pairs are still Θ(m²) per
    m-member near-dup cluster — that is the pair formulation's intrinsic
    output size, not a blocking failure.  For mass-duplication corpora use
    ``lsh_dedup_representatives``, which never materializes pairs.

    ``max_pairs_per_doc`` (r4 VERDICT item 5) is the audit-mode guard for
    that regime: each ``id_a`` keeps only its ``max_pairs_per_doc``
    LOWEST-id partners (deterministic truncation — rank by ``id_b`` within
    ``id_a``), bounding the output and the downstream Jaccard-verify
    fan-out to Θ(n·cap) instead of Θ(m²) per cluster.  Spark 4 plans the
    rank filter as WindowGroupLimit — a per-partition top-cap heap BEFORE
    the window shuffle, so the bound applies map-side too.  The cap drops
    real candidates in clusters larger than the cap (by construction);
    audit sampling tolerates that, full dedup should use the
    representative pass instead.
    """
    exploded = _band_explode(signatures, id_col, num_hashes, bands)
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bh") == F.col(f"b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    if max_pairs_per_doc is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("id_a").orderBy("id_b")
        pairs = (
            pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_pairs_per_doc)
            .drop("_rn")
        )
    return pairs


def lsh_dedup_representatives(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """O(n) near-dup REPRESENTATIVE selection — the production dedup path
    for mass-duplication corpora (the standard LLM-corpus MinHashLSH
    dedup): each doc's representative is the minimum id over every band
    bucket it belongs to; a doc is kept iff it is its own representative.

    Never materializes candidate pairs, so cost is Θ(n·bands) in ALL
    duplication regimes — where the pair formulation emits Θ(m²) rows per
    m-member cluster (measured 220× wall at 100× data on a corpus of
    100-member clusters, PERF.md).  One min-aggregation per (band, bucket)
    + one min per doc: two hash shuffles, map-side combinable.

    Approximation contract: single propagation step — docs sharing a
    bucket with the cluster minimum collapse; a chain a~b~c where a,c
    share no bucket keeps both a and the b-represented c.  (Exact
    transitive closure = iterate to fixpoint; one step is the accepted
    curation trade.)  Output: (id, rep_id, kept).
    """
    exploded = _band_explode(signatures, id_col, num_hashes, bands)
    bucket_min = exploded.groupBy("band", "bh").agg(F.min(id_col).alias("_bmin"))
    rep = (
        exploded.join(bucket_min, ["band", "bh"])
        .groupBy(id_col)
        .agg(F.min("_bmin").alias("rep_id"))
    )
    return rep.select(
        id_col, "rep_id", (F.col(id_col) == F.col("rep_id")).alias("kept")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 25,
    checkpoint: str = "local",
) -> DataFrame:
    """EXACT transitive closure of a near-dup pair graph: (id, component)
    where ``component`` is the minimum node id reachable from ``id``.

    Closes the documented approximation gap of the single-step
    representative passes (``lsh_dedup_representatives`` keeps both ends of
    a chain a~b~c when a,c share no bucket): iterative min-label
    propagation runs until fixpoint, so chained near-dups collapse into one
    cluster — the semantics of the standard LLM-corpus dedup clustering
    step (cluster = connected component of the verified-pair graph).

    Algorithm: labels start as self; each round every node takes the min of
    its own label and its neighbors' labels.  Converges in at most
    ``eccentricity(min-node)`` rounds per component — for near-dup graphs
    (dense LSH-bucket cliques) that is 1-3 rounds in practice.

    Scale shape (100 TB): per round ONE equi-join of the symmetrized edge
    list with the label table (shuffle keyed on the node id) + ONE
    map-combinable min-aggregation on the same key — no all-pairs step,
    state is O(V) labels + O(E) edges.  Convergence detection rides the
    same aggregation (a per-id changed flag computed from two mins), so
    the only extra per-round driver work is a take(1) scan of the
    checkpointed result — no second join job (r6 VERDICT item 2).  The LOGICAL plan must be truncated
    every round — lazy (or merely persist()ed) plans nest a copy of the
    previous round's tree per round and Catalyst re-analysis cost grows
    exponentially (measured: analysis OOM by round ~10 on a 12-node chain).
    ``checkpoint='local'`` (default) truncates with eager
    ``localCheckpoint`` — fastest, but pinned blocks die with their
    executor, so one executor loss fails the job (same caveat as
    sinks.with_surrogate_key); ``checkpoint='reliable'`` uses
    ``DataFrame.checkpoint`` to the configured
    ``sparkContext.setCheckpointDir`` — survives executor loss, the right
    choice for multi-hour 100 TB jobs.
    Pathological long-chain graphs (diameter ≫ rounds) would want the
    large-star/small-star variant (doubles label reach per round); near-dup
    graphs never need it, so ``max_iters`` exhaustion raises instead.
    Skew: a giant cluster makes its representative a hot join key (every
    member's edge row carries it) — the per-round join is a plain
    sort-merge/hash equi-join, so AQE's skew-join split
    (``spark.sql.adaptive.skewJoin.enabled``, on in this engine's session)
    handles the hot partitions without a manual salt.

    ``nodes`` supplies the universe (singletons = their own component);
    edges referencing ids outside ``nodes`` still propagate labels but only
    ``nodes`` ids are returned.
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")

    def _pin(df: DataFrame) -> DataFrame:
        if checkpoint == "local":
            return df.localCheckpoint(eager=True)
        return df.checkpoint(eager=True)

    labels = nodes.select(F.col(id_col).alias("_id"), F.col(id_col).alias("_comp"))
    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    sym = _pin(
        e.unionAll(e.select(F.col("_dst").alias("_src"), F.col("_src").alias("_dst")))
    )  # edges are re-read every round
    for it in range(max_iters):
        # r17 OPT: round 1's edge⋈label join is an IDENTITY — labels start
        # as self (_comp == _id == _src), so the propagated rows are just
        # the edge list re-keyed.  Unrolling it removes one join (and its
        # broadcast-exchange job) plus the initial labels pin job from the
        # iteration tail, whose per-job driver latency dominates this
        # operator at fixture scale (profiled: ~20 sub-0.1 s jobs with
        # 0.02-0.33 s scheduling gaps behind a 3.4 s wall).
        if it == 0:
            prop = sym.select(F.col("_dst").alias("_id"), F.col("_src").alias("_comp"))
        else:
            prop = (
                sym.join(labels, sym["_src"] == labels["_id"])
                .select(F.col("_dst").alias("_id"), F.col("_comp"))
            )
        # Fold the convergence flag INTO the merge aggregation (r6 VERDICT
        # item 2 — previously a separate labels⋈labels join job per round):
        # tag current-label rows _old=true, propagated rows _old=false; the
        # old label per id is then min(comp where _old) (unique, or NULL
        # for a newly-introduced edge endpoint — whose label has not
        # propagated onward yet, so it cannot count as stable), and
        # _chg = old IS NULL OR new < old rides the SAME map-combinable
        # min-aggregation.  The per-round driver work drops to one cheap
        # take(1) scan over the just-checkpointed blocks (early-exits on
        # the first changed row in every non-final round).
        old_comp = F.min(F.when(F.col("_old"), F.col("_comp")))
        merged = _pin(
            labels.withColumn("_old", F.lit(True))
            .unionAll(prop.withColumn("_old", F.lit(False)))
            .groupBy("_id")
            .agg(
                F.min("_comp").alias("_comp"),
                (old_comp.isNull() | (F.min("_comp") < old_comp)).alias("_chg"),
            )
        )
        labels = merged.select("_id", "_comp")
        if merged.filter("_chg").isEmpty():
            # propagation may have introduced edge endpoints outside the
            # node universe — return only the declared nodes
            out = labels.join(
                nodes.select(F.col(id_col).alias("_id")).distinct(), "_id"
            )
            return out.select(
                F.col("_id").alias(id_col), F.col("_comp").alias("component")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "graph diameter exceeds the near-dup regime this propagation targets; "
        "use a large-star/small-star formulation for long-chain graphs"
    )


def lsh_dedup_clusters(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_iters: int = 25,
    checkpoint: str = "local",
) -> DataFrame:
    """EXACT transitive-closure clustering over the LSH bucket graph — the
    PRODUCTION-SCALE closure path (complements ``connected_components``
    over verified pairs, whose edge list is Θ(m²) per m-member cluster):
    edges are the STAR edges (doc ↔ its band-bucket's min id), Θ(n·bands)
    in every duplication regime, and the star graph's transitive closure
    EQUALS the closure of the full docs-sharing-a-bucket graph (two docs
    in one bucket are connected through that bucket's min).  This is the
    standard mass-dedup clustering semantic (cluster = docs transitively
    linked by shared LSH buckets, no per-pair verification) — upgraded
    from ``lsh_dedup_representatives``'s single propagation step to the
    exact fixpoint, so chained near-dups collapse fully.

    Output: (id, component, kept) — component = min id of the cluster.

    The signature table is pinned ONCE (localCheckpoint / reliable
    checkpoint per ``checkpoint``) before fan-out: bucket-min, star edges,
    and the node universe are three consumers that would otherwise each
    re-run the whole gram→minhash pipeline (measured 3.5 s/extra pass at
    sf0.1).
    """
    sigs = (
        signatures.localCheckpoint(eager=True)
        if checkpoint == "local"
        else signatures.checkpoint(eager=True)
    )
    exploded = _band_explode(sigs, id_col, num_hashes, bands)
    bucket_min = exploded.groupBy("band", "bh").agg(F.min(id_col).alias("_bmin"))
    edges = (
        exploded.join(bucket_min, ["band", "bh"])
        .filter(F.col(id_col) != F.col("_bmin"))
        .select(F.col(id_col).alias("id_a"), F.col("_bmin").alias("id_b"))
        .distinct()
    )
    nodes = sigs.select(id_col)
    comp = connected_components(
        nodes, edges, id_col=id_col, max_iters=max_iters, checkpoint=checkpoint
    )
    return comp.select(
        id_col, "component", (F.col(id_col) == F.col("component")).alias("kept")
    )


def lsh_incremental_assign(
    new_signatures: DataFrame,
    bucket_reps: DataFrame | None,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup assignment — dedup a NEW batch against the
    persisted cluster state of everything seen so far, without touching
    old documents (the incremental-crawl flow: the corpus grows batch by
    batch and re-clustering from scratch at every refresh is the thing
    that doesn't scale).

    State is the ``(band, bh, rep_id)`` bucket→representative table — the
    natural reusable artifact of the LSH representative pass (≤ corpus
    band-rows, shrinks to #distinct buckets).  A new doc collapses into
    the minimum existing representative over its buckets; docs hitting no
    known bucket cluster among THEMSELVES via the single-step bucket-min
    rule (same contract as ``lsh_dedup_representatives``).

    Returns ``(assignments, updated_bucket_reps)``:
    - assignments: (id, rep_id, is_new_cluster) for the new batch only;
    - updated_bucket_reps: the merged state to persist for the next batch
      (old reps win over new ids on shared buckets — min-id total order
      stays stable across batches as long as ids are monotone).

    Scale shape per batch: one band explode (narrow), one left equi-join
    against state keyed on the bucket, two min-aggregations — all keyed
    on bucket or id, no pairs, state O(buckets).  ``bucket_reps=None``
    bootstraps from an empty state (first batch).
    """
    exploded = _band_explode(new_signatures, id_col, num_hashes, bands)
    if bucket_reps is None:
        spark = new_signatures.sparkSession
        bucket_reps = spark.createDataFrame(
            [], "band int, bh string, rep_id long"
        )
    joined = exploded.join(bucket_reps, ["band", "bh"], "left")
    # min over existing reps (nulls ignored); fall back to in-batch
    # bucket-min for docs with no known bucket
    batch_min = exploded.groupBy("band", "bh").agg(F.min(id_col).alias("_bmin"))
    with_batch = joined.join(batch_min, ["band", "bh"])
    per_doc = with_batch.groupBy(id_col).agg(
        F.min("rep_id").alias("_known"), F.min("_bmin").alias("_batch")
    )
    assignments = per_doc.select(
        id_col,
        F.coalesce(F.col("_known"), F.col("_batch")).alias("rep_id"),
        F.col("_known").isNull().alias("is_new_cluster"),
    )
    # state update: each bucket's rep = min(existing rep, min assigned rep
    # of this batch's members) — old reps always ≤ new ids under monotone
    # id assignment, so existing cluster identities never change
    new_bucket_reps = (
        exploded.join(
            assignments.select(id_col, F.col("rep_id").alias("_arep")), id_col
        )
        .groupBy("band", "bh")
        .agg(F.min("_arep").alias("rep_id"))
    )
    updated = (
        bucket_reps.unionByName(new_bucket_reps)
        .groupBy("band", "bh")
        .agg(F.min("rep_id").alias("rep_id"))
    )
    return assignments, updated


def jaccard_verify(
    grams: DataFrame,
    pairs: DataFrame,
    id_col: str,
    gram_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over candidate pairs (the verify step after LSH).

    ``grams``: one row per (id, gram).  Joins gram sets only for candidate
    pairs; intersection via equi-join, union by inclusion-exclusion.
    Jaccard is computed as an exact integer ratio cast to double —
    cross-engine deterministic.
    """
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    ga = grams.select(F.col(id_col).alias("id_a"), F.col(gram_col).alias("g"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col(gram_col).alias("g"))
    inter = (
        pairs.join(ga, "id_a")
        .join(gb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_bits(token_col: Column | str, num_bits: int = 16) -> list[Column]:
    """Per-token ±1 contributions for each SimHash bit.

    Bit b of a token = parity of hex digit b of md5(token) — a deterministic
    pseudo-random bit family reproducible in any engine with md5 (the
    DuckDB oracle uses the same construction).  Returns ``num_bits`` columns
    valued +1/-1.
    """
    t = F.col(token_col) if isinstance(token_col, str) else token_col
    h = F.md5(t)
    out = []
    for b in range(num_bits):
        hexval = F.instr(F.lit("0123456789abcdef"), F.substring(h, b + 1, 1)) - 1
        out.append(F.when(hexval % 2 == 1, F.lit(1)).otherwise(F.lit(-1)).alias(f"bit{b}"))
    return out


def simhash(
    tokens: DataFrame, id_col: str, token_col: str, num_bits: int = 16
) -> DataFrame:
    """Per-document SimHash signature (string of 0/1) from exploded tokens.

    One aggregation: sum the ±1 bit contributions per doc, sign → bit.
    Near-dup docs (mostly shared tokens) land on equal or nearby signatures;
    grouping by signature buckets is the O(n) dedup pass.
    """
    bits = simhash_bits(F.col(token_col), num_bits)
    sums = tokens.groupBy(id_col).agg(
        *[F.sum(bits[b]).alias(f"s{b}") for b in range(num_bits)]
    )
    bit_strs = [F.when(F.col(f"s{b}") > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(num_bits)]
    return sums.select(id_col, F.concat(*bit_strs).alias("simhash"))


_CEIL_EPS = 1e-9  # subtracted before every ceil of a τ·size product: when
# the exact value is an integer k the IEEE product can land at k+2⁻ⁿ and
# ceil to k+1 — shortening prefixes / over-tightening bounds and silently
# dropping true pairs (r7 ADVICE item 3; e.g. τ=3/17, |s|=85 →
# 15.000000000000002).  ceil(x − 1e-9) returns k for any |error| < 1e-9,
# and a 1e-9 under-estimate only ever LOOSENS a bound (lossless-safe).


def _eps_ceil(col):
    return F.ceil(col - F.lit(_CEIL_EPS))


def set_similarity_candidates_prefix(
    grams: DataFrame,
    id_col: str,
    gram_col: str,
    threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """LOSS-LESS candidate pairs for Jaccard ≥ ``threshold`` via prefix
    filtering with the PPJoin positional bound (AllPairs/PPJoin family) —
    the exact-recall alternative to the probabilistic LSH band block.

    Every gram set is sorted under ONE global total order — ascending
    document frequency, ties by gram text (rarest-first, the order that
    minimizes candidates) — and only its PREFIX of length
    ``|s| − ⌈τ·|s|⌉ + 1`` is exploded for the equi-join.  Prefix-filter
    theorem: for any pair with J ≥ τ the symmetric length bound
    ``|b| ≥ τ·|a|`` forces a required overlap ≥ ⌈τ·|a|⌉, so ≥ 1 common
    gram must fall inside BOTH prefixes — no true pair is lost (the
    DuckDB oracle for the wrapping query is the QUADRATIC exact join;
    equality proves zero false negatives at fixture scale).

    Positional filter (PPJoin): each prefix row carries its 1-based
    position; a joined occurrence at (pa, pb) can contribute at most
    ``1 + min(|a|−pa, |b|−pb)`` total overlap, and a true pair needs
    ``α = ⌈τ/(1+τ)·(|a|+|b|)⌉`` — occurrences below the bound are pruned
    BEFORE the pair distinct.  A true pair's FIRST shared prefix gram
    always satisfies the bound, so pruning stays loss-less.

    Plan (100 TB shape): one gram-frequency hash agg; one hash join
    attaching (df, gram) sort keys to gram rows; one per-id agg building
    the sorted array; posexplode ≤ prefix-length rows per set; ONE self
    equi-join keyed on the prefix gram; pair distinct.  No global window,
    no rank assignment — the (frequency, gram) TUPLE is the order, so the
    vocabulary never funnels through one partition.

    CORPUS CAVEAT (measured, PERF.md r7): candidate count follows the
    frequency of the grams that land in prefixes.  On natural corpora
    vocabulary grows with the data (Heaps' law) and prefixes stay rare;
    on a CLOSED-vocabulary corpus (templated synthetic text) every gram's
    frequency grows linearly with n and the filter degenerates toward
    quadratic — word-BIGRAMS over this fixture kept 44% of all pairs,
    TRIGRAMS 2.5%.  Shingle size is the lever: pick n so the shingle
    vocabulary outgrows the corpus, or use the LSH rows when approximate
    recall is acceptable.

    ``max_df`` (r8, r7 VERDICT item 7) caps that degeneration WITHOUT
    giving up exact recall: prefix occurrences of grams with document
    frequency > ``max_df`` are split out of the self equi-join (whose
    output on a fat gram is df² shuffle rows) and handled per fat gram by
    an exact within-group pass (``applyInPandas`` keyed on the gram: the
    same length + positional bounds evaluated vectorized inside the
    group, emitting only surviving pairs — the quadratic work still
    happens, it is inherent to exact recall on a degenerate corpus, but
    it runs group-local and never materializes the df² candidate rows
    through a shuffle).  Both paths union before the pair-distinct, so
    the loss-lessness proof (quadratic-oracle equality) is preserved;
    ``max_df=None`` keeps the single-join plan.

    All ceil'd τ-products subtract ``_CEIL_EPS`` first — exact-integer
    products otherwise round UP in IEEE and violate the zero-false-
    negative guarantee (r7 ADVICE item 3).

    r11 plan note: the core now runs NARROW (see
    ``set_similarity_candidate_ids``) — prefix rows and the pair-distinct
    shuffle carry only (id, size, position, gram); the sorted gram
    ARRAYS live in a doc-count-sized side table and are joined onto the
    pruned, deduplicated pairs at the very end.  At τ=0.5 the old shape
    pushed every document's full array through ~|s|/2 prefix rows AND
    the pair shuffle — O(|s|²/2) bytes per document; the narrow shape is
    O(|s|) both places.  This is also what makes the prefix tables
    PERSISTABLE as a standing artifact (queries.dedup.ensure_prefix_gram_index).
    """
    sets, prefixes = set_similarity_prefix_tables(grams, id_col, gram_col, threshold)
    ids = set_similarity_candidate_ids(prefixes, id_col, threshold, max_df=max_df)
    return _attach_gram_arrays(ids, sets, id_col)


def set_similarity_prefix_tables(
    grams: DataFrame,
    id_col: str,
    gram_col: str,
    threshold: float,
    vocab: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The two corpus-derived tables the prefix join needs — built with
    the ONLY corpus-sized aggregations in the whole algorithm, so
    persisting them (ensure_prefix_gram_index) makes every later join a
    pure serve:

    - ``sets``: one row per id — (id, __sz, __garr) with the gram array
      sorted under the global (document-frequency asc, gram asc) order.
    - ``prefixes``: ≤ ``|s| − ⌈τ|s|⌉ + 1`` NARROW rows per id —
      (id, __sz, __p, __pg, __pdf); no arrays, so the self-join shuffle
      and the artifact stay O(prefix) not O(prefix·|s|).

    ``vocab`` (r11, incremental maintenance): a FROZEN (gram, __df)
    table from a prior build.  The prefix-filter theorem needs one
    CONSISTENT total order across every set it compares — not the
    CURRENT document frequencies (rarest-first is merely the
    candidate-minimizing choice) — so an appended batch sorted under the
    frozen order composes exactly with the standing tables.  Grams the
    frozen vocab has never seen take df=0 (sort first, ties by gram
    text): still a total order, shared by construction with every other
    appended batch, and a brand-new gram can only match other NEW docs
    anyway.  Candidate optimality degrades as the true dfs drift —
    recall never does; compact/rebuild restores the optimal order."""
    if vocab is None:
        vocab = grams.groupBy(gram_col).agg(F.count("*").alias("__df"))
        keyed = grams.join(vocab, gram_col)
    else:
        keyed = grams.join(
            vocab.select(gram_col, "__df"), gram_col, "left"
        ).withColumn("__df", F.coalesce(F.col("__df"), F.lit(0)))
    per_id = keyed.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__df"), F.col(gram_col).alias("__g")))
        ).alias("__sorted")
    )
    sz = F.size("__sorted")
    sets = per_id.select(
        F.col(id_col),
        sz.alias("__sz"),
        F.transform("__sorted", lambda x: x["__g"]).alias("__garr"),
    )
    prefix_len = sz - _eps_ceil(F.lit(float(threshold)) * sz).cast("int") + F.lit(1)
    prefixes = per_id.select(
        F.col(id_col),
        sz.alias("__sz"),
        F.posexplode(F.slice("__sorted", F.lit(1), prefix_len)).alias("__p", "__ps"),
    ).select(
        id_col, "__sz", "__p",
        F.col("__ps.__g").alias("__pg"), F.col("__ps.__df").alias("__pdf"),
    )
    return sets, prefixes


def set_similarity_candidate_ids(
    prefixes: DataFrame,
    id_col: str,
    threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """Distinct candidate id pairs (id_a, id_b, __sza, __szb) from the
    NARROW prefix table — the prefix-filter equi-join with the length +
    PPJoin positional bounds, no arrays anywhere in the shuffle."""
    t = float(threshold)
    if max_df is None:
        thin, fat_pairs = prefixes, None
    else:
        thin = prefixes.filter(F.col("__pdf") <= max_df)
        fat = prefixes.filter(F.col("__pdf") > max_df)
        # The within-group pair generation is PYTHON-CPU-bound: its cost
        # is quadratic in group size while its input BYTES are tiny, so
        # AQE's byte-based shuffle coalescing would funnel the whole
        # stage onto 1-2 cores when the input is a compact artifact
        # (measured 2x on the served bigram row).  An EXPLICIT numbered
        # repartition on the group key is exempt from AQE coalescing and
        # satisfies FlatMapGroupsInPandas's distribution requirement, so
        # the stage keeps full parallelism.
        n_par = fat.sparkSession.sparkContext.defaultParallelism
        fat_pairs = _fat_gram_pairs(fat.repartition(n_par, "__pg"), id_col, t)
    a = thin.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza"),
        F.col("__p").alias("__pa"), "__pg",
    )
    b = thin.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb"),
        F.col("__p").alias("__pb"), "__pg",
    )
    alpha = _eps_ceil(F.lit(t / (1.0 + t)) * (F.col("__sza") + F.col("__szb")))
    ubound = F.lit(1) + F.least(
        F.col("__sza") - F.col("__pa") - F.lit(1),
        F.col("__szb") - F.col("__pb") - F.lit(1),
    )
    pairs = (
        a.join(b, "__pg")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # symmetric length filter: J ≥ τ ⇒ min(|a|,|b|) ≥ τ·max(|a|,|b|)
            & (F.col("__sza") >= _eps_ceil(F.lit(t) * F.col("__szb")))
            & (F.col("__szb") >= _eps_ceil(F.lit(t) * F.col("__sza")))
            # PPJoin positional bound (posexplode __p is 0-based)
            & (ubound >= alpha)
        )
        .select("id_a", "id_b", "__sza", "__szb")
    )
    if fat_pairs is not None:
        pairs = pairs.unionByName(fat_pairs)
    return pairs.distinct()


def _attach_gram_arrays(ids: DataFrame, sets: DataFrame, id_col: str) -> DataFrame:
    """Join the per-doc sorted gram arrays onto the pruned candidate
    pairs — two hash joins against the doc-count-sized ``sets`` table
    AFTER the distinct, so arrays never ride the candidate shuffle.

    r16 OPT: the verify that consumes this output is CPU-bound per pair
    (array_intersect over the full gram arrays) while the candidate-id
    rows are tiny, so AQE's byte-based coalescing funnels the whole
    verify onto 1-2 cores (profiled at sf0.1: a 2-task 3.7 s-tasktime
    final stage was the served rows' entire wall).  An EXPLICIT numbered
    repartition on the pair key is exempt from AQE coalescing — same
    rationale as the _fat_gram_pairs repartition above — and it shuffles
    only the narrow id rows; the arrays still attach after."""
    n_par = ids.sparkSession.sparkContext.defaultParallelism
    ids = ids.repartition(n_par, "id_a", "id_b")
    ga = sets.select(F.col(id_col).alias("id_a"), F.col("__garr").alias("__garr_a"))
    gb = sets.select(F.col(id_col).alias("id_b"), F.col("__garr").alias("__garr_b"))
    return ids.join(ga, "id_a").join(gb, "id_b").select(
        "id_a", "id_b", "__sza", "__szb", "__garr_a", "__garr_b"
    )


def _fat_gram_pairs(fat: DataFrame, id_col: str, t: float) -> DataFrame:
    """Exact within-group pair generation for prefix occurrences of fat
    (df > max_df) grams: grouped by the gram, the length + positional
    bounds run vectorized over the group's member vectors and only
    surviving pairs leave the executor — the shuffle carries O(df) member
    rows per fat gram instead of O(df²) joined candidate rows.  Same
    bounds (with the same epsilon-guarded ceils) as the join path, so the
    union stays loss-less.  r11: emits NARROW (id_a, id_b, __sza, __szb)
    rows — gram arrays are joined on later, with the thin path's."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    id_type = fat.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("__sza", T.IntegerType()),
        T.StructField("__szb", T.IntegerType()),
    ])

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        szv = pdf["__sz"].to_numpy(dtype=np.float64)
        pv = pdf["__p"].to_numpy(dtype=np.float64)
        ids = pdf[id_col]
        rows: list[tuple] = []
        for i in range(len(pdf) - 1):
            sza, pa = szv[i], pv[i]
            szb, pb = szv[i + 1:], pv[i + 1:]
            keep = (sza >= np.ceil(t * szb - _CEIL_EPS)) & (
                szb >= np.ceil(t * sza - _CEIL_EPS)
            )
            alpha = np.ceil(t / (1.0 + t) * (sza + szb) - _CEIL_EPS)
            ub = 1.0 + np.minimum(sza - pa - 1.0, szb - pb - 1.0)
            keep &= ub >= alpha
            for j in (np.nonzero(keep)[0] + i + 1):
                rows.append((
                    ids.iloc[i], ids.iloc[j],
                    int(szv[i]), int(szv[j]),
                ))
        return pd.DataFrame(rows, columns=["id_a", "id_b", "__sza", "__szb"])

    return fat.groupBy("__pg").applyInPandas(gen, schema=out_schema)


def set_similarity_join(
    grams: DataFrame,
    id_col: str,
    gram_col: str,
    threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """Exact set-similarity self-join: all pairs with Jaccard ≥ threshold,
    with EXACT recall — prefix-filter + positional-bound candidates
    (loss-less, see ``set_similarity_candidates_prefix``), then a
    JOIN-FREE verify: the candidate rows already carry both sorted gram
    arrays, so the intersection is one codegen ``array_intersect`` per
    pair — no pair⋈grams re-join (the r7 rewrite: the join-based
    ``jaccard_verify`` was 4× the candidate cost at sf0.1; arrays of
    tens of grams are cheaper to carry than to re-join).

    This completes the dedup blocking ladder: LSH bands (probabilistic,
    tunable recall) for the 100 TB default; prefix filtering when the
    task demands provably-zero false negatives (compliance-grade dedup,
    contamination audits) at the cost of corpus-sensitive candidate
    counts (operator docstring caveat; ``max_df`` routes fat-gram prefixes
    through the exact within-group fallback instead of the df² join).
    """
    cands = set_similarity_candidates_prefix(
        grams, id_col, gram_col, threshold, max_df=max_df
    )
    inter = F.size(F.array_intersect("__garr_a", "__garr_b"))
    return (
        cands.withColumn("__inter", inter)
        .withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__sza") + F.col("__szb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )

def set_similarity_join_from_tables(
    sets: DataFrame,
    prefixes: DataFrame,
    id_col: str,
    threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """``set_similarity_join`` served from pre-built prefix tables (r11,
    r10 VERDICT item 3): when ``sets``/``prefixes`` come from a standing
    artifact (queries.dedup.ensure_prefix_gram_index) the plan contains
    ZERO corpus-sized aggregations — no gram-frequency agg, no per-id
    sorted-set agg, no gram explode; just the narrow prefix self-join,
    the pair distinct, and two doc-count-sized array joins for the
    verify.  Exact same output as the direct path (same bounds, same
    epsilon-guarded ceils)."""
    ids = set_similarity_candidate_ids(prefixes, id_col, threshold, max_df=max_df)
    cands = _attach_gram_arrays(ids, sets, id_col)
    inter = F.size(F.array_intersect("__garr_a", "__garr_b"))
    return (
        cands.withColumn("__inter", inter)
        .withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__sza") + F.col("__szb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
