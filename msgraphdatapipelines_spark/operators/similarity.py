"""Vector similarity search — brute-force and LSH-bucketed ANN (north-star).

Embeddings are ``array<float>`` columns.  All scoring is JVM-side
(``zip_with`` + ``aggregate``) — no Arrow round trip, no Python in the hot
loop.  For oracle-checked paths the dot products fold left-to-right in
DOUBLE, so an oracle computing the same left-associated sum produces
bit-identical results (see queries/similarity.py).

Scale design (100 TB / billions of vectors):
- brute-force top-k broadcasts the (small) query set against the corpus:
  a broadcast-nested-loop scoring pass, per-partition top-k via window —
  no all-pairs shuffle; correct baseline and the verifier for ANN recall.
- random-hyperplane LSH buckets the corpus once (narrow map), then scores
  only within the query's bucket — the candidate set shrinks by ~2^planes;
  the bucket join is an equi-join Spark hash-partitions, AQE handles
  bucket skew.  Recall/cost is tuned by ``num_planes`` and multi-probe.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _flat_double_array_literal(vals: list[float]) -> Column:
    """One array<double> literal from a (possibly huge) Python list (r10).

    ``F.lit(list)`` unrolls to one py4j ``lit`` call PER ELEMENT — measured
    30 s of driver time for the 65k-entry flattened PQ codebook, which
    dominated the index SERVE path's plan build.  Rendering the values
    into a single ``array(…)`` SQL string and parsing it once costs 0.08 s
    for the same payload.  ``repr(float)`` is Python's shortest
    round-trip rendering and Spark's SQL parser reads it back as the
    bit-identical DOUBLE, so literal VALUES are unchanged — only the
    construction path differs (pinned by the unchanged generated
    oracles).
    """
    return F.expr("array(" + ",".join(repr(float(v)) for v in vals) + ")")


def _centroid_probe_structs(vec: Column, norm: Column, usable) -> Column:
    """Best-first ``array<struct<ns, cent>>`` centroid scoring from ONE
    flat literal + a transform (r10) — the QUERY-side probe construction.
    The unrolled per-centroid literal form costs ~2 ms of driver time per
    py4j call (k·dim calls); this builds O(1) Column objects.  Scoring is
    seq_dot over a slice of the flat literal — identical element order,
    bit-identical scores, same (-cos, cent) lexicographic tie-break.

    Use ONLY on model-sized sides (queries): transform/aggregate HOFs are
    interpreted, not whole-stage-codegen'd — corpus-wide assignment keeps
    the unrolled literal form, which codegens to straight-line
    multiply-adds (see ivf_topk's corpus side / pq_encode).
    """
    dim = len(usable[0][1])
    flat = _flat_double_array_literal([x for _, cv, _ in usable for x in cv])
    cns = _flat_double_array_literal([cn for _, _, cn in usable])
    ids = F.expr("array(" + ",".join(f"{int(cid)}L" for cid, _, _ in usable) + ")")
    return F.sort_array(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(usable) - 1)),
            lambda i: F.struct(
                (
                    -(
                        seq_dot(vec, F.slice(flat, i * dim + 1, dim))
                        / (norm * F.element_at(cns, i + 1))
                    )
                ).alias("ns"),
                F.element_at(ids, i + 1).alias("cent"),
            ),
        )
    )


def seq_dot(a: Column, b: Column) -> Column:
    """Sequential double dot product of two array<double> columns.

    ``aggregate`` folds left-to-right over element order, so the IEEE
    accumulation order is fixed — an oracle computing the same
    left-associated sum (e.g. an inline ``a[1]*b[1] + a[2]*b[2] + …``)
    produces the bit-identical double.  Inputs must already be DOUBLE
    (cast float embeddings first): float math would diverge from a
    double-computing oracle.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine_seq(a: Column, b: Column) -> Column:
    """Deterministic cosine from sequential double dots."""
    return seq_dot(a, b) / (F.sqrt(seq_dot(a, a)) * F.sqrt(seq_dot(b, b)))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec_q: str,
    vec_c: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Broadcast the query side (the small side by construction), score every
    corpus row, keep k per query with a ranking window partitioned by the
    query id.  Output: (id_q, id_c, score, rank).
    """
    # norms are precomputed once per row (narrow map) — scoring each pair
    # then costs one dot, not three; values are bit-identical to the
    # per-pair recomputation since sqrt∘seq_dot is deterministic per row
    qv = F.col(vec_q).cast("array<double>")
    cv = F.col(vec_c).cast("array<double>")
    # zero-norm (all-zero) vectors are dropped: their cosine is 0/0 = NaN,
    # and both Spark and DuckDB sort NaN ABOVE every double in DESC order,
    # so one padding artifact would otherwise take rank 1 for every query
    q = F.broadcast(
        queries.select(
            F.col(id_q).alias("qid"), qv.alias("qv"), F.sqrt(seq_dot(qv, qv)).alias("qn")
        ).filter(F.col("qn") > 0)
    )
    c = corpus.select(
        F.col(id_c).alias("cid"), cv.alias("cv"), F.sqrt(seq_dot(cv, cv)).alias("cn")
    ).filter(F.col("cn") > 0)
    scored = (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("score", seq_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid"), F.col("cid"), F.round("score", 6).alias("score"), "rank"
        )
    )


def hyperplane_bucket(vec: Column, num_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id (string of sign bits).

    Plane p's weight for dimension d is ±1 from the parity of hex digit
    (d mod 32) of md5("p|d") — deterministic, engine-portable, no stored
    plane matrix.  sign(Σ_d w[p,d]·v[d]) per plane → bit string.
    """
    v = vec.cast("array<double>")
    bits = []
    for p in range(num_planes):
        weights = [_plane_weight(p, d) for d in range(dim)]
        arr = F.array(*[F.lit(w) for w in weights])
        dot = seq_dot(v, arr)
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _plane_weight(p: int, d: int) -> float:
    """±1 weight for plane p, dim d — parity of a hex digit of md5(f"{p}|{d}")."""
    import hashlib

    h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
    return 1.0 if int(h[d % 32], 16) % 2 == 1 else -1.0


def flip_bit_buckets(bucket: Column, num_planes: int) -> Column:
    """Multi-probe bucket set: the bucket itself plus every 1-bit flip.

    Raises recall from ~p^planes to covering all near-boundary planes at the
    cost of (planes+1)× candidate lookups — still ~2^planes cheaper than
    brute force.
    """
    variants = [bucket]
    for p in range(num_planes):
        flipped = F.when(F.substring(bucket, p + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
        variants.append(
            F.concat(F.substring(bucket, 1, p), flipped, F.substring(bucket, p + 2, num_planes))
        )
    return F.array(*variants)


def kmeans_centroids(
    corpus: DataFrame,
    id_c: str,
    vec_c: str,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    exact_mean: bool = False,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd k-means over an embedding column — the coarse
    quantizer trainer for ``ivf_topk`` (pass the result as its
    ``centroids``).

    Spark shape per iteration: assignment is a NARROW map against the
    current centroids inlined as literals (same trick as ivf_topk — no
    join), then ONE hash aggregation computes per-centroid element-wise
    means as ``dim`` avg() aggregates.  Driver state is only the k×dim
    centroid matrix (model state).  Empty clusters keep their previous
    centroid.  Deterministic: lowest-id seeding, fixed iteration count,
    float64 math.

    ``exact_mean=True`` makes the per-dimension means order-INDEPENDENT:
    each element is quantized with ``floor(v·1e6)`` (an integer-valued
    double — exact), so partial sums are exact integers (< 2^53 at any
    realistic cluster size) and the division is a single deterministic
    double op.  Trained centroids are then bit-identical across
    partitionings AND engines — no decimal rounding-mode hazards — which
    is what lets the driver-graded ann_kmeans_ivf_topk row reproduce the
    trainer in plain SQL.  The 1e-6 centroid quantization is irrelevant
    for quantizer quality.  Default ``False`` keeps plain double avg():
    cheaper, and the ~1-ulp partial-order wobble doesn't matter when the
    centroids stay engine-side.

    The per-iteration assignment plan (see ``assign_nearest_centroid``)
    inlines centroid literals up to k=64 and switches to the broadcast
    centroid-table path above — large-k training (k∝n at 100 TB) would otherwise hit the same
    Θ(k·dim) expression-tree compilation wall the r6 sweep measured.

    The returned ids are 0..k-1 (centroid index), not corpus ids.
    """
    use_table = k > 64
    cv = F.col(vec_c).cast("array<double>")
    seed = [
        [float(x) for x in r["_v"]]
        for r in corpus.select(F.col(id_c).alias("_id"), cv.alias("_v"))
        .orderBy("_id")
        .limit(k)
        .collect()
    ]
    if len(seed) < k:
        raise ValueError(f"k={k} centroids requested but corpus has only {len(seed)} rows")
    if dim != len(seed[0]):
        raise ValueError(
            f"dim={dim} but vectors have {len(seed[0])} elements "
            "(a too-large dim would silently average NULLs into centroids)"
        )
    cents: list[list[float]] = seed
    data = corpus.select(cv.alias("v"))
    if iters > 1:  # iterative trainer: don't re-scan the source per iteration
        data = data.cache()
    try:
        for _ in range(iters):
            # nearest centroid by squared L2, tie -> lowest index
            assigned = _with_nearest_centroid(
                data, "v", list(enumerate(cents)), use_table, "cent"
            )
            if exact_mean:
                aggs = [
                    (
                        F.sum(F.floor(F.col("v")[i] * 1e6)).cast("double")
                        / (F.lit(1e6) * F.count(F.lit(1)))
                    ).alias(f"m{i}")
                    for i in range(dim)
                ]
            else:
                aggs = [F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(dim)]
            means = assigned.groupBy("cent").agg(*aggs).collect()
            new = {r["cent"]: [r[f"m{i}"] for i in range(dim)] for r in means}
            cents = [new.get(ci, cents[ci]) for ci in range(k)]
    finally:
        if iters > 1:
            data.unpersist()
    return [(ci, c) for ci, c in enumerate(cents)]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec_q: str,
    vec_c: str,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: a coarse quantizer partitions the corpus
    into ``n_centroids`` inverted lists; each query scores only the lists of
    its ``nprobe`` nearest centroids (~nprobe/n_centroids of the corpus).

    Centroids are MODEL STATE, not data: O(C·dim) values collected once and
    inlined as literals, so both list assignment and query probing are
    narrow per-row expressions — argmax/top-nprobe over an inline scored
    struct array, zero joins, zero shuffles.  With the query side broadcast
    the whole plan's only wide step is the final per-query top-k window
    (WindowGroupLimit partial → tiny qid shuffle), identical to
    brute_force_topk — the shape that survives a billion-vector corpus.

    ``centroids`` defaults to the ``n_centroids`` lowest-id corpus vectors
    (deterministic, oracle-expressible).  Production plugs k-means centroids
    into the same parameter; the plan shape is unchanged by how centroids
    were chosen.

    Tie-breaks everywhere are (score DESC, centroid/candidate id ASC), and
    scores are sequential-double cosines (seq_dot) — bit-matchable by a SQL
    oracle computing the same left-associated sums.
    """
    if centroids is None:
        # default centroids come from the NORM-FILTERED corpus (r2 ADVICE):
        # a zero-norm vector among the lowest ids would yield cn=0 → NaN
        # cosines, which Spark's ascending sort_array ranks last (its list
        # silently never probed) while a SQL oracle's ORDER BY DESC ranks
        # NaN first — a cross-engine divergence, not just a quality bug.
        centroids = [
            (r["_cid"], [float(x) for x in r["_cvec"]])
            for r in corpus.select(
                F.col(id_c).alias("_cid"), F.col(vec_c).cast("array<double>").alias("_cvec")
            )
            .withColumn("_cn", F.sqrt(seq_dot(F.col("_cvec"), F.col("_cvec"))))
            .filter(F.col("_cn") > 0)
            .orderBy("_cid")
            .limit(n_centroids)
            .collect()
        ]
    # belt-and-braces for caller-supplied centroids: drop zero-norm ones
    usable = [
        (cid, cvec, math.sqrt(sum(x * x for x in cvec)))
        for cid, cvec in centroids
    ]
    usable = [t for t in usable if t[2] > 0]
    if not usable:
        raise ValueError("ivf_topk: no non-zero-norm centroids available")

    def scored_centroids(vec: Column, norm: Column) -> Column:
        """array<struct<neg_score, centroid_id>>, ascending-sorted = best first."""
        entries = []
        for cid, cvec, cn in usable:
            arr = F.array(*[F.lit(x) for x in cvec])
            score = seq_dot(vec, arr) / (norm * F.lit(cn))
            entries.append(F.struct((-score).alias("ns"), F.lit(cid).alias("cent")))
        return F.sort_array(F.array(*entries))

    qv = F.col(vec_q).cast("array<double>")
    cv = F.col(vec_c).cast("array<double>")
    # zero-norm vectors dropped: NaN cosine sorts above all doubles (see
    # brute_force_topk) and would also corrupt centroid probing
    c = corpus.select(
        F.col(id_c).alias("cid"), cv.alias("cv"), F.sqrt(seq_dot(cv, cv)).alias("cn")
    ).filter(F.col("cn") > 0)
    c = c.withColumn("cent", scored_centroids(F.col("cv"), F.col("cn"))[0]["cent"])
    q = queries.select(
        F.col(id_q).alias("qid"), qv.alias("qv"), F.sqrt(seq_dot(qv, qv)).alias("qn")
    ).filter(F.col("qn") > 0)
    # query-side probe from the flat-literal construction (r10): same
    # scores/tie-break, O(1) Column objects instead of k·dim driver calls
    q = q.withColumn(
        "cent",
        F.explode(
            F.transform(
                F.slice(_centroid_probe_structs(F.col("qv"), F.col("qn"), usable), 1, nprobe),
                lambda s: s["cent"],
            )
        ),
    )
    scored = (
        F.broadcast(q)
        .join(c, "cent")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("score", seq_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", F.round("score", 6).alias("score"), "rank")
    )


def embedding_dedup_representatives(
    corpus: DataFrame,
    id_c: str,
    vec_c: str,
    threshold: float = 0.4,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """O(n) embedding near-dup representative selection — the
    no-pair-materialization counterpart of ``dedup.lsh_dedup_representatives``
    for the vector family (r4, from the 100× sweep: the pair-emitting
    ``dedup_embedding_cosine`` output is Θ(m²) per m-replica cluster).

    Each vector is compared against ONE candidate — its LSH bucket's
    minimum-id vector — and collapses into it when cosine ≥ threshold.
    The bucket-min table has at most 2^planes rows, so the join is a
    BROADCAST: the whole pass is a narrow bucket map + one broadcast join
    + one cosine per row; the only shuffle is the tiny bucket-min
    aggregation.  Single-step approximation: a near-dup of a non-min
    bucket member (but not of the min) survives — the accepted curation
    trade, same contract as the MinHash representative pass.

    Zero-norm vectors keep themselves (NaN cosine never collapses).
    Output: (id, rep_id, cosine_to_rep, kept).
    """
    v = F.col(vec_c).cast("array<double>")
    emb = corpus.select(
        F.col(id_c).alias("_id"),
        v.alias("_v"),
        F.sqrt(seq_dot(v, v)).alias("_n"),
        hyperplane_bucket(F.col(vec_c), num_planes, dim).alias("_b"),
    )
    mins = emb.groupBy("_b").agg(
        F.min_by(F.struct(F.col("_id").alias("mid"), F.col("_v").alias("mv"), F.col("_n").alias("mn")), F.col("_id")).alias("m")
    )
    joined = emb.join(F.broadcast(mins), "_b").select(
        "_id", "_v", "_n", F.col("m.mid").alias("_mid"), F.col("m.mv").alias("_mv"), F.col("m.mn").alias("_mn")
    )
    cos = seq_dot(F.col("_v"), F.col("_mv")) / (F.col("_n") * F.col("_mn"))
    # explicit NaN guard: Spark AND DuckDB order NaN above every double, so
    # a bare `cos >= threshold` would collapse zero-norm vectors into reps
    is_dup = (F.col("_id") != F.col("_mid")) & ~F.isnan(cos) & (cos >= threshold)
    return joined.select(
        F.col("_id").alias(id_c),
        F.when(is_dup, F.col("_mid")).otherwise(F.col("_id")).alias("rep_id"),
        F.round(cos, 6).alias("cosine_to_rep"),
        (~is_dup).alias("kept"),
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec_q: str,
    vec_c: str,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH bucket
    (``multi_probe=True`` also probes every 1-bit-flip neighbor bucket).

    Bucketing is a narrow map on both sides; the join shuffles on the bucket
    key only.  Output schema matches brute_force_topk (+ recall measurable by
    joining the two).
    """
    qb = hyperplane_bucket(F.col(vec_q), num_planes, dim)
    qv = F.col(vec_q).cast("array<double>")
    cv = F.col(vec_c).cast("array<double>")
    # zero-norm vectors dropped (NaN cosine — see brute_force_topk)
    q = queries.select(
        F.col(id_q).alias("qid"),
        qv.alias("qv"),
        F.sqrt(seq_dot(qv, qv)).alias("qn"),
        (
            F.explode(flip_bit_buckets(qb, num_planes)) if multi_probe else qb
        ).alias("bucket"),
    ).filter(F.col("qn") > 0)
    c = corpus.select(
        F.col(id_c).alias("cid"),
        cv.alias("cv"),
        F.sqrt(seq_dot(cv, cv)).alias("cn"),
        hyperplane_bucket(F.col(vec_c), num_planes, dim).alias("bucket"),
    ).filter(F.col("cn") > 0)
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("score", seq_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", F.round("score", 6).alias("score"), "rank")
    )


# ---------------------------------------------------------------- r6: product quantization


def pq_codebooks(
    corpus: DataFrame,
    id_c: str,
    vec_c: str,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: ``m`` subspaces × ``ks`` codewords
    of ``dim/m`` doubles each — MODEL STATE (m·ks·dim/m = dim·ks values),
    collected once and inlined as literals everywhere downstream, exactly
    like the IVF centroids.

    Seeding is deterministic and oracle-expressible: the ``ks`` lowest-id
    non-zero-norm corpus vectors, unit-normalized, sliced into subvectors
    (codebook[s][j] = subvector s of seed vector j).
    """
    dsub = dim // m
    if dsub * m != dim:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    v = F.col(vec_c).cast("array<double>")
    seeds = (
        corpus.select(F.col(id_c).alias("_id"), v.alias("_v"))
        .withColumn("_n", F.sqrt(seq_dot(F.col("_v"), F.col("_v"))))
        .filter(F.col("_n") > 0)
        .orderBy("_id")
        .limit(ks)
        .select(F.transform(F.col("_v"), lambda x: x / F.col("_n")).alias("_u"))
        .collect()
    )
    if len(seeds) < ks:
        raise ValueError(f"ks={ks} codewords requested but corpus has {len(seeds)} usable rows")
    return [
        [[float(x) for x in r["_u"][s * dsub : (s + 1) * dsub]] for r in seeds]
        for s in range(m)
    ]


def pq_encode(
    corpus: DataFrame,
    id_c: str,
    vec_c: str,
    codebooks: list[list[list[float]]],
    dim: int = 64,
) -> DataFrame:
    """Encode each (unit-normalized, non-zero-norm) corpus vector as ``m``
    codeword indices — the compressed representation that makes
    billion-vector ANN storable: m bytes/vector instead of dim floats
    (64-dim float32 → 8-byte code = 32× compression here).  Pure narrow
    map against the literal codebooks; no shuffle, no join.

    Output: (cid, code array<int>).
    """
    m = len(codebooks)
    dsub = dim // m
    v = F.col(vec_c).cast("array<double>")
    norm = (
        corpus.select(F.col(id_c).alias("cid"), v.alias("_v"))
        .withColumn("_n", F.sqrt(seq_dot(F.col("_v"), F.col("_v"))))
        .filter(F.col("_n") > 0)
        .select("cid", F.transform(F.col("_v"), lambda x: x / F.col("_n")).alias("_u"))
    )
    code_s = []
    for s in range(m):
        sub = F.slice(F.col("_u"), s * dsub + 1, dsub)
        entries = []
        for j, cw in enumerate(codebooks[s]):
            arr = F.array(*[F.lit(x) for x in cw])
            d2 = F.aggregate(
                F.zip_with(sub, arr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            entries.append(F.struct(d2.alias("d2"), F.lit(j).alias("j")))
        code_s.append(F.sort_array(F.array(*entries))[0]["j"])
    return norm.select("cid", F.array(*code_s).alias("code"))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec_q: str,
    vec_c: str,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int = 0,
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): corpus vectors live only as
    ``m``-byte codes; each query precomputes a lookup table of its
    subvector dot products against every codeword (m·ks doubles, narrow
    map), and a candidate's approximate cosine is the sum of m table
    lookups — no full-vector math per pair, which at 100 TB means the
    scored corpus representation is ~32× smaller than the raw vectors
    (the standard billion-scale ANN memory play; composable with the IVF
    lists for candidate restriction).

    ``rerank=R`` re-scores the top R ADC candidates per query with exact
    cosine against the raw vectors (the standard two-stage PQ pipeline —
    ADC recall at PQ cost, exact ordering at the top): one extra join of
    R·|queries| rows against the corpus, negligible beside the scan.

    Scoring is deterministic: LUT entries and the m-term sum fold in fixed
    subspace order (left-associated adds), ties break (score DESC, cid
    ASC) — bit-matchable by a SQL oracle building the same expressions.
    Output: (qid, cid, score, rank) — ``score`` is the ADC approximation
    (or the exact rerank cosine when ``rerank>0``).
    """
    if codebooks is None:
        codebooks = pq_codebooks(corpus, id_c, vec_c, m=m, ks=ks, dim=dim)
    m = len(codebooks)
    ks = len(codebooks[0])
    dsub = dim // m
    enc = pq_encode(corpus, id_c, vec_c, codebooks, dim=dim)
    qv = F.col(vec_q).cast("array<double>")
    qn = (
        queries.select(F.col(id_q).alias("qid"), qv.alias("_v"))
        .withColumn("_n", F.sqrt(seq_dot(F.col("_v"), F.col("_v"))))
        .filter(F.col("_n") > 0)
        .select("qid", F.transform(F.col("_v"), lambda x: x / F.col("_n")).alias("_u"))
    )
    # LUT: flattened m·ks array, entry s·ks+j = <q_sub_s, codeword_sj>.
    # r10: built from ONE flat array literal + transform/slice (a single
    # py4j literal call) instead of m·ks unrolled per-codeword literal
    # arrays — the old form created ~65k driver-side Column objects
    # (16·256·16 F.lit calls) and dominated the SERVE path at ~5 s of
    # plan-build per query, pure driver overhead.  The per-entry dot is
    # the same zip_with·aggregate shape as seq_dot (identical
    # left-associated float order), so scores are bit-identical and the
    # generated DuckDB oracles replay unchanged; evaluation moves from
    # unrolled codegen to the HOF interpreter, which only ever runs on
    # the model-sized broadcast QUERY side (never the corpus side — that
    # still does plain element_at lookups).
    flat_cb = _flat_double_array_literal(
        [float(x) for s in range(m) for j in range(ks) for x in codebooks[s][j]]
    )
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m * ks - 1)),
        lambda e: F.aggregate(
            F.zip_with(
                F.slice(F.col("_u"), (e / ks).cast("int") * dsub + 1, dsub),
                F.slice(flat_cb, e * dsub + 1, dsub),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    q = qn.select("qid", lut.alias("lut"))
    # ADC score: left-associated sum of m computed-index lookups
    score = F.element_at(F.col("lut"), F.lit(1) + F.element_at(F.col("code"), 1))
    for s in range(1, m):
        score = score + F.element_at(
            F.col("lut"), F.lit(s * ks + 1) + F.element_at(F.col("code"), s + 1)
        )
    scored = (
        F.broadcast(q)
        .crossJoin(enc)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("score", score)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "cid", F.round("score", 6).alias("score"), "rank")
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("qid", "cid")
    )
    cv = F.col(vec_c).cast("array<double>")
    c = corpus.select(
        F.col(id_c).alias("cid"), cv.alias("cv"), F.sqrt(seq_dot(cv, cv)).alias("cn")
    ).filter(F.col("cn") > 0)
    qfull = queries.select(F.col(id_q).alias("qid"), qv.alias("qv")).withColumn(
        "qn", F.sqrt(seq_dot(F.col("qv"), F.col("qv")))
    ).filter(F.col("qn") > 0)
    exact = (
        cand.join(F.broadcast(qfull), "qid")
        .join(c, "cid")
        .withColumn("score", seq_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", F.round("score", 6).alias("score"), "rank")
    )


def _adc_lut_expr(vcol: Column, ncol: Column, codebooks: list[list[list[float]]]) -> Column:
    """The per-query ADC lookup table from ONE flat codebook literal
    (r10): the unrolled form built m·ks per-codeword literal arrays
    (~65k driver-side Column objects at the 16×256 config) and cost ~5 s
    of plan construction per probe — pure driver overhead on the SERVE
    path.  The per-entry dot keeps seq_dot's exact zip_with·aggregate
    shape (same left-associated float order), so scores are
    bit-identical and every generated oracle replays unchanged; the HOF
    evaluation only runs on the broadcast query side."""
    m = len(codebooks)
    ks = len(codebooks[0])
    dsub = len(codebooks[0][0])
    unit = F.transform(vcol, lambda x: x / ncol)
    flat_cb = _flat_double_array_literal(
        [float(x) for s in range(m) for j in range(ks) for x in codebooks[s][j]]
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(m * ks - 1)),
        lambda e: F.aggregate(
            F.zip_with(
                F.slice(unit, (e / ks).cast("int") * dsub + 1, dsub),
                F.slice(flat_cb, e * dsub + 1, dsub),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def _adc_score_expr(m: int, ks: int) -> Column:
    """Σ lut[s·ks + code[s]] — the asymmetric-distance score of one
    indexed row against the joined query's lookup table."""
    score = F.element_at(F.col("lut"), F.lit(1) + F.element_at(F.col("code"), 1))
    for s in range(1, m):
        score = score + F.element_at(
            F.col("lut"), F.lit(s * ks + 1) + F.element_at(F.col("code"), s + 1)
        )
    return score


def _probe_cent_frame(
    qn: DataFrame, usable, nprobe: int, payload: Column | None = None
) -> DataFrame:
    """``(qid, cent[, lut])`` — one row per (query, probed coarse list),
    from a prepared ``(qid, _v, _n)`` query frame.  THE single definition
    of which lists a query batch probes: ``ivf_pq_topk``'s candidate join
    and the served path's pushdown set both come from here, so a pruned
    artifact scan can never miss a list the join would have probed
    (divergence would be silent recall loss, not an error — the join on
    ``cent`` simply finds no rows for the missing list).

    ≤64 centroids: the flat-literal probe expression (r10) — the
    oracle-replayable graded configuration.  Above: the broadcast
    centroid-table path (r9: centroids as DATA through one O(1)-size
    higher-order expression — the Catalyst-tree-wall escape; k=256
    literal trees destabilized the driver, PERF.md late-r6).  Both score
    by the identical (-cos, cent) lexicographic sort → same lowest-id
    tie-break."""
    if len(usable) <= 64:
        probed = F.slice(
            _centroid_probe_structs(F.col("_v"), F.col("_n"), usable), 1, nprobe
        )
        qp = qn
    else:
        cent_rows = [([(int(cid), [float(x) for x in cvec], float(cn))
                       for cid, cvec, cn in usable],)]
        cent_df = qn.sparkSession.createDataFrame(
            cent_rows,
            "_cents array<struct<cent: long, vec: array<double>, cn: double>>",
        )
        scored_tab = F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                (-(seq_dot(F.col("_v"), c["vec"]) / (F.col("_n") * c["cn"]))).alias("ns"),
                c["cent"].alias("cent"),
            ),
        )
        probed = F.slice(F.sort_array(scored_tab), 1, nprobe)
        qp = qn.crossJoin(F.broadcast(cent_df))
    out = qp.withColumn("cent", F.explode(F.transform(probed, lambda s: s["cent"])))
    cols = ["qid", "cent"] + ([payload.alias("lut")] if payload is not None else [])
    return out.select(*cols)


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec_q: str,
    vec_c: str,
    k: int = 5,
    nprobe: int = 2,
    dim: int = 64,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int = 0,
    index: DataFrame | None = None,
    index_pruner=None,
) -> DataFrame:
    """IVF + PQ — the composed billion-scale ANN shape: the coarse
    quantizer (IVF centroids) restricts each query to its ``nprobe``
    nearest inverted lists (~nprobe/#centroids of the corpus), and within
    those lists candidates are scored from their m-byte PQ codes via
    the query's lookup table — so the hot path touches neither the full
    corpus nor any full vector: candidate set pruned by IVF, per-candidate
    cost collapsed by PQ.  Both models are literal state (centroids
    k×dim, codebooks dim×ks); corpus-side list assignment and encoding
    are one narrow map, the probe join is the same broadcast equi-join as
    ``ivf_topk``, and ``rerank=R`` optionally re-scores the top R with
    exact cosine (two-stage pipeline, same contract as ``pq_topk``).
    Without ``centroids`` the 8 lowest-id non-zero corpus vectors seed the
    lists; without ``codebooks``, :func:`pq_codebooks`' defaults apply.

    At 100 TB this is the layout you would persist: parquet of
    (cent, code) — a ~32× smaller, pruned, scannable index.
    """
    if centroids is None:
        centroids = [
            (r["_cid"], [float(x) for x in r["_cvec"]])
            for r in corpus.select(
                F.col(id_c).alias("_cid"), F.col(vec_c).cast("array<double>").alias("_cvec")
            )
            .withColumn("_cn", F.sqrt(seq_dot(F.col("_cvec"), F.col("_cvec"))))
            .filter(F.col("_cn") > 0)
            .orderBy("_cid")
            .limit(8)
            .collect()
        ]
    if codebooks is None:
        codebooks = pq_codebooks(corpus, id_c, vec_c, dim=dim)
    m = len(codebooks)
    ks = len(codebooks[0])
    dsub = dim // m
    usable = [
        (cid, cvec, math.sqrt(sum(x * x for x in cvec))) for cid, cvec in centroids
    ]
    usable = [t for t in usable if t[2] > 0]
    if not usable:
        raise ValueError("ivf_pq_topk: no non-zero-norm centroids available")

    cv = F.col(vec_c).cast("array<double>")
    # corpus index: (cid, cent, code) — ONE narrow map; at scale this is
    # the persisted artifact, passed in via ``index=`` (r7); rebuilt
    # only when the models retrain
    indexed = index
    if indexed is None and index_pruner is None:
        indexed = ivf_pq_index(corpus, id_c, vec_c, centroids, codebooks, dim=dim)

    qv = F.col(vec_q).cast("array<double>")
    qn = (
        queries.select(F.col(id_q).alias("qid"), qv.alias("_v"))
        .withColumn("_n", F.sqrt(seq_dot(F.col("_v"), F.col("_v"))))
        .filter(F.col("_n") > 0)
    )
    lut_col = _adc_lut_expr(F.col("_v"), F.col("_n"), codebooks)
    q = _probe_cent_frame(qn, usable, nprobe, payload=lut_col)
    if index_pruner is not None:
        # probe-list pushdown (late r12): collect THE JOIN'S OWN probe
        # frame's distinct lists (query-batch-sized job, planning-sized
        # result) and let the caller hand back a file-pruned slice of the
        # standing artifact (sinks.read_snapshot_pruned_in) — exact by
        # construction, because the pruning set and the join probe the
        # same frame.  Overrides ``index``: the pruner IS the artifact.
        # q is evaluated twice (prune-set collect + join); a recomputed
        # NON-deterministic source could otherwise probe a list the
        # frozen prune set dropped — silent recall loss.  The isin clamp
        # below makes "prune set ⊇ join probe set" structural (a no-op
        # filter for deterministic sources), so the pruned slice can
        # never miss a list the join actually probes.
        probed_lists = sorted(
            r["cent"] for r in q.select("cent").distinct().collect()
        )
        q = q.filter(F.col("cent").isin(probed_lists))
        indexed = index_pruner(probed_lists)

    score = _adc_score_expr(m, ks)
    scored = (
        F.broadcast(q)
        .join(indexed, "cent")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("score", score)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "cid", F.round("score", 6).alias("score"), "rank")
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("qid", "cid")
    )
    cfull = corpus.select(
        F.col(id_c).alias("cid"), cv.alias("cv"), F.sqrt(seq_dot(cv, cv)).alias("cn")
    ).filter(F.col("cn") > 0)
    qfull = queries.select(F.col(id_q).alias("qid"), qv.alias("qv")).withColumn(
        "qn", F.sqrt(seq_dot(F.col("qv"), F.col("qv")))
    ).filter(F.col("qn") > 0)
    exact = (
        cand.join(F.broadcast(qfull), "qid")
        .join(cfull, "cid")
        .withColumn("score", seq_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", F.round("score", 6).alias("score"), "rank")
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
) -> DataFrame:
    """Recall@k as a first-class queryable metric (r6 VERDICT item 7) —
    the number every ANN deployment tunes planes/nprobe/m against,
    promoted from pytest-only arithmetic to an operator.

    Input: two (qid, cid) neighbor frames — an approximate index's top-k
    and the exact baseline's (``brute_force_topk``).  Output: one row per
    query — ``(qid, n_exact, n_hit, recall)`` with
    ``recall = |approx ∩ exact| / |exact|`` (macro recall is then
    ``avg(recall)``, micro is ``sum(n_hit)/sum(n_exact)``).

    Scale shape: one LEFT SEMI equi-join on (qid, cid) — the approx side
    is typically the small one (q·k rows), broadcast by AQE — plus two
    map-combinable count aggregations keyed on qid.  No vector math: the
    metric only needs id sets, so it costs nothing even when the exact
    side came from a billion-vector ground-truth sample.  Queries the
    exact baseline knows but the index returned nothing for still appear
    (n_hit = 0) — silently dropping them would inflate recall.
    """
    e = exact.select("qid", "cid")
    a = approx.select("qid", "cid")
    hit = e.join(a, ["qid", "cid"], "left_semi").groupBy("qid").agg(
        F.count("*").alias("n_hit")
    )
    per_q = e.groupBy("qid").agg(F.count("*").alias("n_exact"))
    return per_q.join(hit, "qid", "left").select(
        "qid",
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact")
        ).alias("recall"),
    )


def assign_nearest_centroid(
    corpus: DataFrame,
    id_c: str,
    vec_c: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Nearest-centroid (squared-L2, ties to lowest centroid id) cluster
    assignment — the quantizer-apply step shared by SemDeDup and any
    IVF-style bucketing.  Returns ``(_id, _v, _n, cluster_id)`` with
    ``_v`` cast to array<double> and ``_n`` its L2 norm.

    Two physically different plans with IDENTICAL semantics
    (pytest-pinned equivalence, tests/test_similarity.py):

    - literal, up to 64 centroids — k per-centroid struct expressions inlined as
      literals and argmin'd with ``sort_array(...)[0]`` (the
      ivf_topk/kmeans trick).  Zero joins and fastest at small k, but the
      expression TREE is Θ(k·dim): measured fine to k≈64, k=256
      destabilized the driver during Catalyst compilation (PERF.md
      late-r6) — the tree, not the data, is the bottleneck.
    - table, above 64 centroids — centroids ship as BROADCAST DATA: one 1-row
      frame holding ``array<struct<ci,vec>>``, cross-joined (broadcast —
      a narrow 1-row fan-in, not a cartesian hazard), scored with ONE
      constant-size higher-order expression (``transform`` computing d2
      per element, ``array_min`` for the argmin — struct comparison is
      lexicographic on (d2, ci), the same tie-break).  Expression size is
      O(1) in k; k×dim doubles ride the broadcast.  This is the path that
      honors SemDeDup's k∝n contract at 100 TB (k in the thousands).
    """
    use_table = len(centroids) > 64
    v = F.col(vec_c).cast("array<double>")
    base = corpus.select(
        F.col(id_c).alias("_id"),
        v.alias("_v"),
        F.sqrt(seq_dot(v, v)).alias("_n"),
    )
    return _with_nearest_centroid(base, "_v", centroids, use_table, "cluster_id")


def _with_nearest_centroid(
    df: DataFrame,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    use_table: bool,
    out_col: str,
) -> DataFrame:
    """Append ``out_col`` = id of the squared-L2-nearest centroid (ties to
    lowest id).  ``vec_col`` must already be array<double>.  See
    ``assign_nearest_centroid`` for the literal-vs-table plan trade-off."""
    v = F.col(vec_col)
    if not use_table:
        entries = []
        for ci, c in sorted(centroids):
            arr = F.array(*[F.lit(float(x)) for x in c])
            d2 = F.aggregate(
                F.zip_with(v, arr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            entries.append(F.struct(d2.alias("d2"), F.lit(ci).alias("ci")))
        return df.withColumn(
            out_col, F.sort_array(F.array(*entries))[0]["ci"].cast("long")
        )
    cent_rows = [([(int(ci), [float(x) for x in c]) for ci, c in sorted(centroids)],)]
    cent_df = df.sparkSession.createDataFrame(
        cent_rows, "_cents array<struct<ci: long, vec: array<double>>>"
    )
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(v, c["vec"], lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c["ci"].alias("ci"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(cent_df))
        .withColumn(out_col, F.array_min(scored)["ci"].cast("long"))
        .drop("_cents")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_c: str,
    vec_c: str,
    centroids: list[tuple[int, list[float]]],
    tau: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
    space with a (pre-trained) k-means quantizer, then drop every document
    that has a SMALLER-ID neighbor in the SAME cluster with cosine ≥ tau —
    one survivor per semantic-duplicate group, found without any cross-
    cluster comparison.

    Spark shape:
    - cluster assignment is ``assign_nearest_centroid`` (see its docstring):
      the inline-literal narrow map up to 64 centroids and the BROADCAST CENTROID-TABLE path above it — the
      table path's expression is O(1) in k, so the operator's own k∝n
      contract (below) is now satisfiable at any k (k=256 on the 100×
      corpus completes where the literal path destabilized the driver —
      PERF.md r7 sweep datapoint);
    - the candidate scan is a within-cluster self-equi-join on cluster id —
      Θ(Σ m_c²) cosines, the published SemDeDup cost, which stays bounded
      because k grows with the corpus (m_c ≈ n/k docs per cluster); the
      join itself is hash-partitioned by cluster, never a cartesian.
      NOTE the k∝n contract is the operator's scale requirement: a fixed
      small k at a 100× corpus turns the pair scan into Θ(n²/k) — the
      algorithm's documented behavior under a mis-sized k;
    - the dropped-id set distincts on id and folds back with one LEFT join
      (AQE broadcasts it when small).

    Zero-norm vectors keep themselves: the NaN-cosine guard prevents the
    ANSI-mode DIVIDE_BY_ZERO error and the `NaN >= tau` trap (the divisor
    nullifs to NULL, whose comparison is never true).

    The assigned frame is pinned with an eager
    ``localCheckpoint`` so its three consumers (both self-join sides + the
    final fold-back) read ONE materialization instead of re-running the
    k×dim assignment map per branch — the r5 ivf lesson; same
    executor-loss caveat as ``sinks.with_surrogate_key`` (long clusters:
    prefer reliable checkpointing for the pinned frame).

    Output: one row per input — ``(id_c, cluster_id, kept)``.
    """
    assigned = assign_nearest_centroid(corpus, id_c, vec_c, centroids).localCheckpoint(
        eager=True
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    # ANSI-safe zero-norm guard: a 0 divisor must yield NULL (→ filter
    # false, vector keeps itself), not a DIVIDE_BY_ZERO error or a NaN
    # that sorts above tau
    prod = F.col("a._n") * F.col("b._n")
    cos = seq_dot(F.col("a._v"), F.col("b._v")) / F.nullif(prod, F.lit(0.0))
    dropped = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("b._id") < F.col("a._id")),
        )
        .filter(cos >= tau)
        .select(F.col("a._id").alias("_did"))
        .distinct()
    )
    return (
        assigned.join(dropped, assigned["_id"] == dropped["_did"], "left")
        .select(
            F.col("_id").alias(id_c),
            "cluster_id",
            F.col("_did").isNull().alias("kept"),
        )
    )


def mmr_rerank(cands: DataFrame, k: int = 4, lam: float = 0.5) -> DataFrame:
    """Maximal-marginal-relevance diversified re-ranking (r7) — the RAG
    retrieval stage after ANN: from each query's candidate list, greedily
    pick ``k`` results maximizing ``lam·relevance − (1−lam)·redundancy``,
    where redundancy is the max cosine to the already-picked set — near
    duplicates of an already-chosen result are suppressed (Carbonell &
    Goldstein 1998).

    Input: ``(qid, cid, score DOUBLE, cv array<double>)`` — N candidates
    per query (N bounded by the upstream top-N, e.g. 16).  Output:
    ``(qid, cid, rank, score, mmr)`` with rank 1..k in pick order.

    Execution: k unrolled rounds; each round is ONE per-qid argmax window
    (rank-filter → WindowGroupLimit-size state) and ONE equi-join of the
    survivors with the round's 1-row-per-qid pick to fold the new cosine
    into a running ``greatest`` — redundancy is maintained INCREMENTALLY,
    so round t costs O(N) cosines per query, not O(N·t).  Everything is
    per-qid: shuffles partition on qid and parallelize across queries.
    The plan branches per round (pick ∪ rest both derive from the round
    input); at the default k≈4 lazy composition is fine — for larger k,
    ``localCheckpoint`` the round input (the CC/pagerank discipline).

    Determinism: relevance scores and cosines are sequential-double
    ``seq_dot`` values and ``lam`` should be an exact binary fraction
    (default 0.5), so every round's ordering replays bit-identically in a
    SQL twin using left-associated inline sums (ties break on cid asc).
    """
    w_mmr = Window.partitionBy("qid").orderBy(F.desc("mmr"), F.asc("cid"))
    cur = cands.select("qid", "cid", "score", "cv", F.lit(0.0).alias("red"))
    outs = []
    for t in range(1, k + 1):
        ranked = cur.withColumn(
            "mmr", F.lit(lam) * F.col("score") - F.lit(1 - lam) * F.col("red")
        ).withColumn("rn", F.row_number().over(w_mmr))
        pick = ranked.filter(F.col("rn") == 1)
        outs.append(
            pick.select(
                "qid",
                "cid",
                F.lit(t).cast("long").alias("rank"),
                F.round("score", 6).alias("score"),
                F.round("mmr", 6).alias("mmr"),
            )
        )
        if t == k:
            break
        rest = ranked.filter(F.col("rn") > 1).select("qid", "cid", "score", "cv", "red")
        cur = (
            rest.join(pick.select("qid", F.col("cv").alias("sv")), "qid")
            .withColumn("red", F.greatest(F.col("red"), cosine_seq(F.col("cv"), F.col("sv"))))
            .select("qid", "cid", "score", "cv", "red")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def srp_project(vec: Column, planes: int = 16, dim: int = 64) -> Column:
    """Signed-random-projection dimensionality reduction (r7): project a
    ``dim``-vector onto ``planes`` deterministic ±1 hyperplanes (the same
    md5-parity weights as ``hyperplane_bucket``, but keeping the REAL
    projection values instead of sign bits) — a Johnson-Lindenstrauss
    sketch: reduced-space cosines concentrate around true cosines, with
    dim/planes× less data to score (64→16 = 4× here, 4096→64 = 64× on
    production embedding widths).

    Execution is an Arrow-vectorized pandas UDF doing the matrix product
    with ORDER-EXACT accumulation: one float64 vector accumulator per
    plane, added dimension-by-dimension, so every component is the same
    left-associated IEEE chain an inline ``v[1]·w1 + v[2]·w2 + …`` SQL
    sum produces — bit-identical to the oracle, at numpy speed.  (The
    pure-expression form — planes·dim literal multiply-add terms — blows
    past the codegen method limit and falls back to a 1,536-node
    interpreted tree: measured DNF at the 100× sweep, minutes-per-100k
    rows.  This is the sanctioned Pandas-UDF exception: vectorized,
    Arrow-batched, and only because codegen cannot express it.)  No
    shuffle; the reduced column is the persistable index artifact.
    Candidate generation then scores in reduced space and exact-reranks a
    top-C pool, exactly like PQ's ADC + rerank — SRP trades PQ's codebook
    training for a data-independent projection.
    """
    import numpy as np
    import pandas as pd

    W = [[_plane_weight(p, d) for d in range(dim)] for p in range(planes)]

    @F.pandas_udf("array<double>")
    def _proj(batch):
        M = np.array(batch.tolist(), dtype=np.float64)  # (n, dim)
        if M.size == 0:
            return pd.Series([], dtype=object)
        comps = []
        for p in range(planes):
            acc = np.zeros(len(M), dtype=np.float64)
            for d in range(dim):
                # acc += term, one dim at a time: the left-associated
                # IEEE chain ((t1+t2)+t3)… the SQL twin computes
                acc = acc + M[:, d] * W[p][d]
            comps.append(acc)
        return pd.Series(list(np.stack(comps, axis=1)))

    return _proj(vec)


def ivf_pq_index(
    corpus: DataFrame,
    id_c: str,
    vec_c: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    dim: int = 64,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The persisted IVF+PQ index rows ``(cid, cent, code[, *meta_cols])``
    for a corpus
    under FIXED trained models — exactly the artifact ``ivf_pq_topk``
    builds inline (similarity.py:733-741), factored out so it can be
    written once and APPENDED to incrementally instead of rebuilt per
    refresh.

    Assignment is cosine-nearest centroid — the same scoring
    ``ivf_pq_topk`` probes with, so probe lists and index lists agree.
    Plan auto-switches on k (r9, the SemDeDup large-k lesson applied
    here too): literal-expression assignment (Θ(k·dim) tree) up to
    k=64 — the oracle-replayable graded configuration — and the
    BROADCAST CENTROID-TABLE path above it, on unit-normalized vectors
    against unit-normalized centroids (argmin L2 ≡ argmax cosine on the
    unit sphere, identical lowest-id tie-break), so a √n-centroid
    standing index builds without the Catalyst expression-tree wall.
    One narrow map; no shuffle beyond the 1-row broadcast, no old-row
    access.

    ``meta_cols`` (r12): corpus metadata columns carried into the index
    layout verbatim — how the FILTERED serve path
    (``filtered_ivf_pq_topk``) scopes probes to a predicate without
    touching the corpus at query time (the vector-store "metadata
    payload" pattern).
    """
    import math as _math

    usable = [
        (cid, cvec, _math.sqrt(sum(x * x for x in cvec))) for cid, cvec in centroids
    ]
    usable = [t for t in usable if t[2] > 0]
    if not usable:
        raise ValueError("ivf_pq_index: no non-zero-norm centroids")
    cv = F.col(vec_c).cast("array<double>")
    c = corpus.select(
        F.col(id_c).alias("cid"),
        cv.alias("_cv"),
        F.sqrt(seq_dot(cv, cv)).alias("_cn"),
        *[F.col(mc) for mc in meta_cols],
    ).filter(F.col("_cn") > 0)
    if len(usable) <= 64:
        entries = []
        for cid, cvec, cn in usable:
            arr = F.array(*[F.lit(x) for x in cvec])
            score = seq_dot(F.col("_cv"), arr) / (F.col("_cn") * F.lit(cn))
            entries.append(F.struct((-score).alias("ns"), F.lit(cid).alias("cent")))
        c = c.withColumn("cent", F.sort_array(F.array(*entries))[0]["cent"])
    else:
        unit_cents = [
            (cid, [x / cn for x in cvec]) for cid, cvec, cn in usable
        ]
        c = _with_nearest_centroid(
            c.withColumn(
                "_uv", F.transform(F.col("_cv"), lambda x: x / F.col("_cn"))
            ),
            "_uv",
            unit_cents,
            True,
            "cent",
        ).drop("_uv")
    enc = pq_encode(c.select("cid", F.col("_cv").alias("v")), "cid", "v", codebooks, dim=dim)
    return c.select("cid", "cent", *meta_cols).join(enc, "cid")


def hard_negatives(
    candidates: DataFrame,
    positives: DataFrame,
    k: int,
) -> DataFrame:
    """Hard-negative mining (r8): from a per-query CANDIDATE ranking
    (typically the ANN index's top-N — high-similarity, cheap), remove
    the known POSITIVES and keep the ``k`` highest-scoring survivors —
    the negatives that look most like positives, the standard mining step
    for contrastive/embedding training (in-batch random negatives are
    too easy; hard ones carry the gradient signal).

    Plan: one LEFT-ANTI join of candidates against positives on
    (qid, cid) — positives per query are few, so the anti-join's right
    side broadcasts — then one per-qid ranking window over the ≤N
    surviving candidate rows (WindowGroupLimit heap).  Composes directly
    with ``queries.similarity.indexed_candidates``: candidate generation
    already tracks nprobe·list size, so mining cost is independent of
    corpus size at serve time."""
    from pyspark.sql import Window

    pos = positives.select("qid", "cid")
    surv = candidates.join(F.broadcast(pos), ["qid", "cid"], "left_anti")
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        surv.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= k)
        .select("qid", "cid", F.round(F.col("score"), 6).alias("score"), "neg_rank")
    )


def filtered_brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec_q: str,
    vec_c: str,
    k: int = 5,
    match_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Metadata-FILTERED exact top-k cosine neighbors (late r10): every
    modern vector store's "search within a predicate" — per query, rank
    only the corpus rows agreeing on ``match_cols`` (e.g. label, tenant,
    language).

    Plan shape is the important difference from :func:`brute_force_topk`:
    the metadata equality turns the scoring join from a broadcast
    nested loop into an EQUI join on the filter key, so candidates
    hash-partition by predicate value and each query scores only its
    slice — at 100 TB a selective predicate reduces the exact search to
    the matching partition instead of the corpus (the pre-filtered
    search strategy; the alternative, post-filtering an unfiltered ANN
    probe, loses recall when the filter is selective).  Output:
    (qid, cid, score, rank) — score discipline identical to the
    unfiltered operator (per-row norms, seq_dot, NaN-dropping)."""
    qv = F.col(vec_q).cast("array<double>")
    cv = F.col(vec_c).cast("array<double>")
    q = F.broadcast(
        queries.select(
            F.col(id_q).alias("qid"),
            qv.alias("qv"),
            F.sqrt(seq_dot(qv, qv)).alias("qn"),
            *[F.col(c).alias(f"_mq_{c}") for c in match_cols],
        ).filter(F.col("qn") > 0)
    )
    c = corpus.select(
        F.col(id_c).alias("cid"),
        cv.alias("cv"),
        F.sqrt(seq_dot(cv, cv)).alias("cn"),
        *[F.col(c2) for c2 in match_cols],
    ).filter(F.col("cn") > 0)
    cond = [F.col(f"_mq_{m}") == F.col(m) for m in match_cols]
    scored = (
        c.join(q, cond if cond else None)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn(
            "score", seq_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("qid"), F.col("cid"), F.round("score", 6).alias("score"), "rank")
    )


def range_filtered_ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec_q: str,
    vec_c: str,
    lo,
    hi,
    k: int = 5,
    nprobe: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int = 50,
    range_lists: DataFrame | list | None = None,
    index_pruner=None,
    dim: int = 64,
) -> DataFrame:
    """NUMERIC-RANGE filtered vector search (r13, r12 VERDICT item 6):
    top-``k`` cosine neighbors among corpus rows with ``lo <= id <= hi``
    — the "search only this id/time window" pattern (recency-filtered
    retrieval), the range sibling of ``filtered_ivf_pq_topk``'s label
    equality.

    Steering: ``range_lists`` is the persisted MODEL-SIZED per-list
    (cent, min_id, max_id) zonemap riding the same manifest discipline
    as the label summary — the probe keeps only lists whose id interval
    OVERLAPS [lo, hi] (no false negatives: a list that might hold an
    in-range row is kept) and ranks the survivors by query-centroid
    cosine, so nprobe is never wasted on lists the residual filter would
    empty out.  On an ingest where ids correlate with arrival (the
    common case: monotonic ids, time-clustered upserts) the per-list
    intervals are tight and a narrow window prunes most lists; on
    id-uniform ingest every list overlaps and steering degrades to the
    plain probe — correct either way, because membership is re-checked
    by the residual ``BETWEEN`` on the candidates.

    Composition (same contract as the label path): ``index_pruner``
    hands in the standing artifact; the residual range filter applies to the artifact rows BEFORE ADC
    ranking and the exact rerank joins only in-range corpus vectors, so
    rank ≤ rerank counts in-range candidates only.  The kept-list
    collect is model-sized (≤ n_centroids rows) — no corpus-sized
    planning work."""
    if range_lists is None:
        raise ValueError("range_filtered_ivf_pq_topk requires the range_lists summary")
    if centroids is None or codebooks is None:
        raise ValueError("range_filtered_ivf_pq_topk requires trained models")
    if isinstance(range_lists, list):
        # pre-collected summary rows (r16, serve-path planning
        # amortization): the interval overlap runs driver-side over the
        # ≤ n_centroids cached rows — zero Spark jobs for the steering
        allowed = {
            int(r["cent"])
            for r in range_lists
            if r["min_id"] <= hi and r["max_id"] >= lo
        }
    else:
        allowed = {
            int(r["cent"])
            for r in range_lists.filter(
                (F.col("min_id") <= F.lit(hi)) & (F.col("max_id") >= F.lit(lo))
            )
            .select("cent")
            .collect()
        }
    cents_allowed = [(cid, v) for cid, v in centroids if int(cid) in allowed]
    if not cents_allowed:
        # empty window: no list can hold an in-range row
        return (
            queries.select(F.col(id_q).alias("qid"))
            .withColumn("cid", F.col("qid"))
            .withColumn("score", F.lit(0.0))
            .withColumn("rank", F.lit(0).cast("long"))
            .filter(F.lit(False))
        )
    in_range = F.col("cid").between(F.lit(lo), F.lit(hi))
    pruner = None
    if index_pruner is not None:
        pruner = lambda cents_: index_pruner(cents_).filter(in_range)  # noqa: E731
    return ivf_pq_topk(
        queries,
        corpus.filter(F.col(id_c).between(F.lit(lo), F.lit(hi))),
        id_q,
        id_c,
        vec_q,
        vec_c,
        k=k,
        nprobe=nprobe,
        centroids=cents_allowed,
        codebooks=codebooks,
        rerank=rerank,
        index_pruner=pruner,
        dim=dim,
    )


def filtered_ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec_q: str,
    vec_c: str,
    label_q: str,
    k: int = 5,
    nprobe: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int = 50,
    index: DataFrame | None = None,
    label_lists: DataFrame | None = None,
    dim: int = 64,
    min_candidates: int = 0,
    index_pruner=None,
    id_range: tuple | None = None,
    range_lists: DataFrame | list | None = None,
) -> DataFrame:
    """Metadata-FILTERED retrieval served FROM the standing IVF+PQ index
    (r12, r11 VERDICT item 1): per query, probe the ``nprobe`` nearest
    centroids WHOSE (label, cent) LIST IS NON-EMPTY and ADC-score only
    the index rows matching the query's label — the per-list predicate
    probe every production vector store runs for "search within a
    filter", replacing the exact-but-brute-force
    :func:`filtered_brute_force_topk` scan at scale.

    Inputs beyond :func:`ivf_pq_topk`:

    - ``index`` must carry the label payload column (built with
      ``ivf_pq_index(..., meta_cols=(label,))``) — the probe join
      filters on it directly, so the corpus is never consulted for
      metadata at query time;
    - ``label_lists`` is the persisted MODEL-SIZED (label, cent) summary
      (≤ |labels|·|centroids| rows) that steers each query's probe to
      centroids that actually contain its label — without it, a
      selective label whose members live in unprobed lists would return
      zero candidates (the post-filtering recall trap this operator
      exists to avoid).

    Plan: broadcast(label→cents map, model-sized) → per-query ranked
    centroid structs filtered to the label's cents → slice nprobe →
    explode → broadcast equi-join against the index on cent + label
    equality (the probe touches nprobe label-scoped lists, never the
    corpus) → ADC score → top-``rerank`` pool → exact cosine rerank (the
    only corpus access: a candidate-sized id-lookup join for full
    vectors, identical to ``ivf_pq_topk``'s rerank).  Recall caveat is
    the standard IVF one scoped per label: exact within the probed
    lists; raise nprobe (or rerank) for selective labels — at fixture
    scale nprobe=2 of 8 lists reproduces the exact filtered ranking
    (pinned by test_similarity's recall assertion).

    ``min_candidates`` (r12): the CANDIDATE-BUDGET probe — the automatic
    form of "raise nprobe under a selective filter".  When > 0 (requires
    ``label_lists`` to carry per-list counts ``n``), each query keeps
    extending past its ``nprobe`` nearest label-scoped lists until the
    kept lists' cumulative membership reaches the budget (or the label's
    lists are exhausted — then the search is exhaustive within the label
    and exact).  A thin, scattered label automatically probes more
    lists; a dense label stays at nprobe — per-query probe cost adapts
    to predicate selectivity instead of a global knob.  The cumulative
    cut is a higher-order fold over the MODEL-SIZED ranked-list array,
    so it adds no corpus work and no shuffle.

    ``id_range=(lo, hi)`` (r13): COMPOSE the label predicate with a
    numeric id window — "same label AND in this id/time range", the
    conjunctive filter production stores serve.  Requires
    ``range_lists`` (the per-list (cent, min_id, max_id) zonemap the
    range serve keeps): the label steering is intersected with the
    window-overlapping lists (both summaries are model-sized, the
    intersection is planning-side), candidates are residual-filtered
    ``BETWEEN`` before ADC ranking, and the exact rerank joins only
    in-range corpus vectors.  Caveat when combined with
    ``min_candidates``: the per-list counts ``n`` count LABEL members,
    an upper bound on label∧range members — the budget can under-extend
    under a narrow window; raise the budget accordingly.
    """
    if (
        (index is None and index_pruner is None)
        or label_lists is None
        or centroids is None
        or codebooks is None
    ):
        raise ValueError(
            "filtered_ivf_pq_topk serves from a standing artifact: pass index "
            "(with the label payload) or index_pruner, label_lists, centroids "
            "and codebooks"
        )
    if id_range is not None:
        if range_lists is None:
            raise ValueError("id_range requires the range_lists summary")
        lo, hi = id_range
        if isinstance(range_lists, list):
            # pre-collected rows (r16): driver-side interval overlap,
            # no per-query Spark job for the conjunctive steering
            allowed = sorted(
                int(r["cent"])
                for r in range_lists
                if r["min_id"] <= hi and r["max_id"] >= lo
            )
        else:
            allowed = sorted(
                int(r["cent"])
                for r in range_lists.filter(
                    (F.col("min_id") <= F.lit(hi)) & (F.col("max_id") >= F.lit(lo))
                )
                .select("cent")
                .collect()
            )
        label_lists = label_lists.filter(F.col("cent").isin(allowed))
        _in_range = F.col("cid").between(F.lit(lo), F.lit(hi))
        if index is not None:
            index = index.filter(_in_range)
        if index_pruner is not None:
            _base_pruner = index_pruner
            index_pruner = lambda cents_: _base_pruner(cents_).filter(_in_range)  # noqa: E731
        corpus = corpus.filter(F.col(id_c).between(F.lit(lo), F.lit(hi)))
    m = len(codebooks)
    ks = len(codebooks[0])
    usable = [
        (cid, cvec, math.sqrt(sum(x * x for x in cvec))) for cid, cvec in centroids
    ]
    usable = [t for t in usable if t[2] > 0]
    if not usable:
        raise ValueError("filtered_ivf_pq_topk: no non-zero-norm centroids")

    qv = F.col(vec_q).cast("array<double>")
    qn = (
        queries.select(
            F.col(id_q).alias("qid"), qv.alias("_v"), F.col(label_q).alias("_ql")
        )
        .withColumn("_n", F.sqrt(seq_dot(F.col("_v"), F.col("_v"))))
        .filter(F.col("_n") > 0)
    )
    # label → cents-with-members, one broadcast row per label (model-sized)
    aggs = [F.collect_set("cent").alias("_ll_cents")]
    if min_candidates > 0:
        if "n" not in label_lists.columns:
            raise ValueError(
                "min_candidates requires label_lists with per-list counts ('n')"
            )
        aggs.append(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("cent").cast("long").alias("cent"),
                        F.col("n").cast("long").alias("n"),
                    )
                )
            ).alias("_ll_n")
        )
    ll = label_lists.groupBy(F.col(label_q).alias("_ql")).agg(*aggs)
    qp = qn.join(F.broadcast(ll), "_ql")
    if len(usable) <= 64:
        ranked = _centroid_probe_structs(F.col("_v"), F.col("_n"), usable)
    else:
        # large-k path: centroids as broadcast data (ivf_pq_topk's
        # Catalyst-tree-wall escape), identical (-cos, cent) ordering
        cent_rows = [([(int(cid), [float(x) for x in cvec], float(cn))
                       for cid, cvec, cn in usable],)]
        cent_df = queries.sparkSession.createDataFrame(
            cent_rows,
            "_cents array<struct<cent: long, vec: array<double>, cn: double>>",
        )
        ranked = F.sort_array(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (-(seq_dot(F.col("_v"), c["vec"]) / (F.col("_n") * c["cn"]))).alias("ns"),
                    c["cent"].alias("cent"),
                ),
            )
        )
        qp = qp.crossJoin(F.broadcast(cent_df))
    filtered = F.filter(
        ranked, lambda s: F.array_contains(F.col("_ll_cents"), s["cent"])
    )
    if min_candidates > 0:
        # candidate-budget cut: keep the smallest ranked prefix whose
        # cumulative list membership reaches the budget (never fewer
        # than nprobe lists) — one fold over a ≤|centroids| array
        counts = F.transform(
            filtered, lambda s: F.element_at(F.col("_ll_n"), s["cent"].cast("long"))
        )
        keep = F.aggregate(
            counts,
            F.struct(
                F.lit(0).cast("long").alias("cum"), F.lit(0).cast("int").alias("m")
            ),
            lambda acc, c: F.when(
                acc["cum"] < F.lit(min_candidates),
                F.struct(
                    (acc["cum"] + c).alias("cum"), (acc["m"] + F.lit(1)).alias("m")
                ),
            ).otherwise(acc),
            lambda acc: acc["m"],
        )
        probe_len = F.greatest(F.lit(nprobe), keep)
    else:
        probe_len = F.lit(nprobe)
    probed = F.slice(filtered, 1, probe_len)
    q = qp.withColumn(
        "cent", F.explode(F.transform(probed, lambda s: s["cent"]))
    ).select("qid", "_ql", "cent", _adc_lut_expr(F.col("_v"), F.col("_n"), codebooks).alias("lut"))

    if index_pruner is not None:
        # probe-list pushdown (late r12), same contract as ivf_pq_topk's:
        # the collected set comes from THE JOIN'S OWN probe frame — after
        # label steering AND any candidate-budget extension — so the
        # pruned artifact slice can never miss a list this query batch
        # joins on.  Overrides ``index``.  The isin clamp makes the
        # containment structural against a non-deterministic source
        # recomputing q differently in the join (see ivf_pq_topk).
        probed_lists = sorted(
            r["cent"] for r in q.select("cent").distinct().collect()
        )
        q = q.filter(F.col("cent").isin(probed_lists))
        index = index_pruner(probed_lists)
    scored = (
        F.broadcast(q)
        .join(index, (q["cent"] == index["cent"]) & (q["_ql"] == index[label_q]))
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("score", _adc_score_expr(m, ks))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("qid", "cid")
    )
    cv = F.col(vec_c).cast("array<double>")
    cfull = corpus.select(
        F.col(id_c).alias("cid"), cv.alias("cv"), F.sqrt(seq_dot(cv, cv)).alias("cn")
    ).filter(F.col("cn") > 0)
    qfull = queries.select(F.col(id_q).alias("qid"), qv.alias("qv")).withColumn(
        "qn", F.sqrt(seq_dot(F.col("qv"), F.col("qv")))
    ).filter(F.col("qn") > 0)
    exact = (
        cand.join(F.broadcast(qfull), "qid")
        .join(cfull, "cid")
        .withColumn("score", seq_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", F.round("score", 6).alias("score"), "rank")
    )
