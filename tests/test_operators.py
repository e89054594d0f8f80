"""Unit-ish operator tests on crafted micro-data: dedup family, similarity
top-k, text analysis, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from msgraphdatapipelines_spark.operators import dedup as D
from msgraphdatapipelines_spark.operators import multimodal as M
from msgraphdatapipelines_spark.operators import similarity as S
from msgraphdatapipelines_spark.operators import text as X


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",), ("x",)], "text string")
    got = df.select(D.word_ngrams("text", 3).alias("g")).collect()
    assert got[0]["g"] == ["a b c", "b c d"]
    assert got[1]["g"] == ["x"]  # shorter than n → one partial gram


def test_exact_dedup_first_wins(spark):
    df = spark.createDataFrame(
        [(3, "dup", "z"), (1, "dup", "a"), (2, "uniq", "b")], "doc_id long, text string, tag string"
    )
    out = {r["text"]: r for r in D.exact_dedup(df, ["text"], ["doc_id"]).collect()}
    assert out["dup"]["doc_id"] == 1 and out["dup"]["tag"] == "a"  # min doc_id row
    assert out["dup"]["n_copies"] == 2
    assert out["uniq"]["n_copies"] == 1


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")  # one token differs
    far = "completely different content about spark engines and parquet files " * 5
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    grams = docs.select("doc_id", F.explode(D.word_ngrams("text", 3)).alias("g"))
    sigs = D.minhash_signatures(grams, "doc_id", "g")
    pairs = D.lsh_candidate_pairs(sigs, "doc_id")
    verified = D.jaccard_verify(grams, pairs, "doc_id", "g", threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in verified] == [(1, 2)]
    assert verified[0]["jaccard"] > 0.5


def test_simhash_near_dup_closer_than_far(spark):
    toks = spark.createDataFrame(
        [(i, w) for i, text in enumerate(
            ["a b c d e f g h", "a b c d e f g x", "q r s t u v w z"]
        ) for w in text.split()],
        "doc_id long, tok string",
    )
    sig = {r["doc_id"]: r["simhash"] for r in D.simhash(toks, "doc_id", "tok").collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(sig[0], sig[1]) < ham(sig[0], sig[2])


def test_brute_force_topk_orders_by_cosine(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [0.7, 0.7, 0.0]),   # diagonal
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = S.brute_force_topk(
        df.filter(F.col("vec_id") == 0), df, "vec_id", "vec_id", "embedding", "embedding", k=3
    ).collect()
    assert [r["cid"] for r in out] == [1, 3, 2]
    assert math.isclose(out[0]["score"], 0.9 / math.sqrt(0.82), rel_tol=1e-5)


def test_lsh_topk_subset_of_bruteforce_universe(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(q, emb, "vec_id", "vec_id", "embedding", "embedding", k=5)
    approx = S.lsh_topk(q, emb, "vec_id", "vec_id", "embedding", "embedding", k=5)
    exact_scores = {(r["qid"], r["cid"]): r["score"] for r in exact.collect()}
    for r in approx.collect():
        # every approximate hit is a real corpus vector scored identically
        key = (r["qid"], r["cid"])
        if key in exact_scores:
            assert math.isclose(exact_scores[key], r["score"], rel_tol=1e-9)


def test_lang_id_first_wins_ties(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("el que la de los",), ("zzz qqq",), ("la de el le et",)],
        "text string",
    )
    got = [r[0] for r in df.select(X.lang_id("text")).collect()]
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "und"
    # es (la, de, el → 3+) vs fr (le, et, la, des): es wins the tie order
    assert got[3] in ("es", "fr")


def test_quality_stats_values(spark):
    df = spark.createDataFrame([("the 42 cat",)], "text string")
    stats = X.quality_stats("text")
    row = df.select(
        stats["n_tokens"].alias("nt"),
        stats["stopword_ratio"].alias("sr"),
        stats["digit_token_ratio"].alias("dr"),
        stats["mean_token_len"].alias("ml"),
    ).collect()[0]
    assert row["nt"] == 3
    assert math.isclose(row["sr"], 1 / 3, abs_tol=1e-4)
    assert math.isclose(row["dr"], 1 / 3, abs_tol=1e-4)
    assert math.isclose(row["ml"], (3 + 2 + 3) / 3, abs_tol=1e-4)


def test_bpe_token_count(spark):
    df = spark.createDataFrame([("hello, world42!",)], "text string")
    # [hello][,][world][42][!] = 5
    assert df.select(X.bpe_token_count("text").alias("n")).collect()[0]["n"] == 5


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("  Hello   World ",), ("hello world",)], "text string"
    )
    fps = [r[0] for r in df.select(X.fingerprint_exact("text")).collect()]
    assert fps[0] == fps[1]


def test_pack_into_bins_greedy_contract(spark):
    """Greedy packing: bins fill in order; a bin overflows by at most one
    document; every doc gets a bin; running totals are exact."""
    from msgraphdatapipelines_spark.operators.pack import pack_into_bins

    rows = [(i, n) for i, n in enumerate([30, 40, 50, 60, 25, 100, 5, 5])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(4)
    out = sorted(
        pack_into_bins(df, "doc_id", "n_tokens", budget=100).collect(),
        key=lambda r: r["doc_id"],
    )
    # exclusive prefix sums: 0,30,70,120,180,205,305,310 -> bins 0,0,0,1,1,2,3,3
    assert [r["bin_id"] for r in out] == [0, 0, 0, 1, 1, 2, 3, 3]
    assert [r["running_tokens"] for r in out] == [30, 70, 120, 180, 205, 305, 310, 315]


def test_lsh_dedup_representatives_semantics(spark):
    """Representative selection: docs with identical signatures collapse to
    the min id; a distinct-signature doc keeps itself; output is one row
    per doc with kept == (id == rep_id)."""
    rows = [
        (10, "a", "a", "b", "b"),  # cluster {10, 11}: identical signatures
        (11, "a", "a", "b", "b"),
        (30, "x", "y", "z", "w"),  # loner
    ]
    sigs = spark.createDataFrame(
        rows, "doc_id long, mh0 string, mh1 string, mh2 string, mh3 string"
    )
    out = {r["doc_id"]: r for r in D.lsh_dedup_representatives(
        sigs, "doc_id", num_hashes=4, bands=2
    ).collect()}
    assert len(out) == 3
    assert out[10]["rep_id"] == 10 and out[10]["kept"] is True
    assert out[11]["rep_id"] == 10 and out[11]["kept"] is False
    assert out[30]["rep_id"] == 30 and out[30]["kept"] is True


def test_fingerprint_minhash1_hash_modes_agree_on_equality(spark):
    """r2 VERDICT item 4: the xxhash64 production mode must bucket equal
    shingle sets together exactly like the md5 oracle mode — same-content
    docs (even reordered shingle-preserving repeats) share a fingerprint in
    BOTH modes, and distinct-content docs get distinct fingerprints."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "quick brown fox jumps over the lazy dog the"),  # rotation: ~same shingles
        (4, "a completely different document about spark engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select(
        "doc_id",
        X.fingerprint_minhash1("text", 5, hash_fn="md5").alias("fp_md5"),
        X.fingerprint_minhash1("text", 5, hash_fn="xxhash64").alias("fp_xx"),
    ).collect()
    by_id = {r["doc_id"]: r for r in got}
    for col in ("fp_md5", "fp_xx"):
        assert by_id[1][col] == by_id[2][col]  # identical text ⇒ identical fp
        assert by_id[1][col] != by_id[4][col]  # different content ⇒ different fp
    # bucket partition {1,2} vs {4} agrees between the modes
    def buckets(col):
        m = {}
        for r in got:
            m.setdefault(r[col], set()).add(r["doc_id"])
        return {frozenset(v) for v in m.values() if len(v) > 1}

    assert buckets("fp_md5") == buckets("fp_xx")
    with pytest.raises(ValueError):
        X.fingerprint_minhash1("text", 5, hash_fn="sha1")


def test_approx_count_distinct_error_bounded(spark, sf_dir):
    """Raw HLL sketch values have no cross-engine oracle; bound the error
    vs exact here (rsd=0.02 → generous 10% assertion band).  The graded
    query's within-tolerance booleans must also hold — they are what the
    driver oracle asserts TRUE."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.queries import load
    from msgraphdatapipelines_spark.queries.relational2 import approx_distinct_stats

    o = load(spark, sf_dir, "orders")
    raw = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_cust"),
        F.countDistinct("o_custkey").alias("exact_cust"),
    )
    for r in raw.collect():
        assert abs(r["approx_cust"] - r["exact_cust"]) <= max(5, 0.1 * r["exact_cust"])
    for r in approx_distinct_stats(spark, sf_dir).collect():
        assert r["hll_within_5pct"] and r["median_within_1pct"]


def test_multimodal_decode_and_features_deterministic(spark):
    docs = spark.createDataFrame([(1, "some payload text")], "doc_id long, text string")
    media = M.wrap_text_as_media(docs, "doc_id", "text")
    meta = M.decode_image_meta(media).collect()[0]
    assert meta["decoder"] == "fake-deterministic"
    assert meta["n_bytes"] == len("some payload text")
    assert 320 <= meta["width"] <= 320 + 7 * 160
    feats = M.extract_features(media).collect()[0]["feature"]
    assert len(feats) == M.FEATURE_DIM
    assert all(0.0 <= f <= 1.0 for f in feats)
    # frame sampling: deterministic fake codec, every_n stride over fake frames
    frames = M.frame_sample(media, every_n=1).collect()
    n_frames = max(1, -(-len("some payload text") // M.FRAME_CHUNK_BYTES))
    assert len(frames) == n_frames
    assert frames[0]["frame_idx"] == 0 and frames[0]["ts_ms"] == 0
    assert len({f["frame_sha256"] for f in frames}) == len(frames)


def test_corpus_curation_invariants(spark, sf_dir):
    from msgraphdatapipelines_spark.queries.curation import corpus_curation

    rows = corpus_curation(spark, sf_dir).collect()
    assert rows, "curation pipeline must keep a non-empty sample"
    # dedup: one row per fingerprint, representative is the min doc_id copy
    fps = [r["fp_exact"] for r in rows]
    assert len(fps) == len(set(fps))
    for r in rows:
        # quality gate survived the pipeline
        assert 30 <= r["n_tokens"] <= 95
        assert r["stopword_ratio"] >= 0.01
        assert r["n_copies"] >= 1
        # deterministic sample predicate holds for every survivor
        import hashlib

        assert hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[0] < "8"


def test_multimodal_resize_contract(spark):
    docs = spark.createDataFrame(
        [(1, "payload one"), (2, "payload two")], "doc_id long, text string"
    )
    media = M.wrap_text_as_media(docs, "doc_id", "text")
    out = {r["media_id"]: r for r in M.resize_image(media, 224, 224).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert r["width"] == 224 and r["height"] == 224
        assert len(r["payload"]) == 224 * 224 // 64
    # deterministic: same input -> same resized bytes
    again = {r["media_id"]: r for r in M.resize_image(media, 224, 224).collect()}
    assert bytes(out[1]["payload"]) == bytes(again[1]["payload"])
    assert bytes(out[1]["payload"]) != bytes(out[2]["payload"])


def test_tfidf_top_terms_golden(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark parquet"),
            (2, "spark shuffle"),
            (3, "parquet files files files"),
        ],
        "doc_id long, text string",
    )
    out = X.tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["weight"]) for r in out}

    idf = lambda df_: math.log(4 / (df_ + 1)) + 1  # N=3 docs, smoothed
    # doc 1: spark tf=2 (df=2), parquet tf=1 (df=2)
    assert got[(1, 1)][0] == "spark"
    assert math.isclose(got[(1, 1)][1], round(2 * idf(2), 6), abs_tol=1e-6)
    assert got[(1, 2)][0] == "parquet"
    # doc 2: shuffle (df=1, rarer) outweighs spark (df=2) at equal tf
    assert got[(2, 1)][0] == "shuffle"
    assert math.isclose(got[(2, 1)][1], round(idf(1), 6), abs_tol=1e-6)
    # doc 3: files tf=3 dominates
    assert got[(3, 1)][0] == "files"
    assert math.isclose(got[(3, 1)][1], round(3 * idf(1), 6), abs_tol=1e-6)


# ---------------------------------------------------------------------------
# bucketed_interval_join (operators.rangejoin) — left-join contract (r4 ADVICE)
# ---------------------------------------------------------------------------


def _rj_frames(spark):
    left = spark.createDataFrame(
        [(1, 100, "2024-01-01"), (2, 100, "2024-01-20"), (3, 200, "2024-01-01")],
        "lid long, key long, start string",
    ).withColumn("start", F.to_date("start"))
    right = spark.createDataFrame(
        [(10, 100, "2024-01-02 00:00:00"), (11, 100, "2024-01-06 23:00:00"),
         (12, 100, "2024-01-08 00:00:00"), (13, 300, "2024-01-02 00:00:00")],
        "rid long, rkey long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    return left, right


def test_bucketed_interval_join_inner(spark):
    from msgraphdatapipelines_spark.operators.rangejoin import bucketed_interval_join

    left, right = _rj_frames(spark)
    got = bucketed_interval_join(left, right, "key", "rkey", "start", "ts", 7).collect()
    assert sorted((r["lid"], r["rid"]) for r in got) == [(1, 10), (1, 11)]


def test_bucketed_interval_join_left_matches_naive(spark):
    """how='left' must equal the naive left range join: matched rows carry
    no extra NULL sibling, fully-unmatched left rows appear EXACTLY once
    (the old per-probe left join emitted them once per probe bucket)."""
    from msgraphdatapipelines_spark.operators.rangejoin import bucketed_interval_join

    left, right = _rj_frames(spark)
    got = bucketed_interval_join(
        left, right, "key", "rkey", "start", "ts", 7, how="left", left_id="lid"
    ).collect()
    pairs = sorted((r["lid"], r["rid"]) for r in got)
    # naive: lid=1 matches rids 10,11; lid=2 (window 01-20..01-27) and
    # lid=3 (key 200) are unmatched -> exactly one NULL row each
    assert pairs == [(1, 10), (1, 11), (2, None), (3, None)]
    # mono-id fallback (no left_id) gives the same multiset
    got2 = bucketed_interval_join(
        left, right, "key", "rkey", "start", "ts", 7, how="left"
    ).collect()
    assert sorted((r["lid"], r["rid"]) for r in got2) == pairs


def test_bucketed_interval_join_rejects_other_how(spark):
    from msgraphdatapipelines_spark.operators.rangejoin import bucketed_interval_join

    left, right = _rj_frames(spark)
    with pytest.raises(ValueError, match="inner.*left|left.*inner|how="):
        bucketed_interval_join(left, right, "key", "rkey", "start", "ts", 7, how="right")


def test_lsh_candidate_pairs_cap_truncates_deterministically(spark):
    """r4 VERDICT item 5: max_pairs_per_doc bounds the pair fan-out on a
    mass-duplication cluster — each id_a keeps exactly its cap lowest-id
    partners, the same set on every run."""
    docs = spark.createDataFrame(
        [(i, "the same text repeated " * 3) for i in range(1, 7)], "doc_id long, text string"
    )
    grams = docs.select("doc_id", F.explode(D.word_ngrams("text", 3)).alias("g"))
    sigs = D.minhash_signatures(grams, "doc_id", "g", num_hashes=8)
    uncapped = D.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=4)
    assert uncapped.count() == 15  # 6-clique: C(6,2) pairs
    capped = D.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=8, bands=4, max_pairs_per_doc=2
    )
    got = sorted((r["id_a"], r["id_b"]) for r in capped.collect())
    # per id_a: the two LOWEST id_b partners (doc 6 has no partners as id_a
    # with a smaller id on the right-hand side beyond 5, etc.)
    assert got == [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (3, 5), (4, 5), (4, 6), (5, 6)]
    # deterministic: a second run yields the identical set
    again = sorted((r["id_a"], r["id_b"]) for r in capped.collect())
    assert again == got
    # WindowGroupLimit: the cap is applied as a pre-shuffle top-k heap
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


@pytest.mark.parametrize("backend", ["fake", "pillow"])
def test_media_backend_contract(spark, backend):
    """r4 VERDICT item 8: the SAME contract assertions run over the fake
    and the Pillow backend (pillow leg skips cleanly without the wheel):
    identical output schemas, positive dimensions, non-empty resized
    payload, and determinism across runs."""
    if backend == "pillow" and not M.pillow_available():
        pytest.skip("Pillow not installed in this container")
    if backend == "pillow":
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (320, 200), (10, 20, 30)).save(buf, format="PNG")
        payload = buf.getvalue()
    else:
        payload = b"not really an image, but the fake codec decodes anything"
    media = spark.createDataFrame(
        [(1, "image/png", bytearray(payload))], schema=M.MEDIA_SCHEMA
    )

    meta = M.decode_image_meta(media, backend=backend)
    assert meta.schema == M.IMAGE_META_SCHEMA
    row = meta.collect()[0]
    assert row["width"] > 0 and row["height"] > 0
    assert row["decoder"] == ("pillow" if backend == "pillow" else "fake-deterministic")
    if backend == "pillow":
        assert (row["width"], row["height"]) == (320, 200)  # real header parse

    resized = M.resize_image(media, 64, 48, backend=backend)
    assert resized.schema == M.RESIZED_SCHEMA
    r1 = resized.collect()[0]
    assert (r1["width"], r1["height"]) == (64, 48) and len(r1["payload"]) > 0
    r2 = M.resize_image(media, 64, 48, backend=backend).collect()[0]
    assert bytes(r1["payload"]) == bytes(r2["payload"])  # deterministic
    if backend == "pillow":
        import io

        from PIL import Image

        assert Image.open(io.BytesIO(bytes(r1["payload"]))).size == (64, 48)


def test_media_backend_resolution_errors(spark):
    """Explicit pillow without the wheel raises (no silent downgrade to
    hash-derived dimensions); unknown backends are rejected."""
    media = spark.createDataFrame([(1, "text/plain", bytearray(b"x"))], schema=M.MEDIA_SCHEMA)
    if not M.pillow_available():
        with pytest.raises(ImportError, match="pillow"):
            M.decode_image_meta(media, backend="pillow")
    with pytest.raises(ValueError, match="unknown media backend"):
        M.resize_image(media, backend="nope")


# ---------------------------------------------------------------- r6: exact clustering


def test_connected_components_chain_star_singleton(spark):
    """Chain 1-2-3 collapses to one component (the case the single-step
    representative pass documents as kept-apart), star 10-{11,12,13} to
    another, 20 stays a singleton."""
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 13, 20)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13)], "id_a long, id_b long"
    )
    got = {r["id"]: r["component"] for r in D.connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20}


def test_connected_components_long_chain_converges(spark, tmp_path):
    """A 12-node chain needs ~11 propagation rounds — converges (labels are
    exact min), and the reliable-checkpoint path agrees with the local one."""
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {
        r["id"]: r["component"] for r in D.connected_components(nodes, edges).collect()
    }
    assert got == {i: 0 for i in range(n)}
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    got_rel = {
        r["id"]: r["component"]
        for r in D.connected_components(nodes, edges, checkpoint="reliable").collect()
    }
    assert got_rel == got


def test_connected_components_max_iters_raises(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(5)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(nodes, edges, max_iters=2)


def test_connected_components_ignores_foreign_edge_endpoints(spark):
    """Edges may reference ids outside the node universe (e.g. docs dropped
    by an upstream filter) — they propagate labels but are not returned."""
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 99), (99, 2)], "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in D.connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1}  # transitively connected THROUGH the foreign node


# ---------------------------------------------------------------- r6: mixture sampling


def test_temperature_mixture_sample_rates_and_clamp(spark):
    """Skewed two-domain corpus: alpha=0.5 upweights the small domain;
    over-asked small domains clamp at rate 1.0 (all rows kept)."""
    from msgraphdatapipelines_spark.operators.sampling import temperature_mixture_sample

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    out = temperature_mixture_sample(df, "dom", "doc_id", target_total=100, alpha=0.5)
    rates = {r["dom"]: r["rate"] for r in out.select("dom", "rate").distinct().collect()}
    # w_big=20, w_small=2, tw=22 → rate_big = 100*(20/22)/400 ≈ 0.227;
    # rate_small = 100*(2/22)/4 = 2.27 → clamps to 1.0
    assert rates["small"] == 1.0
    assert abs(rates["big"] - 100 * (20 / 22) / 400) < 1e-6
    kept = out.groupBy("dom").count().collect()
    kept = {r["dom"]: r["count"] for r in kept}
    assert kept["small"] == 4  # clamped domain keeps everything
    assert 50 < kept["big"] < 140  # ~91 expected at rate .227


def test_temperature_mixture_sample_deterministic(spark):
    """Re-running selects the byte-identical row set (no rand())."""
    from msgraphdatapipelines_spark.operators.sampling import temperature_mixture_sample

    rows = [(i, f"d{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    a = sorted(
        r["doc_id"]
        for r in temperature_mixture_sample(df, "dom", "doc_id", 150).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in temperature_mixture_sample(df, "dom", "doc_id", 150).collect()
    )
    assert a == b and len(a) > 0


def test_md5_uniform_range_and_mean(spark):
    from msgraphdatapipelines_spark.operators.sampling import md5_uniform

    df = spark.range(2000).select(md5_uniform(F.col("id")).alias("u"))
    stats = df.agg(F.min("u"), F.max("u"), F.avg("u")).collect()[0]
    assert 0.0 <= stats[0] and stats[1] < 1.0
    assert abs(stats[2] - 0.5) < 0.02  # uniform mean


def test_lsh_clusters_equal_pair_graph_closure(spark, sf_dir):
    """The star-edge closure (Θ(n·bands) edges) must produce EXACTLY the
    same components as the closure of the full candidate-pair graph —
    the equivalence that makes it the production path."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grams = docs.select("doc_id", F.explode(D.word_ngrams("text", 3)).alias("g"))
    sigs = D.minhash_signatures(grams, "doc_id", "g", num_hashes=8, hash_fn="md5")

    star = {
        r["doc_id"]: r["component"]
        for r in D.lsh_dedup_clusters(sigs, "doc_id").collect()
    }
    pairs = D.lsh_candidate_pairs(sigs, "doc_id")
    via_pairs = {
        r["doc_id"]: r["component"]
        for r in D.connected_components(
            sigs.select("doc_id"), pairs, id_col="doc_id"
        ).collect()
    }
    assert star == via_pairs


def test_lsh_clusters_refine_representatives(spark, sf_dir):
    """Closure can only merge further than the single-step representative
    pass: every doc's component id <= its single-step rep_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grams = docs.select("doc_id", F.explode(D.word_ngrams("text", 3)).alias("g"))
    sigs = D.minhash_signatures(grams, "doc_id", "g", num_hashes=8, hash_fn="md5")
    comp = {
        r["doc_id"]: r["component"]
        for r in D.lsh_dedup_clusters(sigs, "doc_id").collect()
    }
    rep = {
        r["doc_id"]: r["rep_id"]
        for r in D.lsh_dedup_representatives(sigs, "doc_id").collect()
    }
    assert set(comp) == set(rep)
    assert all(comp[d] <= rep[d] for d in comp)


def test_repetition_signals_hand_values(spark):
    """'a a a b' → dup_token_ratio=0.5 (2 distinct/4), top_token_ratio=0.75,
    2-grams [a a, a a, a b] → dup_2gram=1-2/3, 3-grams [a a a, a a b] →
    dup_3gram=0; a degenerate doc scores high, a clean doc scores 0."""
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "w x y z")], "doc_id long, text string"
    )
    sig = X.repetition_signals("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            sig["dup_token_ratio"].alias("dt"),
            sig["top_token_ratio"].alias("tt"),
            sig["dup_2gram_ratio"].alias("d2"),
            sig["dup_3gram_ratio"].alias("d3"),
        ).collect()
    }
    assert out[1]["dt"] == 0.5 and out[1]["tt"] == 0.75
    assert math.isclose(out[1]["d2"], 1 - 2 / 3, abs_tol=1e-6)
    assert out[1]["d3"] == 0.0
    assert out[2]["dt"] == 0.0 and out[2]["tt"] == 0.25
    assert out[2]["d2"] == 0.0 and out[2]["d3"] == 0.0


def test_lsh_incremental_assign_two_batches(spark):
    """Batch 1 bootstraps clusters; batch 2's near-dups (same signatures)
    collapse into batch-1 reps WITHOUT reprocessing batch 1; genuinely new
    content founds a new cluster; state stays min-id stable."""
    schema = "doc_id long, mh0 string, mh1 string, mh2 string, mh3 string"
    b1 = spark.createDataFrame(
        [(10, "a", "a", "b", "b"), (11, "a", "a", "b", "b"), (12, "x", "x", "y", "y")],
        schema,
    )
    a1, state1 = D.lsh_incremental_assign(b1, None, "doc_id", num_hashes=4, bands=2)
    got1 = {r["doc_id"]: r for r in a1.collect()}
    assert got1[10]["rep_id"] == 10 and got1[10]["is_new_cluster"]
    assert got1[11]["rep_id"] == 10 and got1[11]["is_new_cluster"]  # in-batch collapse
    assert got1[12]["rep_id"] == 12

    b2 = spark.createDataFrame(
        [(20, "a", "a", "b", "b"),   # dup of cluster 10
         (21, "p", "p", "q", "q"),   # brand new
         (22, "p", "p", "q", "q")],  # in-batch dup of 21
        schema,
    )
    a2, state2 = D.lsh_incremental_assign(b2, state1, "doc_id", num_hashes=4, bands=2)
    got2 = {r["doc_id"]: r for r in a2.collect()}
    assert got2[20]["rep_id"] == 10 and not got2[20]["is_new_cluster"]
    assert got2[21]["rep_id"] == 21 and got2[21]["is_new_cluster"]
    assert got2[22]["rep_id"] == 21
    # state keeps old cluster identity and registers the new one
    reps = {r["rep_id"] for r in state2.collect()}
    assert 10 in reps and 21 in reps and 20 not in reps


def test_lsh_incremental_matches_batch_representatives(spark, sf_dir):
    """Feeding the whole corpus as ONE batch must reproduce the one-shot
    representative pass exactly (same single-step contract)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grams = docs.select("doc_id", F.explode(D.word_ngrams("text", 3)).alias("g"))
    sigs = D.minhash_signatures(grams, "doc_id", "g", num_hashes=8, hash_fn="md5")
    one_shot = {
        r["doc_id"]: r["rep_id"]
        for r in D.lsh_dedup_representatives(sigs, "doc_id").collect()
    }
    incr, _ = D.lsh_incremental_assign(sigs, None, "doc_id")
    got = {r["doc_id"]: r["rep_id"] for r in incr.collect()}
    assert got == one_shot


def test_connected_components_matches_union_find_property(spark):
    """Property check: on a batch of pseudo-random graphs (dense, sparse,
    chains, self-loops, multi-edges), the distributed min-label fixpoint
    must equal a reference union-find."""
    import random

    rng = random.Random(42)
    for trial in range(6):
        n = rng.randint(1, 14)
        n_edges = rng.randint(0, 20)
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {i: find(i) for i in range(n)}

        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = (
            spark.createDataFrame(edge_list, "id_a long, id_b long")
            if edge_list
            else spark.createDataFrame([], "id_a long, id_b long")
        )
        got = {
            r["id"]: r["component"]
            for r in D.connected_components(nodes, edges).collect()
        }
        assert got == expected, f"trial {trial}: {edge_list}"


def test_unigram_logprob_semantics(spark, sf_dir):
    """Sanity of the LM filter: a doc made of the corpus's most common
    tokens scores LOWER (more probable) than one with rare tokens; OOV
    tokens are counted and smoothed, not dropped."""
    from msgraphdatapipelines_spark.queries.text import text_unigram_logprob

    out = text_unigram_logprob(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert all(r["mean_neg_logprob"] > 0 for r in rows)
    # eval docs may carry OOV tokens; train docs scored against their own
    # LM have none (every token was counted)
    assert all(r["n_oov"] >= 0 for r in rows)
    scores = sorted(r["mean_neg_logprob"] for r in rows)
    assert scores[0] < scores[-1]  # the filter actually separates docs


def test_array_set_counts_relational_equals_array_native(spark, sf_dir):
    """The scale-path relational twin (two codegen HashAggregates, no
    collect_set buffers) must reproduce the array-native registry row
    exactly — same contract as the dedup family's production/audit split."""
    from msgraphdatapipelines_spark.queries.relational2 import (
        array_set_counts_relational,
        array_set_ops_per_order,
    )

    nat = {r["l_orderkey"]: (r["n_union"], r["n_common"])
           for r in array_set_ops_per_order(spark, sf_dir).collect()}
    rel = {r["l_orderkey"]: (r["n_union"], r["n_common"])
           for r in array_set_counts_relational(spark, sf_dir).collect()}
    assert nat == rel and len(nat) > 0


def test_strip_frequent_segments_semantics_and_plan(spark):
    """Boilerplate segments (≥min_docs distinct docs) are dropped, doc order
    is preserved, pure-boilerplate docs come back empty (not NULL), and the
    rebuild side adds NO exchange beyond the frequency aggregation — the
    frequent set reaches the filter as a broadcast."""
    from msgraphdatapipelines_spark.operators.text import strip_frequent_segments

    bp = "a b"  # the 2-token boilerplate segment, shared by 3 docs
    df = spark.createDataFrame(
        [
            (1, f"{bp} x1 y1 {bp} z1 w1"),
            (2, f"{bp} x2 y2"),
            (3, f"q3 r3 {bp}"),
            (4, "u4 v4 s4 t4"),
            (5, bp),  # pure boilerplate
        ],
        "doc_id long, text string",
    )
    want = {
        1: ("x1 y1 z1 w1", 4, 2),  # order preserved around both drops
        2: ("x2 y2", 2, 1),
        3: ("q3 r3", 2, 1),
        4: ("u4 v4 s4 t4", 2, 0),  # unique segments untouched
        5: ("", 1, 1),  # fully-boilerplate doc: empty string, row kept
    }
    for mode in ("array", "join"):  # identical output from both rebuild modes
        out = strip_frequent_segments(df, width=2, min_docs=3, rebuild=mode)
        got = {
            r["doc_id"]: (r["clean_text"], r["n_segments"], r["n_dropped"])
            for r in out.collect()
        }
        assert got == want, mode
        # after execution AQE prints final + "== Initial Plan ==" — final only
        plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
        if mode == "array":
            # data-sized exchanges: only the segment-frequency count_distinct pair
            assert plan.count("Exchange hashpartitioning") <= 2
        else:
            # the O(1)-probe mode pays one extra doc-keyed re-agg exchange,
            # and probes via a broadcast HASH join, never array_contains
            assert "BroadcastHashJoin" in plan
            assert plan.count("Exchange hashpartitioning") <= 3
    # auto mode: small caps take the array path, large caps the join path
    small = strip_frequent_segments(df, width=2, min_docs=3, max_frequent=100)
    assert "array_contains" in small._jdf.queryExecution().executedPlan().toString()
    big = strip_frequent_segments(df, width=2, min_docs=3, max_frequent=100_000)
    assert "array_contains" not in big._jdf.queryExecution().executedPlan().toString()


def test_profile_columns_approx_mode_bound_and_plan(spark, sf_dir):
    """The 100 TB profiling mode (approx_count_distinct) must avoid the
    Expand fan-out the exact multi-distinct plan pays, stay within the HLL
    error band, and agree exactly on null counts and min/max."""
    from msgraphdatapipelines_spark.operators.profile import profile_columns

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    exact = {r["column_name"]: r for r in profile_columns(orders, cols).collect()}
    approx_df = profile_columns(orders, cols, exact_distinct=False)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan  # single-scan partial agg, no multi-distinct fan-out
    exact_plan = profile_columns(orders, cols)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan  # and the exact mode really is the Expand trade
    for r in approx_df.collect():
        e = exact[r["column_name"]]
        assert r["n_nulls"] == e["n_nulls"]
        assert r["min_value"] == e["min_value"] and r["max_value"] == e["max_value"]
        # approx_count_distinct default rsd = 5%
        assert abs(r["n_distinct"] - e["n_distinct"]) <= max(0.12 * e["n_distinct"], 2)


def test_semantic_dedup_semantics(spark):
    """SemDeDup contract on crafted vectors: min-id survivor per
    within-cluster dup group; near-dups split across clusters are NOT
    compared (the published blind spot); zero-norm vectors keep
    themselves."""
    # two far-apart cluster centers on axes 0 and 1
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    vecs = [
        (1, [1.0, 0.0, 0.0]),     # cluster 0, dup group {1, 2, 3}
        (2, [0.99, 0.01, 0.0]),
        (3, [0.98, 0.02, 0.0]),
        (4, [0.6, 0.55, 0.0]),    # cluster 0 (barely), near-dup of 5 across border
        (5, [0.55, 0.6, 0.0]),    # cluster 1
        (6, [0.0, 1.0, 0.0]),     # cluster 1, loner
        (7, [0.0, 0.0, 0.0]),     # zero-norm
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    from msgraphdatapipelines_spark.operators.similarity import semantic_dedup

    out = {r["vec_id"]: r for r in semantic_dedup(
        df, "vec_id", "embedding", centroids=cents, tau=0.95
    ).collect()}
    assert len(out) == 7  # one row per input, always
    assert out[1]["kept"] and not out[2]["kept"] and not out[3]["kept"]
    # 4↔5 cosine ≈ 0.9985 ≥ tau but clusters differ → both kept
    assert out[4]["cluster_id"] == 0 and out[5]["cluster_id"] == 1
    assert out[4]["kept"] and out[5]["kept"]
    assert out[6]["kept"]
    assert out[7]["kept"]  # NaN cosine never collapses


def test_semantic_dedup_fixture_actually_drops(spark, sf_dir):
    """The demoted-oracle row's fixture-calibrated tau must really exercise
    the drop path (a tau above the data's max cosine would make the oracle
    comparison vacuous)."""
    from msgraphdatapipelines_spark.queries.similarity import semantic_dedup_embeddings

    out = semantic_dedup_embeddings(spark, sf_dir).collect()
    n_dropped = sum(1 for r in out if not r["kept"])
    assert len(out) == 500 and n_dropped > 0


def test_sessionize_events_single_shuffle_plan(spark, sf_dir):
    """The per-session aggregation's group keys are a superset of the
    window's partition key, so Catalyst must reuse the user_id exchange —
    the whole operator costs ONE data-sized shuffle."""
    from msgraphdatapipelines_spark.queries.relational2 import sessionize_events

    df = sessionize_events(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    rows = df.collect()
    users = {r["user_id"] for r in rows}
    assert len(rows) > len(users)  # the gap really splits users into sessions
    for u in users:  # session ids are 1..n dense per user
        sids = sorted(r["session_id"] for r in rows if r["user_id"] == u)
        assert sids == list(range(1, len(sids) + 1))


def test_stratified_take_exact_counts_and_plan(spark, sf_dir):
    """Exact stratum counts: capped strata return exactly n, over-asked
    strata return whole stratum, zero-count strata vanish; the rank filter
    plans as WindowGroupLimit (pre-shuffle per-stratum top-n heap)."""
    from msgraphdatapipelines_spark.queries.curation import (
        _STRATA_DEFAULT,
        _STRATA_N,
        stratified_sample_exact,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    out = stratified_sample_exact(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan
    got = {r["lang"]: 0 for r in out.select("lang").distinct().collect()}
    for r in out.collect():
        got[r["lang"]] += 1
    for lang, size in sizes.items():
        want = min(_STRATA_N.get(lang, _STRATA_DEFAULT), size)
        assert got.get(lang, 0) == want, (lang, got.get(lang), want)


def test_sketch_rollup_merge_identity_and_persistence(spark, sf_dir, tmp_path):
    """The rollup-table contract: (1) union-of-increment-sketches gives the
    SAME estimate as sketching the whole data (per-register max => merge is
    exact and order-independent); (2) sketch rows survive a parquet
    round-trip (the persisted rollup table is real, not session state);
    (3) estimates stay inside the lgk=12 error band vs exact."""
    from msgraphdatapipelines_spark.operators.sketches import (
        build_distinct_sketches,
        merge_distinct_sketches,
    )
    from msgraphdatapipelines_spark.queries import load_events

    ev = load_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    inc = build_distinct_sketches(ev, ["event_type", "day"], "user_id")
    path = str(tmp_path / "rollup")
    inc.write.mode("overwrite").parquet(path)  # the appendable increment table
    merged = merge_distinct_sketches(spark.read.parquet(path), ["event_type"])
    direct = merge_distinct_sketches(
        build_distinct_sketches(ev, ["event_type"], "user_id"), ["event_type"]
    )
    m = {r["event_type"]: r["distinct_estimate"] for r in merged.collect()}
    d = {r["event_type"]: r["distinct_estimate"] for r in direct.collect()}
    assert m == d and len(m) > 0
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    for k, est in m.items():
        assert abs(est - exact[k]) <= max(0.02 * exact[k], 1), (k, est, exact[k])


def test_check_constraints_counts_planted_violations(spark):
    """Dirty micro-data: every constraint kind counts its planted
    violations exactly; NULL FK keys are not violations (SQL semantics)."""
    from msgraphdatapipelines_spark.operators.constraints import (
        check,
        check_constraints,
        foreign_key,
        not_null,
        unique,
    )

    child = spark.createDataFrame(
        [
            (1, 10, 5.0),
            (2, 10, -1.0),   # check violation (amount <= 0)
            (2, 99, 3.0),    # dup id + FK orphan (99 not in parent)
            (None, 20, 2.0), # null id; FK ok
            (4, None, 1.0),  # null fk key -> NOT an FK violation
        ],
        "id long, cust long, amount double",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pid long")
    rep = {r["constraint"]: r for r in check_constraints(
        child,
        [
            *not_null("id"),
            check("positive_amount", ~(F.col("amount") > 0)),
            unique("id"),
            foreign_key(["cust"], parent, ["pid"]),
        ],
    ).collect()}
    assert rep["not_null_id"]["n_violations"] == 1 and not rep["not_null_id"]["passed"]
    assert rep["positive_amount"]["n_violations"] == 1
    # count - count_distinct: 5 rows, id NULL excluded from count_distinct ->
    # distinct non-null ids {1,2,4}=3, count(*)=5 -> 2 "violations" (the dup + the null)
    assert rep["unique_id"]["n_violations"] == 2
    assert rep["fk_cust"]["n_violations"] == 1 and not rep["fk_cust"]["passed"]


def test_quantile_sketch_rollup_within_rank_error(spark, sf_dir):
    """KLL rollup contract: per-day increment sketches merged per group
    estimate quantiles within the k=2048 rank-error band of the exact
    values; the sorted fold makes re-merges deterministic."""
    from msgraphdatapipelines_spark.operators.sketches import (
        build_quantile_sketches,
        merge_quantile_sketches,
    )
    from msgraphdatapipelines_spark.queries import load_events

    ev = load_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    inc = build_quantile_sketches(ev, ["event_type", "day"], "value")
    qs = [0.5, 0.9]
    merged = merge_quantile_sketches(inc, ["event_type"], qs)
    m = {r["event_type"]: r["q_estimates"] for r in merged.collect()}
    m2 = {r["event_type"]: r["q_estimates"] for r in merged.collect()}
    assert m == m2  # deterministic re-merge
    vals = {}
    for r in ev.select("event_type", F.col("value").cast("double").alias("v")).collect():
        vals.setdefault(r["event_type"], []).append(r["v"])
    for et, ests in m.items():
        xs = sorted(vals[et])
        for q, est in zip(qs, ests):
            # rank of the estimate must be within ~1.5% of the target rank
            import bisect

            rank = bisect.bisect_right(xs, est) / len(xs)
            assert abs(rank - q) <= 0.015 + 2.0 / len(xs), (et, q, est, rank)


def test_pseudonymize_keys_preserves_joins_and_nulls(spark):
    """Same salt+value -> same token across tables (joins survive);
    different salt re-keys; NULLs stay NULL."""
    from msgraphdatapipelines_spark.operators.project import pseudonymize_keys

    orders = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None)], "oid long, cust long"
    )
    cust = spark.createDataFrame([(10, "x"), (20, "y")], "cust long, name string")
    po = pseudonymize_keys(orders, ["cust"], salt="s1")
    pc = pseudonymize_keys(cust, ["cust"], salt="s1")
    joined = po.join(pc, "cust")
    assert joined.count() == 2  # joinability preserved
    assert po.filter(F.col("cust").isNull()).count() == 1  # NULL stays NULL
    tok1 = {r["oid"]: r["cust"] for r in po.collect()}
    tok2 = {r["oid"]: r["cust"] for r in pseudonymize_keys(orders, ["cust"], "s2").collect()}
    assert tok1[1] != tok2[1] and tok1[1] is not None  # salt rotation re-keys
    assert all(v is None or len(v) == 32 for v in tok1.values())


def test_shuffle_deterministic_is_a_permutation(spark):
    """Positions are exactly 1..n; a re-run reproduces the identical order;
    a different seed yields a different permutation (epoch re-shuffle)."""
    from msgraphdatapipelines_spark.operators.sampling import shuffle_deterministic

    df = spark.range(0, 997).withColumnRenamed("id", "k")
    out = shuffle_deterministic(df, "k", seed=1, num_buckets=8)
    rows = {r["k"]: r["shuffle_pos"] for r in out.collect()}
    assert sorted(rows.values()) == list(range(1, 998))
    again = {
        r["k"]: r["shuffle_pos"]
        for r in shuffle_deterministic(df, "k", seed=1, num_buckets=8).collect()
    }
    assert again == rows
    other = {
        r["k"]: r["shuffle_pos"]
        for r in shuffle_deterministic(df, "k", seed=2, num_buckets=8).collect()
    }
    assert sorted(other.values()) == list(range(1, 998))
    assert other != rows
    # bucket-count invariance: the permutation is a pure function of
    # (id, seed), not of the bucketing used to compute it
    wide = {
        r["k"]: r["shuffle_pos"]
        for r in shuffle_deterministic(df, "k", seed=1, num_buckets=32).collect()
    }
    assert wide == rows


def test_udtf_split_sentences_matches_declarative_twin(spark, sf_dir):
    """The Spark-4 UDTF rung of the custom-operator ladder: lateral
    split_sentences(text) emits the same rows as the posexplode Column
    twin — proving the table-function boundary works; the Column form
    remains the production path where expressible."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.functions.tablefuncs import register_table_functions

    register_table_functions(spark)
    # fixture docs carry no sentence punctuation (fanout 1); the crafted
    # rows exercise real variable fanout incl. empty-after-split and NULL
    crafted = spark.createDataFrame(
        [
            (90001, "One. Two here!  Three, yes?   "),
            (90002, "No terminal punctuation means one sentence"),
            (90003, None),
        ],
        "doc_id long, text string",
    )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
        .unionByName(crafted)
    )
    docs.createOrReplaceTempView("udtf_docs")
    got = {
        (r["doc_id"], r["sent_id"], r["sentence"], r["n_tokens"])
        for r in spark.sql(
            "SELECT d.doc_id, s.sent_id, s.sentence, s.n_tokens "
            "FROM udtf_docs d, LATERAL split_sentences(d.text) s"
        ).collect()
    }
    twin = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), r"(?<=[.!?])\s+")).alias("pos", "p"),
        )
        .select("doc_id", F.trim(F.col("p")).alias("p"), "pos")
        .filter(F.col("p") != "")
        .withColumn(
            "sent_id",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "doc_id"
                ).orderBy("pos")
            ),
        )
        .select(
            "doc_id",
            "sent_id",
            F.col("p").alias("sentence"),
            F.size(F.split(F.col("p"), r"\s+")).alias("n_tokens"),
        )
    )
    want = {
        (r["doc_id"], r["sent_id"], r["sentence"], r["n_tokens"]) for r in twin.collect()
    }
    assert got == want
    # count derives from the declarative twin (r6 ADVICE: the previous
    # literal 54 assumed every fixture doc holds exactly one sentence —
    # a fixture regeneration hazard); only crafted rows stay literal
    assert len(got) == len(want) > 0
    assert (90001, 3, "Three, yes?", 2) in got


def test_nb_classifier_crafted_semantics(spark):
    """NB classifier (r7) unit semantics on crafted token frames: disjoint
    vocabularies classify correctly, an all-unseen doc falls back to the
    prior/denominator balance, and an exact score tie breaks on the class
    name ascending (the documented determinism contract)."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import classify as C

    train = spark.createDataFrame(
        [(1, "aa", 10), (1, "aa", 10), (1, "aa", 11), (2, "aa", 10), (3, "bb", 20), (3, "bb", 20)],
        "doc_id long, lang string, h long",
    )
    class_stats, counts = C.nb_train(train, "lang", buckets=16)
    score_docs = spark.createDataFrame([(101,), (102,), (103,)], "doc_id long")
    doc_toks = spark.createDataFrame(
        [(101, 10), (101, 11), (102, 20), (103, 99)],  # aa-vocab / bb-vocab / unseen
        "doc_id long, h long",
    )
    got = {
        r["doc_id"]: r
        for r in C.nb_score(doc_toks, score_docs, class_stats, counts, "lang", buckets=16).collect()
    }
    assert got[101]["pred"] == "aa" and got[101]["n_tokens"] == 2
    assert got[102]["pred"] == "bb"
    # unseen token: scores reduce to q(n_docs) - q(n_toks + B);
    # aa: q(2)-q(21) > bb: q(1)-q(18) → aa
    assert got[103]["pred"] == "aa"

    # exact symmetric tie → class name ascending wins
    sym = spark.createDataFrame(
        [(1, "bb", 20), (2, "aa", 10)], "doc_id long, lang string, h long"
    )
    cs2, c2 = C.nb_train(sym, "lang", buckets=16)
    tie = C.nb_score(
        spark.createDataFrame([(7, 99)], "doc_id long, h long"),
        spark.createDataFrame([(7,)], "doc_id long"),
        cs2, c2, "lang", buckets=16,
    ).collect()
    assert tie[0]["pred"] == "aa"


@pytest.mark.heavy
def test_pagerank_crafted_graphs(spark):
    """pagerank (r7) unit semantics: a symmetric 2-cycle splits mass
    equally; a star's hub outranks its leaves; total mass stays ~SCALE
    (floor truncation only — bounded by iters·N); a dangling sink node
    keeps identity and redistributes its mass."""
    from msgraphdatapipelines_spark.operators.graph import SCALE, pagerank

    cyc = spark.createDataFrame([("a", "b", 1), ("b", "a", 1)], "src string, dst string, w long")
    got = {r["node"]: r["r_q"] for r in pagerank(cyc, iters=5).collect()}
    assert got["a"] == got["b"]
    assert abs(sum(got.values()) - SCALE) < 100  # conservation up to floor dust

    star = spark.createDataFrame(
        [("l1", "hub", 1), ("l2", "hub", 1), ("l3", "hub", 1), ("hub", "l1", 1)],
        "src string, dst string, w long",
    )
    got = {r["node"]: r["r_q"] for r in pagerank(star, iters=3).collect()}
    # hub collects all three leaves; l1 additionally receives the hub's
    # out-edge, so it outranks the other (symmetric) leaves
    assert got["hub"] > got["l1"] > got["l2"] == got["l3"]
    assert abs(sum(got.values()) - SCALE) < 100

    dang = spark.createDataFrame([("a", "sink", 1)], "src string, dst string, w long")
    got = {r["node"]: r["r_q"] for r in pagerank(dang, iters=2).collect()}
    assert set(got) == {"a", "sink"} and got["sink"] > got["a"]
    assert abs(sum(got.values()) - SCALE) < 100


@pytest.mark.heavy
def test_pagerank_damping_conservation_and_early_stop(spark):
    """r8: (a) teleport mass is (1 − damping), so total mass is conserved
    for NON-default damping too (r7 ADVICE item 1 — previously hardcoded
    0.15 leaked mass for any damping ≠ 0.85); (b) `tol` early-stops on a
    converged graph: a symmetric 2-cycle reaches its fixpoint after one
    round, so tol-mode with a generous iter cap returns the same ranks as
    the fixed 5-round run (r7 VERDICT item 5)."""
    from msgraphdatapipelines_spark.operators.graph import SCALE, pagerank

    cyc = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], "src string, dst string, w long"
    )
    for d in (0.5, 0.7, 0.95):
        got = {r["node"]: r["r_q"] for r in pagerank(cyc, iters=4, damping=d).collect()}
        assert abs(sum(got.values()) - SCALE) < 100, f"mass leak at damping={d}"

    fixed = {r["node"]: r["r_q"] for r in pagerank(cyc, iters=5).collect()}
    early = {r["node"]: r["r_q"] for r in pagerank(cyc, iters=50, tol=1e-9).collect()}
    assert early == fixed


def test_fuzzy_qgram_covers_prefix_blind_spot(spark):
    """fuzzy_join_qgram (r7): finds every match the prefix block finds AND
    the typo-in-the-first-characters matches the prefix block provably
    misses; exact distances agree with the verify stage."""
    from msgraphdatapipelines_spark.operators.fuzzy import (
        fuzzy_join_blocked,
        fuzzy_join_qgram,
    )

    cat = spark.createDataFrame(
        [("cold widget",), ("warm widget",), ("hot rod",)], "name string"
    )
    probes = spark.createDataFrame(
        [("cod widget",), ("xold widget",)],  # deletion at pos 3 / typo at pos 1
        "probe string",
    )
    # prefix=2 explicitly: the r8 production default is 4 (skew posture),
    # this test pins the prefix-block SEMANTICS at the permissive setting
    pref = {
        (r["probe"], r["name"])
        for r in fuzzy_join_blocked(probes, cat, "probe", "name", prefix=2).collect()
    }
    qg = {
        (r["probe"], r["name"])
        for r in fuzzy_join_qgram(probes, cat, "probe", "name").collect()
    }
    assert ("cod widget", "cold widget") in pref
    assert ("xold widget", "cold widget") not in pref  # prefix blind spot
    assert pref <= qg  # q-gram is a superset block
    assert ("xold widget", "cold widget") in qg  # blind spot covered


def test_fuzzy_qgram_multiplicity_and_name_collision(spark):
    """r8 (r7 ADVICE item 4): fuzzy_join_qgram dedups candidates on
    per-side row ids — duplicated input rows keep their multiplicity
    (matching fuzzy_join_blocked on the same input), and shared left/right
    column names raise a clear error instead of an ambiguous-column
    failure deep in the plan."""
    import pytest as _pytest

    from msgraphdatapipelines_spark.operators.fuzzy import (
        fuzzy_join_blocked,
        fuzzy_join_qgram,
    )

    cat = spark.createDataFrame([("cold widget",)], "name string")
    probes = spark.createDataFrame(
        [("cold widget",), ("cold widget",)], "probe string"  # duplicated row
    )
    qg = fuzzy_join_qgram(probes, cat, "probe", "name").collect()
    bl = fuzzy_join_blocked(probes, cat, "probe", "name").collect()
    assert len(qg) == len(bl) == 2  # multiplicity preserved
    with _pytest.raises(ValueError, match="share column names"):
        fuzzy_join_qgram(probes, probes, "probe", "probe")


def test_fuzzy_prefix4_block_distribution(spark, sf_dir):
    """r8 (r7 VERDICT item 6): longer prefixes never worsen and
    eventually strictly improve block balance.  On THIS fixture part
    names are space-joined color words, so prefixes 2 and 4 both resolve
    to the same ~8 first-word blocks (prefix 4 must not degrade); by
    prefix 8 the second word engages and both the max-block fraction and
    the block count strictly improve — the monotone structure behind the
    prefix=4 production default on natural key corpora."""
    from pyspark.sql import functions as F

    cat = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(F.col("p_name").alias("s"))
        .distinct()
    )
    n = cat.count()

    def block_stats(p):
        sizes = cat.groupBy(F.substring("s", 1, p).alias("b")).count()
        row = sizes.agg(
            F.max("count").alias("mx"), F.count("*").alias("nblocks")
        ).first()
        return row["mx"] / n, row["nblocks"]

    frac2, nb2 = block_stats(2)
    frac4, nb4 = block_stats(4)
    frac8, nb8 = block_stats(8)
    assert frac4 <= frac2 and nb4 >= nb2  # never degrades
    assert frac8 < frac2 and nb8 > nb2    # strictly improves once keys diverge


def test_set_similarity_prefix_lossless_and_edges(spark):
    """Prefix-filter set-similarity join (r7): candidates are a SUPERSET of
    all true pairs (loss-less), the verify stage prunes to exact Jaccard,
    and the length filter / threshold edges behave: identical sets → 1.0,
    a sub-threshold pair is dropped, disjoint sets never pair, and a
    big-vs-small size mismatch is pruned by the symmetric length bound."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import dedup as D

    rows = [
        (1, ["a", "b", "c", "d"]),        # near-dup of 2 (J=3/5=0.6)
        (2, ["a", "b", "c", "e"]),
        (3, ["a", "b", "c", "d"]),        # exact dup of 1 (J=1.0)
        (4, ["x", "y"]),                  # disjoint from all
        (5, ["a", "q", "r", "s", "t", "u", "v", "w"]),  # shares 'a' only: J=1/11
    ]
    grams = (
        spark.createDataFrame(rows, ["id", "toks"])
        .select("id", F.explode("toks").alias("g"))
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.set_similarity_join(grams, "id", "g", 0.5).collect()
    }
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 3)] == 1.0
    assert abs(got[(1, 2)] - 0.6) < 1e-9 and abs(got[(2, 3)] - 0.6) < 1e-9
    # candidates alone (pre-verify) must contain every true pair — and the
    # (1,5) size-mismatch pair must already be pruned by the length filter
    # (8 > 4/0.5 is false... 8 == 4/0.5 so it survives the length bound but
    # dies in verify; (4, x) pairs share no gram so never materialize)
    cands = {
        (r["id_a"], r["id_b"])
        for r in D.set_similarity_candidates_prefix(grams, "id", "g", 0.5).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= cands
    assert not any(4 in p for p in cands)


def test_set_similarity_exact_integer_threshold_boundary(spark):
    """r8 (r7 ADVICE item 3): when τ·|s| is an exact integer the IEEE
    product can round up (τ=3/17, |s|=85 → 15.000000000000002) and an
    un-guarded ceil over-tightens the symmetric length bound / shortens
    the prefix, dropping true pairs.  Crafted boundary pair: A ⊂ B with
    |A|=15, |B|=85 has J = 15/85 = 3/17 EXACTLY = τ; the buggy length
    bound demanded |A| ≥ ceil(15.0000…2) = 16 and B's prefix lost its
    only shared gram (position 71 of 71).  The epsilon-guarded ceil must
    keep the pair."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import dedup as D

    shared = [f"s{i:02d}" for i in range(15)]
    uniq = [f"u{i:02d}" for i in range(70)]
    rows = [(1, shared), (2, shared + uniq)]
    grams = (
        spark.createDataFrame(rows, ["id", "toks"])
        .select("id", F.explode("toks").alias("g"))
    )
    tau = 3.0 / 17.0
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.set_similarity_join(grams, "id", "g", tau).collect()
    }
    assert (1, 2) in got
    assert abs(got[(1, 2)] - tau) < 1e-6


def test_set_similarity_max_df_fat_gram_fallback_lossless(spark):
    """r8 (r7 VERDICT item 7): with ``max_df`` set, prefix occurrences of
    grams above the df cap route through the exact within-group fallback
    instead of the df² self-join — and the result (pairs AND jaccards)
    must be IDENTICAL to the uncapped run on a corpus engineered so that
    several true pairs are discoverable ONLY via a fat universal gram."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import dedup as D

    # 6 docs all sharing fat grams z1/z2; pairs within each trio are true
    # near-dups whose only shared grams are the fat ones plus one more
    rows = [
        (i, ["z1", "z2", "z3", f"a{i}"]) for i in range(3)
    ] + [
        (i, ["z1", "z2", "w3", f"b{i}"]) for i in range(3, 6)
    ]
    grams = (
        spark.createDataFrame(rows, ["id", "toks"])
        .select("id", F.explode("toks").alias("g"))
    )
    key = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()
    }
    uncapped = key(D.set_similarity_join(grams, "id", "g", 0.5))
    capped = key(D.set_similarity_join(grams, "id", "g", 0.5, max_df=2))
    assert capped == uncapped
    # the trio pairs (J=3/5) exist and are only reachable through fat grams
    assert {(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5)} == set(uncapped)
    # candidate layer equality too (the loss-lessness proof surface)
    cand_un = {
        (r["id_a"], r["id_b"])
        for r in D.set_similarity_candidates_prefix(grams, "id", "g", 0.5).collect()
    }
    cand_cap = {
        (r["id_a"], r["id_b"])
        for r in D.set_similarity_candidates_prefix(
            grams, "id", "g", 0.5, max_df=2
        ).collect()
    }
    assert cand_cap == cand_un


def test_setsim_max_df_env_cap_on_equals_off(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_SETSIM_MAX_DF reaches the served set-similarity row:
    with the cap on, fat-gram prefixes take the within-group fallback and
    the pairs and jaccards equal the uncapped run.  Malformed values fail
    naming the variable; a value <= 0 is unset."""
    from msgraphdatapipelines_spark.queries import dedup as QD

    def run():
        df = QD.set_similarity_join_docs(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}, plan

    monkeypatch.delenv("SPARK_GRAFT_SETSIM_MAX_DF", raising=False)
    off, plan_off = run()
    monkeypatch.setenv("SPARK_GRAFT_SETSIM_MAX_DF", " 1 ")
    on, plan_on = run()
    assert off and on == off
    assert "FlatMapGroupsInPandas" in plan_on and "FlatMapGroupsInPandas" not in plan_off
    for unset in ("0", "-3", "  "):
        monkeypatch.setenv("SPARK_GRAFT_SETSIM_MAX_DF", unset)
        assert QD._setsim_max_df() is None
    monkeypatch.setenv("SPARK_GRAFT_SETSIM_MAX_DF", "fifty")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SETSIM_MAX_DF"):
        QD._setsim_max_df()


def test_eval_classification_null_conventions(spark):
    """eval_classification (r7): a class never predicted has NULL precision
    (not 0), a class predicted but absent from labels has NULL recall and
    support 0, and F1 is NULL whenever either component is — the sklearn
    undefined-metric cases made explicit."""
    from msgraphdatapipelines_spark.operators.classify import eval_classification

    preds = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("c", "b")], ["label", "pred"]
    )
    # labels: a×2, b×1, c×1; preds: a×1, b×3; class c never predicted,
    # no class predicted-only here — add one: label 'a' pred 'd'
    preds = preds.union(spark.createDataFrame([("a", "d")], ["label", "pred"]))
    got = {r["class"]: r for r in eval_classification(preds, "label", "pred").collect()}
    assert set(got) == {"a", "b", "c", "d"}
    a = got["a"]
    assert (a["support"], a["tp"], a["n_pred"]) == (3, 1, 1)
    assert a["precision"] == 1.0 and abs(a["recall"] - 1 / 3) < 1e-6
    # c: labeled, never predicted → precision NULL, recall 0, f1 NULL
    c = got["c"]
    assert c["precision"] is None and c["recall"] == 0.0 and c["f1"] is None
    # d: predicted, never labeled → support 0, recall NULL, precision 0
    d = got["d"]
    assert d["support"] == 0 and d["recall"] is None and d["precision"] == 0.0 and d["f1"] is None
    b = got["b"]
    assert b["tp"] == 1 and b["n_pred"] == 3 and abs(b["f1"] - 0.5) < 1e-6


def test_bm25_max_df_stop_term_pruning(spark):
    """r8 (r7 VERDICT item 3): bm25 df-cap — a crafted fat (stop) probe
    term must not pull a corpus-sized postings list through the scoring
    join: with max_df set, (a) the contrib stage's joined row count is
    bounded by Σ_{kept terms} df ≤ |terms|·max_df (the fat term's 60
    postings vanish), and (b) ranked output for a normal rare-term probe
    is UNCHANGED by the cap."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.queries.text import bm25_contrib, bm25_topk

    # 60 docs all containing the stop term; two rare terms in 2 docs each
    rows = [(i, f"stop filler{i} pad{i % 7}") for i in range(2, 62)]
    rows += [(0, "stop rareA rareB end"), (1, "rareA rareB other words")]
    rows += [(62, "rareA something else entirely here"),
             (63, "rareB another unrelated document text")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    # probe query = doc 0's first 3 tokens: stop, rareA, rareB
    qt = docs.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("q_id"),
        F.explode(F.array_distinct(F.slice(ws, 1, 3))).alias("tok"),
    )
    uncapped = bm25_contrib(docs, qt).count()
    capped = bm25_contrib(docs, qt, max_df=5).count()
    # fat term 'stop' has df=61; rareA/rareB have df=3 each
    assert uncapped == 61 + 3 + 3
    assert capped == 3 + 3  # bounded by kept-term dfs; 'stop' postings gone

    # normal probe (doc 1: rareA rareB other): ranked output identical
    qt_norm = docs.filter(F.col("doc_id") == 1).select(
        F.col("doc_id").alias("q_id"),
        F.explode(F.array_distinct(F.slice(ws, 1, 2))).alias("tok"),
    )
    plain = [tuple(r) for r in bm25_topk(docs, qt_norm, k=10).collect()]
    pruned = [tuple(r) for r in bm25_topk(docs, qt_norm, k=10, max_df=5).collect()]
    assert plain == pruned and len(plain) > 0


def test_cm_sketch_merge_and_guarantees(spark):
    """r8 count-min sketch: (a) merging per-part sketches equals the
    one-shot global sketch cell-for-cell (union-of-sketches ≡
    sketch-of-union); (b) estimates NEVER underestimate (the CM
    guarantee, on a crafted skewed key set); (c) a weighted build counts
    weights, not rows."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators.sketches import (
        build_cm_sketch,
        cm_estimate,
        merge_cm_sketches,
    )

    rows = [("hot",)] * 500 + [(f"k{i}",) for i in range(200)] * 3
    df = spark.createDataFrame(rows, ["k"]).withColumn(
        "part", (F.monotonically_increasing_id() % 2).cast("int")
    )
    one_shot = build_cm_sketch(df, [], "k")
    merged = merge_cm_sketches(build_cm_sketch(df, ["part"], "k"), [])
    cells = lambda d: {  # noqa: E731
        (r["depth"], r["bucket"]): r["cnt"] for r in d.collect()
    }
    assert cells(merged) == cells(one_shot)

    keys = df.select("k").distinct()
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    est = cm_estimate(one_shot, keys, "k").join(exact, "k")
    rows_ = est.collect()
    assert all(r["cm_est"] >= r["c"] for r in rows_)  # never under
    hot = next(r for r in rows_ if r["k"] == "hot")
    # with N=1100 and 256 buckets/row, collisions add ≪ the hot count
    assert hot["cm_est"] < 500 + 1100

    wdf = spark.createDataFrame([("a", 10), ("a", 5), ("b", 1)], ["k", "w"])
    west = cm_estimate(build_cm_sketch(wdf, [], "k", weight_col="w"), wdf.select("k").distinct(), "k")
    got = {r["k"]: r["cm_est"] for r in west.collect()}
    assert got["a"] >= 15 and got["b"] >= 1


def test_split_by_group_and_leakage_check(spark):
    """r8: split_by_group assigns every row of a group to one split
    (leak-free by construction), weights land near their targets, the
    seed reshuffles assignments, and leakage_check flags a deliberately
    leaky hand-made split."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators.sampling import (
        leakage_check,
        split_by_group,
    )

    rows = [(u, e) for u in range(500) for e in range(3)]  # 3 rows per user
    df = spark.createDataFrame(rows, ["user_id", "ev"])
    a = df.select("user_id", "ev", split_by_group("user_id"))
    leak = leakage_check(a, "user_id").collect()[0]
    assert leak["n_keys"] == 500 and leak["n_leaked"] == 0
    shares = {r["split"]: r["c"] for r in a.groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert set(shares) == {"train", "val", "test"}
    assert abs(shares["train"] / 1500 - 0.8) < 0.08  # 500 groups, ±few %
    # every group's rows agree (count of (user, split) pairs == users)
    assert a.select("user_id", "split").distinct().count() == 500

    b = df.select("user_id", split_by_group("user_id", seed="other"))
    moved = (
        a.select("user_id", "split").distinct()
        .join(b.distinct().withColumnRenamed("split", "s2"), "user_id")
        .filter(F.col("split") != F.col("s2"))
        .count()
    )
    assert moved > 0  # seed actually reshuffles

    leaky = spark.createDataFrame(
        [(1, "train"), (1, "test"), (2, "train"), (3, "val")], ["k", "split"]
    )
    r = leakage_check(leaky, "k").collect()[0]
    assert r["n_keys"] == 3 and r["n_leaked"] == 1


def test_point_in_time_join_semantics(spark):
    """r8 point_in_time_join: a fact at exactly the change instant sees
    the NEW version (half-open intervals), pre-history facts keep NULL
    dims under left semantics, duplicate fact rows keep multiplicity, and
    inner mode drops the unmatched."""
    import datetime as dt

    from msgraphdatapipelines_spark.operators.rangejoin import point_in_time_join

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 15)
    hist = spark.createDataFrame(
        [(1, "v1", t0, t1), (1, "v2", t1, None)],
        "k long, val string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (10, 1, dt.datetime(2024, 1, 10)),   # inside v1
            (11, 1, t1),                          # exactly at change -> v2
            (12, 1, dt.datetime(2023, 12, 1)),    # before any version
            (13, 1, dt.datetime(2024, 2, 1)),     # current -> v2
            (13, 1, dt.datetime(2024, 2, 1)),     # duplicate fact row
        ],
        "fid long, k long, ts timestamp",
    )
    out = point_in_time_join(facts, hist, "k", "k", "ts")
    got = sorted((r["fid"], r["val"]) for r in out.collect())
    assert got == [(10, "v1"), (11, "v2"), (12, None), (13, "v2"), (13, "v2")]
    inner = point_in_time_join(facts, hist, "k", "k", "ts", how="inner")
    assert sorted(r["fid"] for r in inner.collect()) == [10, 11, 13, 13]


def test_cm_join_size_estimate(spark):
    """r8 cm_join_size_estimate: the sketch inner product never
    underestimates the true equi-join cardinality and lands close on a
    skewed key distribution (hot key dominates the product)."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators.sketches import (
        build_cm_sketch,
        cm_join_size_estimate,
    )

    a = spark.createDataFrame(
        [("hot",)] * 100 + [(f"a{i}",) for i in range(50)], ["k"]
    )
    b = spark.createDataFrame(
        [("hot",)] * 40 + [(f"a{i}",) for i in range(20)] * 2, ["k"]
    )
    true_size = a.join(b, "k").count()
    est = cm_join_size_estimate(
        build_cm_sketch(a, [], "k"), build_cm_sketch(b, [], "k")
    ).collect()[0]["join_size_est"]
    assert est >= true_size  # sound for broadcast-safety verdicts
    assert est <= true_size * 1.5  # collisions stay small at this load


def test_transitive_reachability_diamond_cycle_depth_cap(spark):
    """r8 transitive_reachability: diamond gets min depth (a->d = 2 via
    either arm), a 3-cycle terminates with all 6 cross pairs and no self
    pairs, max_depth truncates a chain, early stop returns before the
    cap on a shallow graph."""
    from msgraphdatapipelines_spark.operators.graph import transitive_reachability

    def pairs(df):
        return {(r["src"], r["dst"]): r["min_depth"] for r in df.collect()}

    diamond = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")], ["src", "dst"]
    )
    got = pairs(transitive_reachability(diamond))
    assert got[("a", "d")] == 2 and got[("a", "b")] == 1 and len(got) == 5

    cyc = spark.createDataFrame([("x", "y"), ("y", "z"), ("z", "x")], ["src", "dst"])
    got = pairs(transitive_reachability(cyc))
    assert len(got) == 6 and all(s != d for s, d in got)
    assert got[("x", "z")] == 2  # not 5 via the long way round

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["src", "dst"]
    )
    capped = pairs(transitive_reachability(chain, max_depth=3))
    assert max(capped.values()) == 3 and (0, 3) in capped and (0, 4) not in capped


def test_weighted_sample_without_replacement_properties(spark):
    """r8 A-ES weighted sampling: exactly k per stratum, no duplicates,
    heavy weights dominate inclusion over many disjoint seeds, zero
    weights never sampled, deterministic under re-run."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    rows = [(i, "s", 100.0 if i < 5 else 1.0) for i in range(100)]
    rows += [(200, "s", 0.0)]  # never sampled
    df = spark.createDataFrame(rows, ["id", "st", "w"])

    s1 = weighted_sample_without_replacement(df, "id", "w", k=10, strata=["st"])
    ids1 = sorted(r["id"] for r in s1.collect())
    assert len(ids1) == 10 == len(set(ids1)) and 200 not in ids1
    s2 = weighted_sample_without_replacement(df, "id", "w", k=10, strata=["st"])
    assert sorted(r["id"] for r in s2.collect()) == ids1  # deterministic

    # heavy ids (w=100, 5 of 100) should be picked far above their 5%
    # count share: over 20 seeds, expect the majority present each time
    heavy_hits = 0
    for s in range(20):
        got = {
            r["id"]
            for r in weighted_sample_without_replacement(
                df, "id", "w", k=10, strata=["st"], seed=str(s)
            ).collect()
        }
        heavy_hits += len(got & {0, 1, 2, 3, 4})
    assert heavy_hits >= 60  # ≥3 of 5 heavies on average (uniform would give ~0.5)


def test_quarantine_row_level_dead_letter(spark):
    """r8 constraints.quarantine: rows split into valid vs invalid with
    per-row reason arrays (multiple violations accumulate), NULL FK keys
    pass (SQL semantics), valid ∪ invalid == input, unique rejected."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import constraints as C

    parent = spark.createDataFrame([(1,), (2,)], ["pid"])
    df = spark.createDataFrame(
        [
            (1, 10, 1),      # clean
            (None, 5, 2),    # null id
            (3, -1, 9),      # bad value + missing FK
            (4, 7, None),    # NULL FK key -> not a violation
        ],
        "id long, v long, fk long",
    )
    cons = [
        *C.not_null("id"),
        C.check("v_nonneg", F.col("v") < 0),
        C.foreign_key(["fk"], parent, ["pid"]),
    ]
    valid, invalid = C.quarantine(df, cons)
    assert sorted(r["id"] for r in valid.collect()) == [1, 4]
    got = {r["id"]: sorted(r["_violations"]) for r in invalid.collect()}
    assert got[None] == ["not_null_id"]
    assert got[3] == ["fk_fk", "v_nonneg"]
    assert valid.count() + invalid.count() == df.count()
    with _pytest.raises(ValueError, match="set-level"):
        C.quarantine(df, [C.unique("id")])


def test_set_similarity_randomized_equals_bruteforce(spark):
    """r8 randomized exactness audit for the promoted graded row's
    operator: over seeded random set collections (varied universe sizes,
    skewed gram frequencies, epsilon-hazard thresholds like 3/17 and 1/3,
    max_df on and off), set_similarity_join must equal the brute-force
    all-pairs Jaccard computed in plain Python — both the PAIR SET and
    the values."""
    import random

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import dedup as D

    for case, (tau, max_df) in enumerate(
        [(0.5, None), (3 / 17, None), (1 / 3, 2), (0.7, 3), (2 / 3, None), (0.4, 4)]
    ):
        rng = random.Random(1000 + case)
        uni = [f"g{i}" for i in range(rng.randint(8, 30))]
        sets = {
            i: set(rng.sample(uni, rng.randint(1, min(12, len(uni)))))
            for i in range(rng.randint(6, 18))
        }
        want = {}
        for a in sets:
            for b in sets:
                if a < b:
                    inter = len(sets[a] & sets[b])
                    uni_n = len(sets[a] | sets[b])
                    j = inter / uni_n
                    if j >= tau:
                        want[(a, b)] = round(j, 6)
        grams = spark.createDataFrame(
            [(i, g) for i, s in sets.items() for g in sorted(s)], ["id", "g"]
        )
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.set_similarity_join(grams, "id", "g", tau, max_df=max_df).collect()
        }
        assert got == want, f"case {case}: tau={tau} max_df={max_df}"


def test_transitive_reachability_randomized_equals_python_bfs(spark):
    """r8 randomized audit: over seeded random digraphs (with cycles),
    transitive_reachability equals a plain-Python BFS closure — pair set
    AND min depths."""
    import random
    from collections import deque

    from msgraphdatapipelines_spark.operators.graph import transitive_reachability

    for case in range(4):
        rng = random.Random(42 + case)
        n = rng.randint(5, 12)
        edges = {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(n, 3 * n))
        }
        edges = {(a, b) for a, b in edges if a != b}
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
        want = {}
        for s in range(n):
            depth = {s: 0}
            dq = deque([s])
            while dq:
                u = dq.popleft()
                for v in adj.get(u, []):
                    if v not in depth:
                        depth[v] = depth[u] + 1
                        dq.append(v)
            for v, d in depth.items():
                if v != s and d <= 8:
                    want[(s, v)] = d
        df = spark.createDataFrame(sorted(edges), ["src", "dst"])
        got = {
            (r["src"], r["dst"]): r["min_depth"]
            for r in transitive_reachability(df, max_depth=8).collect()
        }
        assert got == want, f"case {case}"


def test_chunk_text_udtf_equals_codegen_operator(spark, sf_dir):
    """r8 UDTF surface: the Python table function's overlapping chunks
    equal the codegen chunk_text operator row-for-row on the documents
    fixture (including the empty-doc one-empty-chunk contract)."""
    from msgraphdatapipelines_spark.operators import text as X
    from msgraphdatapipelines_spark.queries.udfs import chunk_text_udtf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    native = {
        (r["doc_id"], r["chunk_idx"], r["chunk_text"])
        for r in X.chunk_text(docs, "doc_id", "text", size=200, stride=150).collect()
    }
    via_udtf = {
        (r["doc_id"], r["chunk_id"], r["chunk"])
        for r in chunk_text_udtf(spark, docs, size=200, stride=150).collect()
    }
    assert via_udtf == native and len(native) > 120


def test_hard_negatives_semantics(spark):
    """r8 hard_negatives: positives are excluded, survivors rank by score
    with id tiebreak, k truncates, a query whose candidates are all
    positives yields nothing."""
    from msgraphdatapipelines_spark.operators.similarity import hard_negatives

    cands = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.8), (1, 13, 0.2),
         (2, 20, 0.7), (2, 21, 0.6)],
        ["qid", "cid", "score"],
    )
    pos = spark.createDataFrame([(1, 10), (2, 20), (2, 21)], ["qid", "cid"])
    got = [
        (r["qid"], r["cid"], r["neg_rank"])
        for r in hard_negatives(cands, pos, k=2).orderBy("qid", "neg_rank").collect()
    ]
    assert got == [(1, 11, 1), (1, 12, 2)]  # 10 excluded; tie 0.8 -> lower cid first


def test_choose_join_strategy_sketch_verdicts(spark):
    """r9: choose_join_strategy is the cm_join_size_estimate consumer —
    a small parent gets broadcast_parent=True, a parent over the row
    threshold flips to False (the never-under total makes that verdict
    sound), and a hot-key pair raises skew_warning.  The verdict composes
    with the FK probe: plan shows a broadcast for the small parent and
    none for the flipped one."""
    from msgraphdatapipelines_spark import plans
    from msgraphdatapipelines_spark.operators import constraints as C
    from msgraphdatapipelines_spark.operators.sketches import (
        build_cm_sketch,
        choose_join_strategy,
        cm_total_rows,
    )

    child = spark.createDataFrame(
        [("hot",)] * 200 + [(f"c{i}",) for i in range(100)], ["k"]
    )
    small_parent = spark.createDataFrame([(f"c{i}",) for i in range(50)], ["k"])
    big_parent = spark.createDataFrame(
        [("hot",)] * 150 + [(f"p{i}",) for i in range(300)], ["k"]
    )
    sk_child = build_cm_sketch(child, [], "k")
    sk_small = build_cm_sketch(small_parent, [], "k")
    sk_big = build_cm_sketch(big_parent, [], "k")

    assert cm_total_rows(sk_small) == 50  # bucket sums are collision-free
    assert cm_total_rows(sk_big) == 450

    plan_small = choose_join_strategy(sk_child, sk_small, broadcast_threshold_rows=100)
    assert plan_small["broadcast_parent"] is True
    assert plan_small["skew_warning"] is False  # disjoint-ish keys, no fan-out

    plan_big = choose_join_strategy(sk_child, sk_big, broadcast_threshold_rows=100)
    assert plan_big["broadcast_parent"] is False  # sound: est never under
    # hot×hot = 200·150 = 30000 ≥ 4×(300+450) — the fan-out signature
    assert plan_big["join_size_est"] >= 30000
    assert plan_big["skew_warning"] is True

    # verdicts drive the FK probe's physical plan
    fk_small = C.check_constraints(
        child,
        [C.foreign_key(["k"], small_parent, ["k"],
                       broadcast_parent=plan_small["broadcast_parent"])],
    )
    assert plans.num_broadcasts(fk_small) >= 1
    fk_big = C.check_constraints(
        child,
        [C.foreign_key(["k"], big_parent, ["k"],
                       broadcast_parent=plan_big["broadcast_parent"])],
    )
    assert plans.num_broadcasts(fk_big) == 0


def test_cm_estimate_missing_key_returns_zero(spark):
    """r9 (ADVICE): a probed key absent from the sketch gets est=0 (left
    join + coalesce), not a silently missing row — threshold screens read
    every probed key."""
    from msgraphdatapipelines_spark.operators.sketches import (
        build_cm_sketch,
        cm_estimate,
    )

    data = spark.createDataFrame([(f"k{i}",) for i in range(30)], ["k"])
    sk = build_cm_sketch(data, [], "k")
    probes = spark.createDataFrame([("k3",), ("never_seen_xyz",)], ["k"])
    est = {r["k"]: r["cm_est"] for r in cm_estimate(sk, probes, "k").collect()}
    assert set(est) == {"k3", "never_seen_xyz"}
    assert est["k3"] >= 1
    # not guaranteed 0 on collision, but must be present and never under
    assert est["never_seen_xyz"] >= 0


@pytest.mark.heavy
def test_transitive_reachability_deep_chain_frontier_only_checkpoint(spark, monkeypatch):
    """r9 (r8 VERDICT item 7): a depth-40 chain completes, the closure is
    exact, and the loop pins only the per-round INCREMENT — total rows
    materialized through localCheckpoint equal the closure size (each pair
    checkpointed exactly once at its discovery depth), not the
    O(closure · depth) a re-pin-the-whole-closure-per-round loop writes."""
    # patch the CONCRETE class — in PySpark 4 pyspark.sql.DataFrame is the
    # unified facade and classic sessions instantiate the subclass below,
    # whose own localCheckpoint would shadow a base-class patch
    from pyspark.sql.classic.dataframe import DataFrame

    from msgraphdatapipelines_spark.operators.graph import transitive_reachability

    n = 40
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )

    pinned_rows = []
    orig = DataFrame.localCheckpoint

    def counting(self, eager=True, storageLevel=None):
        out = orig(self, eager=eager)
        pinned_rows.append(out.count())
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    got = transitive_reachability(chain, max_depth=n)
    rows = {(r["src"], r["dst"]): r["min_depth"] for r in got.collect()}
    expect = {
        (i, j): j - i for i in range(n + 1) for j in range(i + 1, n + 1)
    }
    assert rows == expect
    # every pair pinned exactly once (+ the final empty frontier probe)
    assert sum(pinned_rows) == len(expect)


def test_transitive_reachability_reliable_checkpoint(spark, tmp_path):
    """checkpoint='reliable' routes increments through the configured
    checkpoint dir (the connected_components escape hatch) and returns the
    same closure."""
    from msgraphdatapipelines_spark.operators.graph import transitive_reachability

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    got = {
        (r["src"], r["dst"], r["min_depth"])
        for r in transitive_reachability(chain, max_depth=8, checkpoint="reliable").collect()
    }
    assert got == {
        (i, j, j - i) for i in range(6) for j in range(i + 1, 6)
    }


def test_duplicated_span_stats_crafted(spark):
    """r9 duplicated_span_stats: two docs sharing an 8-token run are both
    fully flagged over that run (coverage counts the union of overlapping
    windows, not window-count × n); a unique doc reports zeros; a doc
    shorter than n reports zero grams."""
    from msgraphdatapipelines_spark.operators.text import duplicated_span_stats

    shared = "a b c d e f g h"  # 8 tokens, identical in docs 1 and 2
    rows = [
        (1, shared + " x1 y1 z1"),
        (2, "p2 q2 " + shared),
        (3, "u3 v3 w3 x3 y3 z3 a3 b3 c3"),  # unique 9 tokens
        (4, "s t u"),  # shorter than n
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in duplicated_span_stats(df, n=8).collect()}
    assert got[1]["n_dup_positions"] == 1 and got[1]["covered_tokens"] == 8
    assert got[1]["n_tokens"] == 11 and got[1]["n_grams"] == 4
    assert got[2]["n_dup_positions"] == 1 and got[2]["covered_tokens"] == 8
    assert got[3]["n_dup_positions"] == 0 and got[3]["covered_tokens"] == 0
    assert got[4]["n_grams"] == 0 and got[4]["dup_token_fraction"] == 0.0


def test_duplicated_span_stats_overlapping_windows_union(spark):
    """Overlapping duplicated windows merge: doc pair sharing a 10-token
    run has 3 duplicated 8-gram positions but only 10 covered tokens."""
    from msgraphdatapipelines_spark.operators.text import duplicated_span_stats

    run = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, run + " u1 u2"), (2, "v1 " + run)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in duplicated_span_stats(df, n=8).collect()}
    assert got[1]["n_dup_positions"] == 3
    assert got[1]["covered_tokens"] == 10
    assert got[2]["covered_tokens"] == 10


def test_gopher_rules_edge_docs(spark):
    """r9 gopher_rules: crafted violations trip exactly their rule."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import text as X

    rows = [
        (1, "the and for " + " ".join(f"word{i}" for i in range(30))),  # clean
        (2, "the and " + " ".join(["duplicated"] * 40)),  # top-token violation
        (3, "the and once twice"),  # too short
        (4, "the and " + " ".join(["123"] * 10) + " " + " ".join(f"word{i}" for i in range(20))),  # digits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rules = X.gopher_rules("text")
    got = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[c.alias(k) for k, c in rules.items()]).collect()
    }
    assert got[1]["gopher_pass"]
    assert not got[2]["pass_top_token"] and not got[2]["gopher_pass"]
    assert not got[3]["pass_n_tokens"]
    assert not got[4]["pass_digit_ratio"]


def test_dsir_weights_direction_and_exactness(spark):
    """r9 dsir_weights: docs made of target-only vocabulary score strictly
    above docs of off-target vocabulary, and the quantized score replays
    from plain-Python arithmetic on the same counts."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators.text import dsir_weights

    target_doc = "alpha beta gamma alpha beta"
    off_doc = "zeta eta theta zeta eta"
    rows = [(1, target_doc, True), (2, off_doc, False), (3, target_doc, False)]
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    got = {r["doc_id"]: r for r in dsir_weights(df, F.col("t"), "doc_id", "text").collect()}
    # direction: target-vocab doc strictly above off-vocab doc; the
    # ABSOLUTE sign stays negative at toy scale (+1 smoothing dominates
    # 5-token counts), so only the off-vocab doc's flag is pinned
    assert got[3]["dsir_logratio"] > got[2]["dsir_logratio"]
    assert not got[2]["target_like"]

    # replay doc 2's score in plain Python
    def bucket(tok):
        return hashlib.md5(tok.encode()).hexdigest()[:2]

    toks_all = (target_doc + " " + off_doc + " " + target_doc).split()
    toks_t = target_doc.split()
    c_raw, c_tgt = {}, {}
    for tok in toks_all:
        c_raw[bucket(tok)] = c_raw.get(bucket(tok), 0) + 1
    for tok in toks_t:
        c_tgt[bucket(tok)] = c_tgt.get(bucket(tok), 0) + 1
    Q = 1_000_000
    lnq = lambda x: math.floor(math.log(x) * Q)  # noqa: E731
    cq = lnq(len(toks_all) + 256) - lnq(len(toks_t) + 256)
    swq = sum(
        lnq(c_tgt.get(bucket(tok), 0) + 1) - lnq(c_raw[bucket(tok)] + 1)
        for tok in off_doc.split()
    )
    n = len(off_doc.split())
    assert got[2]["dsir_logratio"] == round((swq + n * cq) / (Q * n), 6)


def test_standing_lexicon_builds_once(spark, sf_dir):
    """r9 ensure_standing_lexicon: second call resolves the SAME artifact
    (meta.json mtime untouched — no recompute, no rewrite), and the
    served postings equal a fresh tf computation."""
    import os

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.queries import load
    from msgraphdatapipelines_spark.queries.text import (
        ensure_standing_lexicon,
        lexicon_root,
    )

    p1, d1, t1, m1 = ensure_standing_lexicon(spark, sf_dir)
    mt = os.path.getmtime(f"{lexicon_root(sf_dir)}/meta.json")
    p2, d2, t2, m2 = ensure_standing_lexicon(spark, sf_dir)
    assert os.path.getmtime(f"{lexicon_root(sf_dir)}/meta.json") == mt
    assert m1 == m2

    docs = load(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    fresh_tf = (
        docs.select("doc_id", F.explode(ws).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
    )
    assert p2.count() == fresh_tf.count()
    assert m2["n_docs"] == docs.count()


def test_lexicon_incremental_append_equals_full_rebuild(spark, sf_dir, tmp_path):
    """r9 incremental lexicon: ingesting the corpus as two batches +
    compact serves EXACTLY the ranking a from-scratch lexicon over the
    union produces (postings, stats, and BM25 top-k all equal)."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.queries import load
    from msgraphdatapipelines_spark.queries.text import (
        bm25_topk,
        lexicon_append_batch,
        lexicon_compact,
        read_lexicon,
    )
    from msgraphdatapipelines_spark.queries.text import bm25_topk_served

    docs = load(spark, sf_dir, "documents")
    root = str(tmp_path / "lex")
    lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") < 250))
    lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") >= 250))
    meta = lexicon_compact(spark, root)
    assert meta["n_batches"] == 2
    assert meta["n_docs"] == docs.count()

    postings, dl, dfreq, _ = read_lexicon(spark, root)
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    fresh = (
        docs.select("doc_id", F.explode(ws).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
    )
    assert postings.count() == fresh.count()

    qt = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("q_id"),
        F.explode(F.array_distinct(F.slice(ws, 1, 4))).alias("tok"),
    )
    from_scratch = {
        tuple(r) for r in bm25_topk(docs, qt, k=10).collect()
    }
    import msgraphdatapipelines_spark.queries.text as qtmod

    served = {
        tuple(r)
        for r in qtmod._bm25_from_lexicon(
            spark, root, qt, k=10
        ).collect()
    }
    assert served == from_scratch


def test_lexicon_store_works_on_file_scheme_root(spark, sf_dir, tmp_path):
    """r10 (r9 VERDICT item 7): every lexicon store probe goes through the
    Hadoop FS API — an explicit ``file:``-scheme root (the local stand-in
    for an object-store prefix, where ``os.listdir``/``os.path.exists``
    would see nothing) must append, compact, and serve identically."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.queries import load
    from msgraphdatapipelines_spark.queries.text import (
        _bm25_from_lexicon,
        bm25_topk,
        lexicon_append_batch,
        lexicon_compact,
        read_lexicon,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    root = f"file://{tmp_path}/lexfs"
    lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") < 100))
    lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") >= 100))
    meta = lexicon_compact(spark, root)
    assert meta["n_batches"] == 2
    assert meta["n_docs"] == docs.count()
    postings, dl, dfreq, meta2 = read_lexicon(spark, root)
    assert meta2 == meta
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    qt = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("q_id"),
        F.explode(F.array_distinct(F.slice(ws, 1, 4))).alias("tok"),
    )
    served = {tuple(r) for r in _bm25_from_lexicon(spark, root, qt, k=5).collect()}
    fresh = {tuple(r) for r in bm25_topk(docs, qt, k=5).collect()}
    assert served == fresh


def test_vacuum_standing_artifacts_collects_stale_roots(spark, tmp_path):
    """r10 (r9 VERDICT item 7): stale corpus-fingerprint roots are swept,
    the live set and TTL-young roots survive, non-standing dirs are never
    touched."""
    import os
    import time

    from msgraphdatapipelines_spark import sinks

    base = str(tmp_path / "artifacts")
    os.makedirs(f"{base}/msgdp_ivfpq_stale00/snapshot", exist_ok=True)
    os.makedirs(f"{base}/msgdp_lex_stale1111", exist_ok=True)
    os.makedirs(f"{base}/msgdp_zm_live2222", exist_ok=True)
    os.makedirs(f"{base}/unrelated_dir", exist_ok=True)
    live = os.path.join(base, "msgdp_zm_live2222")
    out = sinks.vacuum_standing_artifacts(spark, base_dir=base, keep_roots={live})
    assert sorted(os.path.basename(p) for p in out["removed"]) == [
        "msgdp_ivfpq_stale00",
        "msgdp_lex_stale1111",
    ]
    assert [os.path.basename(p) for p in out["kept"]] == ["msgdp_zm_live2222"]
    assert os.path.isdir(live)
    assert os.path.isdir(f"{base}/unrelated_dir")
    assert not os.path.isdir(f"{base}/msgdp_ivfpq_stale00")

    # TTL mode: a fresh root (mtime now) survives a 1-hour TTL without
    # being in the keep set; ttl=0 collects it
    os.makedirs(f"{base}/msgdp_lex_fresh333", exist_ok=True)
    os.utime(f"{base}/msgdp_lex_fresh333", (time.time(), time.time()))
    out2 = sinks.vacuum_standing_artifacts(spark, base_dir=base, ttl_hours=1.0)
    assert any(p.endswith("msgdp_lex_fresh333") for p in out2["kept"])
    out3 = sinks.vacuum_standing_artifacts(spark, base_dir=base, ttl_hours=0.0)
    assert any(p.endswith("msgdp_lex_fresh333") for p in out3["removed"])


def test_standing_sketch_store_serves_join_verdicts(spark, sf_dir):
    """r10: the standing CM sketch store builds once per (table, key,
    fingerprint) and serves choose_join_strategy verdicts identical to
    freshly-built sketches — the FK pre-flight's planning artifact."""
    import os

    from msgraphdatapipelines_spark.operators.sketches import (
        build_cm_sketch,
        choose_join_strategy,
        ensure_standing_sketch,
        sketch_store_root,
    )

    child = ensure_standing_sketch(spark, sf_dir, "orders", "o_custkey")
    parent = ensure_standing_sketch(spark, sf_dir, "customer", "c_custkey")
    root = sketch_store_root(sf_dir, "orders", "o_custkey")
    mt = os.path.getmtime(f"{root}/cells/_LATEST")
    child2 = ensure_standing_sketch(spark, sf_dir, "orders", "o_custkey")
    assert os.path.getmtime(f"{root}/cells/_LATEST") == mt  # served, not rebuilt

    served = choose_join_strategy(child2, parent)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    fresh = choose_join_strategy(
        build_cm_sketch(o.na.drop(subset=["o_custkey"]), [], "o_custkey"),
        build_cm_sketch(c.na.drop(subset=["c_custkey"]), [], "c_custkey"),
    )
    assert served == fresh
    assert served["broadcast_parent"] is True
    assert served["child_rows_est"] == o.count()


# --- late r10: perceptual dHash near-dup -----------------------------------


def _media_df(spark, rows):
    return M.wrap_text_as_media(
        spark.createDataFrame(rows, "doc_id long, text string"), "doc_id", "text"
    )


def test_perceptual_dhash_edit_robust_and_discriminating(spark):
    """Identical payloads hash identically (distance 0); a small edit
    moves few block means (small distance); unrelated payloads are far.
    The operator must find exactly the near pairs at a tight radius."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),
        (2, base),  # identical
        (3, base[:-6] + "cat!!!"),  # small tail edit
        (4, "zzzz AAAA 0101 " * 30),  # unrelated
    ]
    hashed = M.perceptual_dhash(_media_df(spark, rows))
    h = {r["media_id"]: r["phash"] for r in hashed.collect()}
    assert h[1] == h[2]
    d13 = bin(h[1] ^ h[3]).count("1")
    d14 = bin(h[1] ^ h[4]).count("1")
    assert d13 < d14 and d13 <= 8
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in M.phash_near_dup_pairs(hashed, tau=8).collect()
    }
    assert pairs[(1, 2)] == 0 and (1, 3) in pairs
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_phash_pigeonhole_banding_has_exact_recall(spark):
    """For tau ≤ n_bands − 1, the band join must surface EVERY pair a
    brute-force Hamming join finds — the multi-index pigeonhole
    guarantee, not an LSH probability."""
    import itertools
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa"]
    rows = []
    for i in range(40):
        rows.append((i, " ".join(rng.choice(words) for _ in range(60))))
    # seed guaranteed-near pairs: same-length one-char substitutions
    # (length-preserving, so block boundaries stay aligned and only the
    # touched blocks can flip bits)
    for i in range(40, 48):
        t = rows[i - 40][1]
        mid = len(t) // 2
        rows.append((i, t[:mid] + "Q" + t[mid + 1:]))
    hashed = M.perceptual_dhash(_media_df(spark, rows))
    h = {r["media_id"]: r["phash"] for r in hashed.collect()}
    tau = 12
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(h), 2)
        if bin(h[a] ^ h[b]).count("1") <= tau
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in M.phash_near_dup_pairs(
            hashed, tau=tau, n_bands=13, band_bits=5
        ).collect()
    }
    assert banded == brute and brute  # exact recall AND a non-trivial case


def test_phash_max_bucket_caps_candidate_generation(spark):
    """The scale knob: max_bucket excludes oversized (j, band) buckets
    from the self-join.  cap=0 kills every candidate; a corpus-sized cap
    changes nothing."""
    rows = [(i, f"doc number {i} " * 20) for i in range(20)]
    hashed = M.perceptual_dhash(_media_df(spark, rows))
    full = M.phash_near_dup_pairs(hashed, tau=62).count()
    assert M.phash_near_dup_pairs(hashed, tau=62, max_bucket=0).count() == 0
    assert M.phash_near_dup_pairs(hashed, tau=62, max_bucket=10**6).count() == full


def test_phash_wide_exact_recall_and_band_selectivity(spark):
    """late r10 wide hash: 128 bits in 32-bit words, 16 bands of 8 bits —
    banded pairs must equal brute force for tau ≤ 15 (pigeonhole across
    words), and on a random corpus the 8-bit bands must actually be
    selective (bounded candidate work — the reason the wide hash exists)."""
    import itertools
    import random

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta"]
    rows = [(i, " ".join(rng.choice(words) for _ in range(80))) for i in range(60)]
    for i in range(60, 70):  # same-length near pairs
        t = rows[i - 60][1]
        mid = len(t) // 2
        rows.append((i, t[:mid] + "Q" + t[mid + 1:]))
    hashed = M.perceptual_dhash_wide(_media_df(spark, rows))
    h = {r["media_id"]: tuple(r["phash"]) for r in hashed.collect()}
    assert all(len(v) == 4 and all(x >= 0 for x in v) for v in h.values())

    def dist(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    tau = 15
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(h), 2)
        if dist(h[a], h[b]) <= tau
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in M.phash_wide_near_dup_pairs(hashed, tau=tau).collect()
    }
    assert {(a, b) for a, b, _ in got} == brute and brute
    for a, b, d in got:
        assert d == dist(h[a], h[b])
    # selectivity: on payloads with UNCORRELATED block statistics (random
    # printable bytes — the analog of diverse real images), 8-bit bands
    # must prune most of the all-pairs space; word-soup corpora stay
    # correlated, which is exactly what the max_bucket knob is for
    rnd = [
        (i, "".join(chr(rng.randrange(33, 127)) for _ in range(400)))
        for i in range(120)
    ]
    rnd_hashed = M.perceptual_dhash_wide(_media_df(spark, rnd))
    n = len(rnd)
    cand = M.phash_wide_near_dup_pairs(rnd_hashed, tau=10**9).count()
    assert cand < n * (n - 1) // 2 / 2, (cand, n)


# --- late r10: BPE train/apply equivalence audit ---------------------------


def _ref_bpe_train(texts, num_merges):
    """Pure-Python reference (Sennrich et al. 2016 pseudo-code): word
    frequency table, best adjacent pair per round (count desc, pair
    lexicographic tie-break), sequential left-to-right replacement."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.lower().split():
            vocab[tuple(list(w) + ["</w>"])] += 1
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = Counter()
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += cnt
        vocab = new_vocab
    return merges, vocab


def _ref_bpe_encode(text, merges):
    toks = []
    for w in text.lower().split():
        syms = list(w) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        toks.extend(syms)
    return toks


@pytest.mark.heavy
def test_bpe_train_matches_reference_and_is_deterministic(spark):
    """The distributed trainer must reproduce the reference merge
    SEQUENCE exactly (same counts, same tie-breaks) and be run-to-run
    deterministic."""
    texts = [r["text"] for r in
             spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
             .filter(F.col("doc_id") < 40).select("text").collect()]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want, _ = _ref_bpe_train(texts, 30)
    got = X.bpe_train(df, num_merges=30)
    assert got == want
    assert X.bpe_train(df, num_merges=30) == got


def test_bpe_apply_matches_sequential_reference(spark):
    """The greedy lowest-rank application (the hot-path algorithm) must
    tokenize identically to sequential in-order merge replacement — the
    classic equivalence both public implementations rely on — and OOV
    words must decompose toward characters, never fail."""
    texts = [r["text"] for r in
             spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
             .filter(F.col("doc_id") < 40).select("text").collect()]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = X.bpe_train(df, num_merges=30)
    enc = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in X.bpe_apply(df, merges).collect()
    }
    for i, t in enumerate(texts):
        want = _ref_bpe_encode(t, merges)
        assert enc[i][0] == want and enc[i][1] == len(want)
    # OOV: characters survive
    oov = spark.createDataFrame([(99, "zzqqxx unseenword")], "doc_id long, text string")
    toks = X.bpe_apply(oov, merges).collect()[0]["tokens"]
    assert toks and all(tok for tok in toks)
    joined = "".join(toks).replace("</w>", " ").strip()
    assert joined == "zzqqxx unseenword"


def test_phash_wide_max_bucket_under_cap_equality(spark):
    """r11 (r10 VERDICT item 1): on a corpus where every (band_id, band)
    bucket is under the cap, the capped wide-hash join returns EXACTLY
    the uncapped result (the cap only ever excludes, and only oversized
    buckets); cap=0 kills all candidates."""
    rows = [(i, f"wide doc {i} body " * 25) for i in range(24)]
    hashed = M.perceptual_dhash_wide(_media_df(spark, rows))
    key = lambda df: sorted(  # noqa: E731
        (r["id_a"], r["id_b"], r["hamming"]) for r in df.collect()
    )
    full = key(M.phash_wide_near_dup_pairs(hashed, tau=15))
    capped = key(M.phash_wide_near_dup_pairs(hashed, tau=15, max_bucket=10**6))
    assert capped == full
    assert M.phash_wide_near_dup_pairs(hashed, tau=15, max_bucket=0).count() == 0


def test_prefix_index_frozen_order_append_equals_rebuild(spark, tmp_path):
    """r11 incremental prefix-gram maintenance: an index built on part of
    the corpus and appended with the rest (FROZEN vocab order, new grams
    df=0) must answer the served join EXACTLY like a from-scratch build
    AND like the direct operator; a half-published batch (one table's
    subdir missing) must leave its docs invisible, never wrong."""
    import shutil

    from msgraphdatapipelines_spark.queries import dedup as QD
    from msgraphdatapipelines_spark.queries import load

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    docs = load(spark, str(sf), "documents")
    base = docs.filter(F.col("doc_id") < 150)
    rest = docs.filter(F.col("doc_id") >= 150)

    # incremental build at a variant root (staged generational protocol)
    root = QD.prefix_index_root(str(sf), 3, 0.5, variant="pytest-inc")
    QD.prefix_index_build(spark, root, base, n=3, threshold=0.5)
    QD.prefix_index_append(spark, root, rest, n=3, threshold=0.5)

    key = lambda df: sorted(  # noqa: E731
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    )
    s2, p2 = QD.read_prefix_index(spark, root)
    incremental = key(D.set_similarity_join_from_tables(s2, p2, "doc_id", 0.5))
    all_grams = docs.select(
        "doc_id", F.explode(D.word_ngrams(F.lower(F.col("text")), 3)).alias("g")
    )
    direct = key(D.set_similarity_join(all_grams, "doc_id", "g", 0.5))
    assert incremental == direct and len(direct) > 0

    # half-published batch: prefixes subdir present, sets subdir missing
    # -> the batch's docs drop out of results entirely (inner joins), and
    # nothing else changes
    import os

    gen = QD.prefix_index_current_gen(spark, root)
    batch_dirs = [d for d in os.listdir(f"{gen}/sets") if d.startswith("batch_")]
    assert len(batch_dirs) == 1
    shutil.rmtree(f"{gen}/sets/{batch_dirs[0]}")
    s3, p3 = QD.read_prefix_index(spark, root)
    torn = key(D.set_similarity_join_from_tables(s3, p3, "doc_id", 0.5))
    base_only = key(
        D.set_similarity_join(
            base.select(
                "doc_id",
                F.explode(D.word_ngrams(F.lower(F.col("text")), 3)).alias("g"),
            ),
            "doc_id",
            "g",
            0.5,
        )
    )
    assert torn == base_only


def test_prefix_index_compact_folds_batches_and_preserves_results(spark, tmp_path):
    """r11: compact re-freezes the vocab from the full contents, folds
    batch subdirs into the base tables, and the served join's answer is
    unchanged (same pairs before and after; batch dirs gone)."""
    import os
    import shutil

    from msgraphdatapipelines_spark.queries import dedup as QD
    from msgraphdatapipelines_spark.queries import load

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    docs = load(spark, str(sf), "documents")
    base = docs.filter(F.col("doc_id") < 150)
    rest = docs.filter(F.col("doc_id") >= 150)
    root = QD.prefix_index_root(str(sf), 3, 0.5, variant="pytest-compact")
    QD.prefix_index_build(spark, root, base)
    QD.prefix_index_append(spark, root, rest)

    key = lambda df: sorted(  # noqa: E731
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    )
    s1, p1 = QD.read_prefix_index(spark, root)
    before = key(D.set_similarity_join_from_tables(s1, p1, "doc_id", 0.5))
    stats = QD.prefix_index_compact(spark, root)
    assert stats["batches_folded"] == 1 and stats["docs"] == docs.count()
    gen = QD.prefix_index_current_gen(spark, root)
    assert not [
        d for d in os.listdir(f"{gen}/sets") if d.startswith("batch_")
    ], "compact left batch subdirs"
    s2, p2 = QD.read_prefix_index(spark, root)
    after = key(D.set_similarity_join_from_tables(s2, p2, "doc_id", 0.5))
    assert after == before and len(before) > 0
    # appends keep working post-compact: re-ingest a shifted copy of a
    # planted near-dup pair's docs — the served join must find pairs
    # between old and newly-appended docs
    shifted = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    QD.prefix_index_append(spark, root, shifted)
    s3, p3 = QD.read_prefix_index(spark, root)
    post = key(D.set_similarity_join_from_tables(s3, p3, "doc_id", 0.5))
    # every original pair survives, and each shifted clone pairs with its
    # original at jaccard 1.0
    assert set(before) <= set(post)
    clones = [(a, b, j) for a, b, j in post if b >= 1_000_000 and a == b - 1_000_000]
    assert len(clones) == 10 and all(j == 1.0 for _, _, j in clones)

def _prefix_fixture(spark, tmp_path, variant):
    """Shared setup for the compact-protocol tests: copy the corpus,
    split it, build the base generation at a variant root."""
    import shutil

    from msgraphdatapipelines_spark.queries import dedup as QD
    from msgraphdatapipelines_spark.queries import load

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    docs = load(spark, str(sf), "documents")
    base = docs.filter(F.col("doc_id") < 150)
    rest = docs.filter(F.col("doc_id") >= 150)
    root = QD.prefix_index_root(str(sf), 3, 0.5, variant=variant)
    QD.prefix_index_build(spark, root, base)
    return QD, docs, base, rest, root


def _ppj_key(df):
    return sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect())


def test_prefix_index_replay_of_folded_batch_is_noop(spark, tmp_path):
    """r12 (ADVICE): compact folds batch subdirs into the base — a
    streaming checkpoint REPLAY of an already-folded micro-batch must be
    a no-op via the _folded manifest, not a silent double-append that
    duplicates doc_id rows and join output."""
    QD, docs, base, rest, root = _prefix_fixture(spark, tmp_path, "pytest-replay")
    QD.prefix_index_append(spark, root, rest, bid="mb7")
    s1, _ = QD.read_prefix_index(spark, root)
    n_before = s1.count()
    before = _ppj_key(D.set_similarity_join_from_tables(*QD.read_prefix_index(spark, root), "doc_id", 0.5))
    QD.prefix_index_compact(spark, root)
    gen = QD.prefix_index_current_gen(spark, root)
    import os

    assert os.path.exists(f"{gen}/_folded/mb7"), "folded manifest missing the bid"
    # replay the folded batch: same bid, same docs
    QD.prefix_index_append(spark, root, rest, bid="mb7")
    s2, p2 = QD.read_prefix_index(spark, root)
    assert s2.count() == n_before, "replay after compact duplicated doc rows"
    assert s2.select("doc_id").distinct().count() == n_before
    assert _ppj_key(D.set_similarity_join_from_tables(s2, p2, "doc_id", 0.5)) == before


def test_prefix_index_compact_folds_straggler_batch(spark, tmp_path):
    """r12 (ADVICE): a batch that finishes publishing AFTER compact's
    initial listing (the straggler window) must not be silently dropped —
    the straggler pass folds it into the new generation under the same
    bid, and a later replay of that bid is still a no-op."""
    QD, docs, base, rest, root = _prefix_fixture(spark, tmp_path, "pytest-straggler")
    from msgraphdatapipelines_spark import sinks

    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path

    def publish_straggler():
        # models an appender that completed its publish but has not run
        # its post-check yet (it would wait on our lease)
        gen = QD.prefix_index_current_gen(spark, root)
        QD._publish_batch(spark, fs, hpath, root, gen, rest, 3, 0.5, "late1")

    QD.prefix_index_compact(spark, root, _test_hook_after_list=publish_straggler)
    gen = QD.prefix_index_current_gen(spark, root)
    import os

    assert os.path.isdir(f"{gen}/sets/batch_late1"), "straggler not folded forward"
    s, p = QD.read_prefix_index(spark, root)
    got = _ppj_key(D.set_similarity_join_from_tables(s, p, "doc_id", 0.5))
    all_grams = docs.select(
        "doc_id", F.explode(D.word_ngrams(F.lower(F.col("text")), 3)).alias("g")
    )
    assert got == _ppj_key(D.set_similarity_join(all_grams, "doc_id", "g", 0.5))
    # the straggler's appender loop would republish after our commit: no-op
    n = s.count()
    QD.prefix_index_append(spark, root, rest, bid="late1")
    s2, _ = QD.read_prefix_index(spark, root)
    assert s2.count() == n


def test_prefix_index_compact_crash_before_commit_leaves_old_gen_live(spark, tmp_path):
    """r12 (ADVICE): compact commits via ONE generation marker — a crash
    after staging but before the commit leaves the previous generation
    fully live (identical answers), releases the lease, and a re-run
    compacts cleanly."""
    import pytest

    QD, docs, base, rest, root = _prefix_fixture(spark, tmp_path, "pytest-crash")
    QD.prefix_index_append(spark, root, rest, bid="b1")
    gen_before = QD.prefix_index_current_gen(spark, root)
    before = _ppj_key(
        D.set_similarity_join_from_tables(*QD.read_prefix_index(spark, root), "doc_id", 0.5)
    )

    def boom():
        raise RuntimeError("injected crash before commit")

    with pytest.raises(RuntimeError, match="injected crash"):
        QD.prefix_index_compact(spark, root, _test_hook_before_commit=boom)
    from msgraphdatapipelines_spark import sinks

    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    assert QD._live_leases(fs, hpath, root) == [], "crashed compact left its lease"
    assert QD.prefix_index_current_gen(spark, root) == gen_before
    mid = _ppj_key(
        D.set_similarity_join_from_tables(*QD.read_prefix_index(spark, root), "doc_id", 0.5)
    )
    assert mid == before and len(before) > 0
    stats = QD.prefix_index_compact(spark, root)
    assert stats["batches_folded"] == 1
    assert QD.prefix_index_current_gen(spark, root) != gen_before
    after = _ppj_key(
        D.set_similarity_join_from_tables(*QD.read_prefix_index(spark, root), "doc_id", 0.5)
    )
    assert after == before


def test_prefix_index_concurrent_builders_commit_one_consistent_gen(spark, tmp_path):
    """r12 (ADVICE): two concurrent builders on the same root must never
    interleave overwrites into each other's tables — each stages under
    its own uuid root and commits a whole immutable generation; the max
    name wins and the reader sees ONE consistent vocab order (no
    duplicate doc rows, join equals the direct operator)."""
    import threading

    QD, docs, base, rest, root0 = _prefix_fixture(spark, tmp_path, "pytest-racebuild")
    # a fresh root for the race itself (the fixture already built root0)
    root = root0 + "-race"
    errs = []

    def build():
        try:
            QD.prefix_index_build(spark, root, docs)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=build) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert errs == []
    s, p = QD.read_prefix_index(spark, root)
    n = docs.count()
    assert s.count() == n and s.select("doc_id").distinct().count() == n
    all_grams = docs.select(
        "doc_id", F.explode(D.word_ngrams(F.lower(F.col("text")), 3)).alias("g")
    )
    assert _ppj_key(
        D.set_similarity_join_from_tables(s, p, "doc_id", 0.5)
    ) == _ppj_key(D.set_similarity_join(all_grams, "doc_id", "g", 0.5))


def test_prefix_index_stale_lease_is_ignored_and_gc_keeps_two_gens(spark, tmp_path):
    """r12 protocol edges: (a) a lease file older than the TTL (a crashed
    compactor) must not wedge appends — _wait_leases_clear returns
    immediately; (b) repeated compaction keeps only the live + previous
    generations (readers that resolved just before a commit still have
    their files; older generations are swept)."""
    import os
    import time

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.queries import dedup as QD

    QD2, docs, base, rest, root = _prefix_fixture(spark, tmp_path, "pytest-ttl")
    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path

    # stale lease: mtime pushed past the TTL
    stale = f"{root}/_compacting.deadbeef"
    QD._marker_commit(fs, hpath, stale)
    os.utime(stale, (time.time() - 2 * QD._LEASE_TTL_S,) * 2)
    t0 = time.monotonic()
    QD._wait_leases_clear(fs, hpath, root, timeout_s=5)
    assert time.monotonic() - t0 < 2, "stale lease wedged the waiter"
    # and appends proceed under it
    QD.prefix_index_append(spark, root, rest, bid="ttl1")
    os.remove(stale)

    # three compacts → generations 1, 2, 3; only the last two survive
    gens_seen = []
    for _ in range(3):
        QD.prefix_index_compact(spark, root)
        gens_seen.append(os.path.basename(QD.prefix_index_current_gen(spark, root)))
    live = sorted(
        d for d in os.listdir(root)
        if d.startswith("gen-") and os.path.exists(f"{root}/{d}/_commit")
    )
    assert len(live) == 2, f"GC kept {live}"
    assert gens_seen[-1] in live and gens_seen[-2] in live
    # the served answer is unchanged through all of it
    s, p = QD.read_prefix_index(spark, root)
    got = _ppj_key(D.set_similarity_join_from_tables(s, p, "doc_id", 0.5))
    all_grams = docs.select(
        "doc_id", F.explode(D.word_ngrams(F.lower(F.col("text")), 3)).alias("g")
    )
    assert got == _ppj_key(D.set_similarity_join(all_grams, "doc_id", "g", 0.5))


def test_compact_lease_heartbeat_outlives_ttl(spark, tmp_path, monkeypatch):
    """r12: a compact running LONGER than the lease TTL must keep its
    lease fresh (heartbeat renewal) — otherwise waiting appenders would
    release mid-compact and their batches could be silently dropped, the
    exact window the lease closes.  Shrink the TTL, hold the compact in
    a hook past it, and assert the lease is still live from inside."""
    import time

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.queries import dedup as QD

    QD2, docs, base, rest, root = _prefix_fixture(spark, tmp_path, "pytest-hb")
    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    monkeypatch.setattr(QD, "_LEASE_TTL_S", 2.0)
    seen = {}

    def hold_past_ttl():
        time.sleep(5.0)  # 2.5× the shrunken TTL
        seen["live"] = QD._live_leases(fs, hpath, root)

    stats = QD.prefix_index_compact(spark, root, _test_hook_after_list=hold_past_ttl)
    assert stats["docs"] > 0
    assert seen["live"], "lease went stale mid-compact despite the heartbeat"
    assert QD._live_leases(fs, hpath, root) == [], "lease not released after commit"


@pytest.mark.heavy
def test_prefix_index_forget_erases_and_survives_replay(spark, sf_dir, tmp_path):
    """r13 standing-store erasure: after prefix_index_forget, the served
    tables exclude the doc; a checkpoint-REPLAYED append of the batch
    that originally carried it cannot resurrect it (the erasure manifest
    re-applies on every compact, and the new generation's _folded
    manifest makes the replay a publish no-op)."""
    from msgraphdatapipelines_spark.queries.dedup import (
        prefix_index_append,
        prefix_index_build,
        prefix_index_compact,
        prefix_index_forget,
        read_prefix_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = str(tmp_path / "ppj")
    prefix_index_build(spark, root, docs.filter(F.col("doc_id") < 300))
    prefix_index_append(
        spark, root, docs.filter(F.col("doc_id").between(300, 400)), bid="b1"
    )

    def served_ids():
        sets, _ = read_prefix_index(spark, root)
        return {r["doc_id"] for r in sets.select("doc_id").collect()}

    assert 350 in served_ids() and 100 in served_ids()
    prefix_index_forget(spark, root, [350, 100])
    assert {350, 100}.isdisjoint(served_ids())

    # replay the append that carried doc 350 — must not resurrect it
    prefix_index_append(
        spark, root, docs.filter(F.col("doc_id").between(300, 400)), bid="b1"
    )
    assert {350, 100}.isdisjoint(served_ids())
    # and a later compact keeps applying the manifest
    prefix_index_compact(spark, root)
    assert {350, 100}.isdisjoint(served_ids())


def test_lexicon_forget_erases_stats_and_survives_replay(spark, sf_dir, tmp_path):
    """r13 standing-store erasure for the lexicon: postings physically
    gone AND corpus stats (n_docs, sum_dl) exclude the doc — erased
    content stops influencing idf/avgdl; replayed appends and later
    compacts cannot resurrect it; new appends still land."""
    from msgraphdatapipelines_spark.queries.text import (
        lexicon_append_batch,
        lexicon_compact,
        lexicon_forget,
        read_lexicon,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = str(tmp_path / "lex")
    lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") < 200), bid=0)
    meta0 = lexicon_compact(spark, root)
    postings, dl, _, _ = read_lexicon(spark, root)
    dl7 = dl.filter(F.col("doc_id") == 7).collect()[0]["dl"]
    assert postings.filter(F.col("doc_id") == 7).count() > 0

    meta1 = lexicon_forget(spark, root, [7])
    postings, dl, _, meta = read_lexicon(spark, root)
    assert postings.filter(F.col("doc_id") == 7).count() == 0
    assert dl.filter(F.col("doc_id") == 7).count() == 0
    assert meta["n_docs"] == meta0["n_docs"] - 1
    assert meta["sum_dl"] == meta0["sum_dl"] - dl7

    # replayed ingest of batch 0 no-ops; compact stays a no-op (same
    # batch set + same erasure manifest) and never resurrects doc 7
    lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") < 200), bid=0)
    meta2 = lexicon_compact(spark, root)
    assert meta2 == {k: v for k, v in meta1.items() if k != "forgotten"}
    postings, _, _, _ = read_lexicon(spark, root)
    assert postings.filter(F.col("doc_id") == 7).count() == 0

    # growth continues past the erasure: a NEW batch folds in, doc 7 stays out
    lexicon_append_batch(spark, root, docs.filter(F.col("doc_id").between(200, 250)), bid=1)
    meta3 = lexicon_compact(spark, root)
    assert meta3["n_docs"] == meta["n_docs"] + 51
    postings, _, _, _ = read_lexicon(spark, root)
    assert postings.filter(F.col("doc_id") == 7).count() == 0
    assert postings.filter(F.col("doc_id") == 222).count() > 0


def test_compaction_lease_two_phase_yields_to_probe_window_racer(spark, tmp_path):
    """r14 (ADVICE): compaction_lease's r13 acquire was check-then-create
    — a racer creating its lease between MY probe and MY create left two
    processes both believing they held the lease.  The two-phase acquire
    re-lists AFTER creating and yields to ANY other visible lease.  This
    test injects exactly that interleaving: the probe sees an empty root
    (racer not yet visible), the racer's lease lands before my re-list —
    acquire must raise and must delete its own lease file (the racer's
    stands untouched)."""
    from msgraphdatapipelines_spark import genstore as _gs
    from msgraphdatapipelines_spark import sinks

    root = str(tmp_path / "store")
    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(hpath(root))

    real_live = _gs.live_leases
    calls = {"n": 0}
    racer = f"{root}/_compacting.racer000"

    def interleaved(fs_, hpath_, root_, ttl_s=_gs.LEASE_TTL_S):
        calls["n"] += 1
        if calls["n"] == 1:
            # probe instant: racer's create has not become visible yet
            return []
        return real_live(fs_, hpath_, root_, ttl_s=ttl_s)

    _gs.marker_commit(fs, hpath, racer)  # the racer wins the window
    orig = _gs.live_leases
    _gs.live_leases = interleaved
    try:
        with pytest.raises(RuntimeError, match="compact already in progress"):
            with _gs.compaction_lease(fs, hpath, root):
                raise AssertionError("must not acquire over a visible racer")
    finally:
        _gs.live_leases = orig
    names = [st.getPath().getName() for st in fs.listStatus(hpath(root))]
    assert names == ["_compacting.racer000"], (
        "loser must delete its own lease and leave the racer's standing: "
        f"{names}"
    )
    # racer releases -> the next uncontended acquire succeeds
    fs.delete(hpath(racer), False)
    with _gs.compaction_lease(fs, hpath, root):
        assert len(_gs.live_leases(fs, hpath, root)) == 1
    assert _gs.live_leases(fs, hpath, root) == []


class _CopyRenameFS:
    """Hadoop-FS proxy modelling an S3-style store: ``rename`` is a
    non-atomic COPY (file-by-file, depth-first) followed by a DELETE of
    the source — genstore's documented object-store caveat
    (genstore.py: "on S3-style stores the marker create is still atomic
    but stage renames are copies").  ``fail_after_files`` injects a
    crash after N file copies to freeze the half-copied state a real
    S3 rename crash leaves."""

    def __init__(self, fs, hpath, fail_after_files=None):
        self._fs = fs
        self._hp = hpath
        self.fail_after_files = fail_after_files
        self.copied = 0

    def _copy(self, src, dst):
        if self._fs.isDirectory(src):
            self._fs.mkdirs(dst)
            for st in self._fs.listStatus(src):
                self._copy(st.getPath(), self._hp(f"{dst}/{st.getPath().getName()}"))
            return
        if self.fail_after_files is not None and self.copied >= self.fail_after_files:
            raise OSError("injected crash mid-copy-rename")
        data = self._fs.open(src)
        try:
            payload = bytes(data.readAllBytes())
        finally:
            data.close()
        out = self._fs.create(dst, True)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        self.copied += 1

    def rename(self, src, dst):
        self._copy(src, self._hp(str(dst)))
        self.delete(src, True)  # via self: subclasses crash-inject the delete
        return True

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def delete(self, path, recursive=False):
        return self._fs.delete(path, recursive)


def test_genstore_commit_on_copy_rename_fs(spark, tmp_path):
    """r14 (r13 VERDICT item 5): the generational protocol on a store
    WITHOUT atomic rename.  A crash mid-stage-copy must leave the
    previous generation fully live (no _commit marker ever appears —
    the marker is written strictly AFTER the stage copy completes), the
    half-copied dir must be invisible to committed_gens/current_gen,
    and a clean re-run must yield exactly one NEW committed generation.
    Separately: marker_commit's own copy+delete crash window leaves the
    marker COMMITTED (dest created before source delete) with only tmp
    debris — commit-or-nothing holds in every window."""
    from msgraphdatapipelines_spark import genstore as _gs
    from msgraphdatapipelines_spark import sinks

    fs, _, jvm = sinks._fs_for(spark, str(tmp_path))
    hpath = jvm.org.apache.hadoop.fs.Path
    root = str(tmp_path / "store")
    fs.mkdirs(hpath(root))

    _stage_seq = iter(range(100))

    def stage_with(files: dict) -> str:
        stage = str(tmp_path / f"stage_{next(_stage_seq)}")
        fs.mkdirs(hpath(f"{stage}/tbl"))
        for name, content in files.items():
            out = fs.create(hpath(f"{stage}/tbl/{name}"), True)
            out.write(bytearray(content.encode()))
            out.close()
        return stage

    # 1. crash after ONE of three files copied: nothing commits
    crashy = _CopyRenameFS(fs, hpath, fail_after_files=1)
    stage1 = stage_with({"a.parquet": "A", "b.parquet": "B", "c.parquet": "C"})
    gname = _gs.next_gen_name(fs, hpath, root)
    with pytest.raises(OSError, match="injected crash"):
        _gs.commit_generation(crashy, hpath, root, stage1, gname)
    assert _gs.committed_gens(fs, hpath, root) == [], (
        "a half-copied stage must never look committed"
    )
    assert _gs.current_gen(fs, hpath, root) is None
    # the half-copied dir exists as debris but carries no _commit marker
    debris = [st.getPath().getName() for st in fs.listStatus(hpath(root))]
    assert gname in debris
    assert not fs.exists(hpath(f"{root}/{gname}/_commit"))

    # 2. clean copy-rename run (same store semantics, no crash): commits —
    #    uid-suffixed gen names mean the retry NEVER collides with debris
    s3fs = _CopyRenameFS(fs, hpath)
    stage2 = stage_with({"a.parquet": "A", "b.parquet": "B", "d.parquet": "D"})
    gname2 = _gs.next_gen_name(fs, hpath, root)
    assert gname2 != gname, "retry must not reuse the crashed generation name"
    gen = _gs.commit_generation(s3fs, hpath, root, stage2, gname2)
    assert _gs.committed_gens(fs, hpath, root) == [gname2]
    assert _gs.current_gen(fs, hpath, root) == gen
    names = sorted(
        st.getPath().getName() for st in fs.listStatus(hpath(f"{gen}/tbl"))
    )
    assert names == ["a.parquet", "b.parquet", "d.parquet"]

    # 3. marker_commit on copy-rename with a crash BETWEEN copy and
    #    delete: the marker is already committed (dest-first), tmp
    #    debris only — simulate by failing the delete
    class _NoDeleteFS(_CopyRenameFS):
        def delete(self, path, recursive=False):
            raise OSError("injected crash before tmp delete")

    nd = _NoDeleteFS(fs, hpath)
    with pytest.raises(OSError, match="before tmp delete"):
        _gs.marker_commit(nd, hpath, f"{root}/{gname2}/_extra_marker")
    assert fs.exists(hpath(f"{root}/{gname2}/_extra_marker")), (
        "marker must be committed before the source delete"
    )
    tmps = [
        st.getPath().getName()
        for st in fs.listStatus(hpath(f"{root}/{gname2}"))
        if ".tmp." in st.getPath().getName()
    ]
    assert len(tmps) == 1  # harmless debris, never mistaken for a marker


def test_write_snapshot_claim_on_copy_rename_fs(spark, tmp_path, monkeypatch):
    """r15 (r14 VERDICT item 4): the snapshot claim protocol on an
    S3-style copy-rename store.  The claim sentinel copies FIRST in name
    order, so before this round a crash mid-copy left a torn ``v=N``
    that LOOKED claimed and the pointer flipped onto it — now the
    sentinel carries the stage's file manifest and the claim verifies
    completeness before the flip: single-publisher publishes work, a
    torn copy raises explicitly with the pointer untouched, vacuum
    sweeps the debris, and publishing continues.  Concurrent publishers
    on copy-rename stores remain a DOCUMENTED refusal (copy-"rename"
    onto an existing dir merges instead of nesting — the claim loop's
    loser detection needs real rename semantics)."""
    from msgraphdatapipelines_spark import sinks

    fs, _, jvm = sinks._fs_for(spark, str(tmp_path))
    hpath = jvm.org.apache.hadoop.fs.Path
    root = str(tmp_path / "snap")
    real_fs_for = sinks._fs_for

    def with_proxy(proxy):
        def patched(spark_, path_):
            _, p, j = real_fs_for(spark_, path_)
            return proxy, p, j

        return patched

    df = spark.range(11).toDF("n")
    # single-publisher on copy-rename semantics: publish + serve + flip
    # (the marker flip is itself a copy+delete: dest-first, so a crash
    # between the two leaves the marker COMMITTED — same argument as
    # genstore.marker_commit)
    monkeypatch.setattr(sinks, "_fs_for", with_proxy(_CopyRenameFS(fs, hpath)))
    assert sinks.write_snapshot(df, root) == 1
    assert sinks.write_snapshot(df, root) == 2
    assert sinks._read_latest_version(spark, root) == 2
    assert sinks.read_snapshot(spark, root).count() == 11

    # crash mid-claim-copy: EXPLICIT raise either way — if the sentinel
    # copied before the crash the manifest verification catches the torn
    # dir ("torn snapshot claim"); if a data file copied first, the
    # rename error surfaces through the bounded claim loop (an
    # exception-throwing rename with our stage intact is a store error,
    # not a lost claim — retrying forever would spin minting empty v=
    # dirs).  Pointer untouched, committed version keeps serving.
    monkeypatch.setattr(
        sinks, "_fs_for", with_proxy(_CopyRenameFS(fs, hpath, fail_after_files=1))
    )
    with pytest.raises(OSError, match="torn snapshot claim|consecutive times"):
        sinks.write_snapshot(df, root)
    monkeypatch.setattr(sinks, "_fs_for", with_proxy(_CopyRenameFS(fs, hpath)))
    assert sinks._read_latest_version(spark, root) == 2
    assert sinks.read_snapshot(spark, root).count() == 11

    # the torn orphans (v>2, never flipped) and the leftover stage are
    # exactly vacuum's job; a fresh publish then continues cleanly
    out = sinks.vacuum_snapshots(spark, root, keep_last=3, stage_ttl_s=0.0)
    assert out["removed_orphans"] and min(out["removed_orphans"]) == 3
    assert sinks._read_latest_version(spark, root) == 2
    v = sinks.write_snapshot(df, root)
    assert sinks.read_snapshot(spark, root, version=v).count() == 11
    assert sinks._read_latest_version(spark, root) == v


def test_lexicon_generation_commit_on_copy_rename_fs(spark, tmp_path, monkeypatch):
    """r15 (taken early from the r16 levers): the LEXICON's generational
    commit on an S3-style copy-rename store — the third standing-store
    family under the posture proxy (genstore-direct and the snapshot
    claim are covered).  A clean compact commits one generation whose
    postings equal the direct twin; a crash mid-stage-copy leaves the
    previous generation fully live (no _commit marker — it is written
    strictly after the stage copy) and a clean re-run folds the pending
    batch into exactly one new committed generation."""
    import tempfile

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import genstore as _gs
    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.queries import load
    from msgraphdatapipelines_spark.queries import text as QT

    artdir = tmp_path / "artifacts"
    artdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents")
    root = QT.lexicon_root(sf, variant="cr_posture")
    QT.lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") < 150), bid=0)

    fs, _, jvm = sinks._fs_for(spark, root)
    hpath = jvm.org.apache.hadoop.fs.Path
    real_fs_for = sinks._fs_for

    def with_proxy(proxy):
        def patched(spark_, path_):
            _, p, j = real_fs_for(spark_, path_)
            return proxy, p, j

        return patched

    # clean compact under copy-rename semantics
    monkeypatch.setattr(sinks, "_fs_for", with_proxy(_CopyRenameFS(fs, hpath)))
    meta = QT.lexicon_compact(spark, root)
    assert meta["n_batches"] == 1
    gen1 = _gs.current_gen(fs, hpath, root)
    assert gen1 is not None
    postings1 = sorted(tuple(r) for r in QT.read_lexicon(spark, root)[0].collect())
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    want1 = sorted(
        tuple(r)
        for r in docs.filter(F.col("doc_id") < 150)
        .select("doc_id", F.explode(ws).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    assert postings1 == want1 and len(want1) > 0

    # pending batch + crash mid-stage-copy: old generation stays live
    QT.lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") >= 150), bid=1)
    monkeypatch.setattr(
        sinks, "_fs_for", with_proxy(_CopyRenameFS(fs, hpath, fail_after_files=2))
    )
    with pytest.raises(OSError, match="injected crash"):
        QT.lexicon_compact(spark, root)
    monkeypatch.setattr(sinks, "_fs_for", with_proxy(_CopyRenameFS(fs, hpath)))
    assert _gs.current_gen(fs, hpath, root) == gen1
    assert (
        sorted(tuple(r) for r in QT.read_lexicon(spark, root)[0].collect())
        == postings1
    )

    # the crashed compactor's lease is orphaned — stale it out, re-run
    monkeypatch.setattr(QT, "_LEASE_TTL_S", 0.5)
    import time as _time

    _time.sleep(0.8)
    meta2 = QT.lexicon_compact(spark, root)
    assert meta2["n_batches"] == 2 and meta2["n_docs"] == docs.count()
    gen2 = _gs.current_gen(fs, hpath, root)
    assert gen2 != gen1 and fs.exists(hpath(f"{gen2}/_commit"))


@pytest.mark.heavy
def test_bpe_train_batched_equals_sequential_with_fewer_rounds(spark):
    """r16 (r15 VERDICT item 9, the bpe_train watch-item): the batched
    trainer takes a provably-sequential-equal PREFIX of the sorted pair
    list per round — disjoint-symbol members only, stopping before any
    candidate a newly-created pair could outrank (bounds from the
    existing pair table).  Pins: identical merge sequence to the
    max_batch=1 classic loop (and therefore to the pure-Python
    reference via the neighboring test), with measurably fewer driver
    round-trips — the 32k-merge production-vocab path stops costing one
    Spark job per merge."""
    texts = [r["text"] for r in
             spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
             .filter(F.col("doc_id") < 80).select("text").collect()]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    seq_stats: dict = {}
    bat_stats: dict = {}
    seq = X.bpe_train(df, num_merges=40, max_batch=1, _stats=seq_stats)
    bat = X.bpe_train(df, num_merges=40, max_batch=16, _stats=bat_stats)
    assert bat == seq, "batched trainer diverged from the sequential sequence"
    assert seq_stats["rounds"] == len(seq)
    assert bat_stats["merges"] == len(seq)
    assert bat_stats["rounds"] < seq_stats["rounds"], (
        f"no round-trip reduction: {bat_stats} vs {seq_stats}"
    )


def test_load_spread_floors_scan_parallelism(spark, sf_dir):
    """r16 OPT pin: load_spread repartitions a single-row-group fixture
    scan to defaultParallelism (the plan grows one REPARTITION exchange),
    and NO-OPs once the estimated scan-task count already fills the
    cluster (simulated by shrinking maxPartitionBytes below file size)."""
    from msgraphdatapipelines_spark.queries import load, load_spread

    df = load_spread(spark, sf_dir, "documents", "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 10))
        big = load_spread(spark, sf_dir, "documents", "doc_id")
        assert "REPARTITION_BY_NUM" not in (
            big._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    # same rows either way
    assert df.count() == load(spark, sf_dir, "documents").count()


def test_array_native_minhash_equals_exploded_path(spark, sf_dir):
    """r16 OPT pin: the array-native LSH pipeline (signatures via
    array_min(transform(...)), verify via size(array_intersect)) is
    BIT-IDENTICAL to the exploded-gram reference path — word_ngrams
    returns the distinct gram set, so min-over-rows == array_min and the
    equi-join intersection count == array_intersect size.  Guards the
    exact-equality claim the r16 optimization rests on."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import dedup as D
    from msgraphdatapipelines_spark.queries import load

    docs = load(spark, sf_dir, "documents")
    docsets = docs.select("doc_id", D.word_ngrams("text", 3).alias("_garr"))
    grams = docs.select("doc_id", F.explode(D.word_ngrams("text", 3)).alias("g"))

    sig_a = D.minhash_signatures_arrays(docsets, "doc_id", "_garr", 8, "md5")
    sig_e = D.minhash_signatures(grams, "doc_id", "g", 8, "md5")
    assert sorted(map(tuple, sig_a.collect())) == sorted(map(tuple, sig_e.collect()))

    cand = D.lsh_candidate_pairs(sig_e, "doc_id", num_hashes=8, bands=4)
    ver_a = D.jaccard_verify_arrays(docsets, cand, "doc_id", "_garr", 0.5)
    ver_e = D.jaccard_verify(grams, cand, "doc_id", "g", 0.5)
    rows_a = sorted(map(tuple, ver_a.collect()))
    assert rows_a == sorted(map(tuple, ver_e.collect()))
    assert len(rows_a) > 0  # non-vacuous on the fixture corpus


def test_contamination_lanes_agree(spark):
    """r17 OPT pin (r16 ADVICE fat-gram guard): the one-pass collect_set
    lane and the memory-safe flag-join lane of contamination_check produce
    identical rows — including on a corpus with a SYNTHETIC FAT GRAM (one
    gram present in every document, eval and train), the exact shape whose
    posting list concentrates in a single aggregation cell in the one-pass
    lane and which the flag-join lane streams through an AQE-splittable
    semi join instead."""
    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.queries.dedup import (
        _contamination_from_docs,
    )

    # 200 docs; "common common common" is a gram in EVERY doc (the fat
    # gram); each doc also carries a private gram and doc_id%3 buckets a
    # few cross-side shared grams.
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("common common common shared"),
            (F.col("id") % 3).cast("string"),
            F.lit(" word"),
            F.col("id").cast("string"),
            F.lit(" tail tail"),
        ).alias("text"),
    )
    fast = _contamination_from_docs(docs, one_pass=True)
    safe = _contamination_from_docs(docs, one_pass=False)
    assert fast.schema == safe.schema
    assert fast.exceptAll(safe).count() == 0
    assert safe.exceptAll(fast).count() == 0
    rows = {r["doc_id"]: r for r in fast.collect()}
    assert rows, "eval split empty — fixture too small"
    # the fat gram makes every eval doc contaminated
    assert all(r["contaminated"] for r in rows.values())


def test_lexicon_postings_zonemap_prunes_files(spark, sf_dir, tmp_path):
    """r17 OPT pin (r16 VERDICT item 8): the compacted lexicon's postings
    are RANGE-partitioned by term with a committed ``_zonemap`` manifest,
    and the serve probe's ``tok IN`` opens only the files whose token
    range intersects the probe set — with ranking identical to the
    unpruned serve.  AQE correctly coalesces the fixture-sized postings
    to one file (pruning is then a structural no-op), so this test forces
    a multi-file layout by disabling partition coalescing for the
    compact."""
    import re

    from pyspark.sql import functions as F

    import msgraphdatapipelines_spark.queries.text as qtmod
    from msgraphdatapipelines_spark.queries import load

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    root = str(tmp_path / "lexzm")
    qtmod.lexicon_append_batch(spark, root, docs, bid=0)
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        qtmod.lexicon_compact(spark, root)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)

    from msgraphdatapipelines_spark import genstore as _gs
    from msgraphdatapipelines_spark import sinks

    fs, _, jvm = sinks._fs_for(spark, root)
    gen = _gs.current_gen(fs, jvm.org.apache.hadoop.fs.Path, root)
    n_files = len(sinks._zonemap_rows_cached(spark, f"{gen}/postings"))
    assert n_files > 1, "layout did not produce multiple postings files"

    ws = F.filter(F.split("text", " "), lambda w: w != "")
    qt = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("q_id"),
        F.explode(F.array_distinct(F.slice(ws, 1, 2))).alias("tok"),
    )
    pruned = qtmod._bm25_from_lexicon(spark, root, qt, k=10)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    counts = [
        int(m.group(1))
        for m in re.finditer(r"InMemoryFileIndex\((\d+) paths\)\[[^\]]*postings", plan)
    ]
    assert counts and min(counts) < n_files, (
        f"postings scan not pruned: {counts} of {n_files} files"
    )
    # pruning is I/O elision, never a semantic change
    full = qtmod._bm25_from_lexicon(
        spark, root, qt, k=10, isin_pushdown_cap=0
    )
    assert {tuple(r) for r in pruned.collect()} == {tuple(r) for r in full.collect()}
