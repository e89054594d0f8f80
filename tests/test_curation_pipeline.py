"""End-to-end continuous-curation pipeline (r6 VERDICT item 3): OData
delta ingest → keyed snapshot fold → incremental LSH dedup → mergeable
sketch rollup, composed as ONE foreachBatch stream, verified against the
batch twins of every stage and restarted mid-stream."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from msgraphdatapipelines_spark import sinks
from msgraphdatapipelines_spark.operators import dedup as D
from msgraphdatapipelines_spark.operators.sketches import merge_distinct_sketches
from msgraphdatapipelines_spark.sources import rest
from msgraphdatapipelines_spark.streaming.curation import curation_pipeline_stream

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

TEXT_A = "the quick brown fox jumps over the lazy dog near the river bank"
TEXT_B = "machine learning models require large curated corpora for training runs"
TEXT_C = "completely unrelated content about cooking pasta with fresh tomatoes daily"
TEXT_B2 = "machine learning models require small curated corpora for training runs"

ROUND1 = {1: TEXT_A, 2: TEXT_B, 3: TEXT_C, 4: TEXT_A + " bank"}  # 4 near-dups 1
ROUND2_UPSERTS = {5: TEXT_A, 2: TEXT_B2}  # 5 near-dups 1; 2 updated
ROUND2_REMOVED = [3]


@pytest.fixture()
def curation_pages(tmp_path):
    """Two delta rounds over a documents collection: initial sync of four
    docs across two chained pages, then a change batch (new near-dup doc,
    updated doc, tombstone)."""
    p0, p1, p2 = (tmp_path / f"cur{i}.json" for i in range(3))
    p0.write_text(json.dumps({
        "value": [{"doc_id": 1, "text": TEXT_A}, {"doc_id": 2, "text": TEXT_B}],
        "@odata.nextLink": str(p1),
    }))
    p1.write_text(json.dumps({
        "value": [{"doc_id": 3, "text": TEXT_C}, {"doc_id": 4, "text": ROUND1[4]}],
        "@odata.deltaLink": str(p2),
    }))
    p2.write_text(json.dumps({
        "value": [
            {"doc_id": 5, "text": TEXT_A},
            {"doc_id": 2, "text": TEXT_B2},
            {"doc_id": 3, "@removed": {"reason": "deleted"}},
        ],
        "@odata.deltaLink": str(p2) + "?round=3",
    }))
    return str(p0), str(p2)


def _paths(tmp_path):
    return dict(
        state_path=str(tmp_path / "delta.state"),
        snapshot_path=str(tmp_path / "snapshot"),
        dedup_state_path=str(tmp_path / "dedup_state"),
        assign_dir=str(tmp_path / "assigns"),
        rollup_dir=str(tmp_path / "rollup"),
        checkpoint_dir=str(tmp_path / "ck"),
    )


def _sigs(spark, docs: dict[int, str]):
    df = spark.createDataFrame(sorted(docs.items()), SCHEMA)
    sets = df.select("doc_id", D.word_ngrams("text", 3).alias("g"))
    return D.minhash_signatures(sets, "doc_id", "g", num_hashes=8)


def _batch_twin_assigns(spark):
    """Run the incremental assign by hand, batch over batch — the batch
    twin the stream's per-round outputs must equal exactly."""
    a1, st1 = D.lsh_incremental_assign(_sigs(spark, ROUND1), None, "doc_id")
    a2, _ = D.lsh_incremental_assign(_sigs(spark, ROUND2_UPSERTS), st1, "doc_id")
    key = lambda df: {  # noqa: E731
        r["doc_id"]: (r["rep_id"], r["is_new_cluster"]) for r in df.collect()
    }
    return key(a1), key(a2)


def _read_assigns(spark, assign_dir: str, batch_id: int):
    df = spark.read.parquet(f"{assign_dir}/batch_id={batch_id}")
    return {r["doc_id"]: (r["rep_id"], r["is_new_cluster"]) for r in df.collect()}


def test_curation_pipeline_end_to_end_equals_batch_twins(
    spark, curation_pages, tmp_path
):
    first, second = curation_pages
    tick_dir = tmp_path / "ticks"
    tick_dir.mkdir()
    (tick_dir / "t0.txt").write_text("round0")
    (tick_dir / "t1.txt").write_text("round1")
    p = _paths(tmp_path)

    q = curation_pipeline_stream(
        spark, str(tick_dir), first, SCHEMA, p["state_path"], p["snapshot_path"],
        ["doc_id"], p["dedup_state_path"], p["assign_dir"], p["rollup_dir"],
        p["checkpoint_dir"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # curated snapshot == the keyed two-round fold (doc 3 deleted, 5 added,
    # 2 updated, untouched history survives)
    final = {r["doc_id"]: r["text"] for r in sinks.read_snapshot(spark, p["snapshot_path"]).collect()}
    assert final == {1: TEXT_A, 2: TEXT_B2, 4: ROUND1[4], 5: TEXT_A}
    assert rest.load_delta_state(p["state_path"]) == second + "?round=3"

    # per-round dedup assignments == the hand-run incremental batch twins
    want1, want2 = _batch_twin_assigns(spark)
    assert _read_assigns(spark, p["assign_dir"], 0) == want1
    assert _read_assigns(spark, p["assign_dir"], 1) == want2
    # semantics spot-check: round-2 doc 5 joins doc 1's EXISTING cluster
    rep5, new5 = _read_assigns(spark, p["assign_dir"], 1)[5]
    assert rep5 == 1 and not new5

    # merged sketch rollup == one batch sketch over all six upsert rows
    merged = merge_distinct_sketches(
        spark.read.option("basePath", p["rollup_dir"]).parquet(p["rollup_dir"]), []
    ).collect()[0]
    all_upserts = {**ROUND1, **ROUND2_UPSERTS}
    assert merged["n_rows"] == len(ROUND1) + len(ROUND2_UPSERTS)
    assert merged["distinct_estimate"] == len(set(all_upserts))  # 5 distinct ids


def test_curation_pipeline_restart_resumes_without_redelivery(
    spark, curation_pages, tmp_path
):
    """Stop after round 1, restart with the same checkpoint for round 2:
    round 1 must not re-run (its pages are fetched exactly once across
    both runs), batch ids continue, and the final state equals the
    uninterrupted run's."""
    first, second = curation_pages
    tick_dir = tmp_path / "ticks"
    tick_dir.mkdir()
    p = _paths(tmp_path)
    fetched: list[str] = []

    def counting_fetcher(url: str) -> str:
        fetched.append(url)
        return rest.file_fetcher(url)

    def start():
        return curation_pipeline_stream(
            spark, str(tick_dir), first, SCHEMA, p["state_path"],
            p["snapshot_path"], ["doc_id"], p["dedup_state_path"],
            p["assign_dir"], p["rollup_dir"], p["checkpoint_dir"],
            fetcher=counting_fetcher,
        )

    (tick_dir / "t0.txt").write_text("round0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert fetched == [first, str(tmp_path / "cur1.json")]  # initial walk only

    (tick_dir / "t1.txt").write_text("round1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # round 2 resumed FROM THE TOKEN — the initial pages were never re-fetched
    assert fetched == [first, str(tmp_path / "cur1.json"), second]
    assert rest.load_delta_state(p["state_path"]) == second + "?round=3"

    final = {r["doc_id"]: r["text"] for r in sinks.read_snapshot(spark, p["snapshot_path"]).collect()}
    assert final == {1: TEXT_A, 2: TEXT_B2, 4: ROUND1[4], 5: TEXT_A}
    # batch-keyed outputs: exactly one directory per round, ids contiguous
    import os

    assert sorted(os.listdir(p["assign_dir"])) == ["batch_id=0", "batch_id=1"]
    want1, want2 = _batch_twin_assigns(spark)
    assert _read_assigns(spark, p["assign_dir"], 0) == want1
    assert _read_assigns(spark, p["assign_dir"], 1) == want2


def test_curation_index_composition_e2e(spark, curation_pages, tmp_path):
    """r8 (r7 VERDICT item 8): the full continuous ingest → dedup → INDEX
    pipeline — curation_pipeline_stream with the index stage chained:
    each round's dedup SURVIVORS are encoded under frozen IVF+PQ models
    into {index_dir}/batch_id=N (tombstones as cent=-1 markers), with the
    stream STOPPED and RESTARTED between the two delta rounds (restart
    safety).  read_ann_index's last-write-wins view must equal the
    batch-built twin over the final curated snapshot's surviving docs,
    and ivf_pq_topk must be probeable against it."""
    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.streaming.ann_stream import read_ann_index

    first, _second = curation_pages
    tick_dir = tmp_path / "ticks"
    tick_dir.mkdir()
    p = _paths(tmp_path)
    index_dir = str(tmp_path / "ann_index")

    # frozen models trained on the fixture embeddings; the "embedding
    # model" for a doc is a lookup join against the aligned embeddings
    # table (production: the inference UDF) — vec_id ≡ doc_id
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.kmeans_centroids(emb, "vec_id", "embedding", k=8, iters=1)
    books = S.pq_codebooks(emb, "vec_id", "embedding")

    def embeddings_for(docs_df):
        return docs_df.select("doc_id").join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
        )

    def start():
        return curation_pipeline_stream(
            spark, str(tick_dir), first, SCHEMA, p["state_path"],
            p["snapshot_path"], ["doc_id"], p["dedup_state_path"],
            p["assign_dir"], p["rollup_dir"], p["checkpoint_dir"],
            index_dir=index_dir, embeddings_for=embeddings_for,
            centroids=cents, codebooks=books,
        )

    (tick_dir / "t0.txt").write_text("round0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    (tick_dir / "t1.txt").write_text("round1")
    q = start()  # restart with the same checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # round 1 keeps reps {1,2,3}; round 2 re-indexes updated doc 2,
    # doc 5 loses dedup to doc 1, doc 3 tombstones -> current view {1, 2}
    current = read_ann_index(spark, index_dir)
    got = {(r["cid"], r["cent"], tuple(r["code"])) for r in current.collect()}
    survivors = embeddings_for(
        spark.createDataFrame([(1,), (2,)], ["doc_id"])
    )
    twin = S.ivf_pq_index(survivors, "doc_id", "embedding", cents, books)
    want = {(r["cid"], r["cent"], tuple(r["code"])) for r in twin.collect()}
    assert got == want and len(got) == 2

    # the composed artifact is live: probe it end-to-end
    topk = S.ivf_pq_topk(
        emb.filter(F.col("vec_id") < 3), emb, "vec_id", "vec_id",
        "embedding", "embedding", k=1, nprobe=8,
        centroids=cents, codebooks=books, index=current,
    )
    assert topk.count() > 0


@pytest.mark.heavy
def test_curation_stream_self_rebalancing_index(spark, tmp_path):
    """r13 (r12 VERDICT item 2's composition lever): the composed stream
    OWNS its standing index root and rebalances itself.  Three delta
    rounds with stop/restart between them:

    1. normal docs — index appends under the bootstrap models, no
       snapshot published (monitor below threshold);
    2. a drift batch that skews one bootstrap list past the threshold —
       the post-commit check retrains (k ∝ √n) and publishes
       models.v1 + snapshot v=1 behind one pointer flip, with max-list
       share measurably reduced;
    3. one more doc — the round RELOADS the retrained models (the
       encode twin under models.v1 matches the batch rows bit-for-bit),
       proving the stream never serves or encodes with stale models."""
    import json as _json
    import os
    import random

    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.streaming.ann_stream import (
        current_ann_models,
        read_ann_index,
    )

    rng = random.Random(99)
    dim = 64
    # embedding universe: 20 spread "normal" vectors (ids 1..20 — 16+
    # rows so PQ codebook seeding works), 40 drift vectors in 8 tight
    # sub-clusters around an off-distribution point (ids 100..139), one
    # late normal doc (id 200)
    rows = [
        (i, [rng.uniform(-0.3, 0.3) for _ in range(dim)]) for i in range(1, 21)
    ]
    p = [0.5 if i % 2 == 0 else -0.5 for i in range(dim)]
    for j in range(8):
        base = [p[d] + 0.01 * rng.uniform(-1, 1) for d in range(dim)]
        for i in range(5):
            rows.append(
                (100 + j * 5 + i, [base[d] + 1e-4 * rng.uniform(-1, 1) for d in range(dim)])
            )
    rows.append((200, [rng.uniform(-0.3, 0.3) for _ in range(dim)]))
    emb = spark.createDataFrame(rows, "doc_id: long, embedding: array<double>")

    def embeddings_for(docs_df):
        return docs_df.select("doc_id").join(emb, "doc_id")

    # bootstrap models trained on the normal region only (the pre-drift
    # world): 4 coarse lists, seed codebooks
    normal = emb.filter(F.col("doc_id") <= 20)
    cents0 = S.kmeans_centroids(normal, "doc_id", "embedding", k=4, iters=1)
    books0 = S.pq_codebooks(normal, "doc_id", "embedding")

    # three delta rounds (distinct texts so every doc is a dedup rep)
    p0, p1, p2 = (tmp_path / f"reb{i}.json" for i in range(3))
    p0.write_text(_json.dumps({
        "value": [
            {"doc_id": i, "text": f"normal document {i} unique token nk{i}"}
            for i in range(1, 5)
        ],
        "@odata.deltaLink": str(p1),
    }))
    p1.write_text(_json.dumps({
        "value": [
            {"doc_id": 100 + i, "text": f"drift sample {i} mentions tk{i} value v{i * 7}"}
            for i in range(40)
        ],
        "@odata.deltaLink": str(p2),
    }))
    p2.write_text(_json.dumps({
        "value": [{"doc_id": 200, "text": "late normal document with fresh content"}],
        "@odata.deltaLink": str(p2) + "?round=4",
    }))

    tick_dir = tmp_path / "ticks"
    tick_dir.mkdir()
    paths = _paths(tmp_path)
    root = str(tmp_path / "standing_ann")

    def run_round(tick: str):
        (tick_dir / tick).write_text(tick)
        q = curation_pipeline_stream(
            spark, str(tick_dir), str(p0), SCHEMA, paths["state_path"],
            paths["snapshot_path"], ["doc_id"], paths["dedup_state_path"],
            paths["assign_dir"], paths["rollup_dir"], paths["checkpoint_dir"],
            standing_root=root, embeddings_for=embeddings_for,
            centroids=cents0, codebooks=books0,
            rebalance_max_share=2.0,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def max_share(df):
        lc = df.groupBy("cent").agg(F.count(F.lit(1)).alias("n"))
        r = lc.agg(F.max("n").alias("mx"), F.sum("n").alias("t"), F.count("*").alias("k")).collect()[0]
        return r["mx"] * r["k"] / r["t"]

    # round 1: normal docs, no retrain
    run_round("t0.txt")
    assert os.path.exists(f"{root}/models.json")
    assert not sinks.snapshot_exists(spark, f"{root}/snapshot")
    assert read_ann_index(spark, f"{root}/batches").count() == 4

    # the drift's PRE-retrain skew under the bootstrap quantizer (the
    # state the monitor sees mid-round-2): all 40 drift docs in 1 of 4
    drift_assign = S.ivf_pq_index(
        emb.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 140)).unionByName(
            emb.filter(F.col("doc_id") <= 4)
        ),
        "doc_id", "embedding", cents0, books0, dim=dim,
    )
    share_before = max_share(drift_assign)
    assert share_before > 2.0, "fixture does not breach the threshold"

    # round 2: drift lands, post-commit check retrains + publishes v1
    run_round("t1.txt")
    assert sinks.snapshot_exists(spark, f"{root}/snapshot")
    assert sinks._read_latest_version(spark, f"{root}/snapshot") == 1
    assert os.path.exists(f"{root}/models.v1.json")
    snap1 = sinks.read_snapshot(spark, f"{root}/snapshot", version=1)
    assert snap1.count() == 44  # 4 normal + 40 drift, re-encoded
    assert max_share(snap1) < share_before
    version, cents1, books1 = current_ann_models(spark, root)
    assert version == 1 and len(cents1) > 4  # k grew with sqrt(n)

    # round 3: the stream encodes the new doc under the RETRAINED models
    run_round("t2.txt")
    got = spark.read.parquet(f"{root}/batches/batch_id=2")
    twin = S.ivf_pq_index(
        emb.filter(F.col("doc_id") == 200), "doc_id", "embedding",
        cents1, books1, dim=dim,
    )
    key = lambda df: sorted(  # noqa: E731
        (r["cid"], r["cent"], tuple(r["code"])) for r in df.collect()
    )
    assert key(got) == key(twin) and len(key(got)) == 1
    assert read_ann_index(spark, f"{root}/batches").count() == 45
