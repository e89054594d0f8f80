"""Cross-PROCESS artifact-race lane (r13, r12 VERDICT item 5).

Every standing-store publish protocol carries in-process two-builder
tests, but threads in one SparkSession share the Python interpreter and
the JVM — a real deployment races separate driver PROCESSES on a shared
artifact root.  Each test here spawns two real interpreters (own
SparkSession each), barriers them so the builds genuinely overlap, and
asserts (a) both processes succeed, (b) both serve IDENTICAL content,
(c) the shared root holds exactly one committed artifact with zero
staging/debris leftovers.

Run with ``pytest -m race`` (~2 min: four JVM startups dominate); the
full gate includes it.  Not marked quick.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

pytestmark = pytest.mark.race

REPO = Path(__file__).resolve().parents[1]
CHILD = str(REPO / "tests" / "race_child.py")


def _race(
    mode: str, shared_sf: str, tmp_path: Path, expect_equal: bool = True
) -> str:
    """Run two barriered child processes; return the artifact dir.
    ``expect_equal`` asserts both RESULT lines match (builders must
    serve identical content); modes whose loser legitimately reports a
    different outcome (erasure vs append: one forgets, one appends) set it
    False and assert root-level invariants instead.  Children get a
    PRIVATE TMPDIR so the shared artifact root is test-scoped and
    inspectable."""
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)  # a mode's parent test may pre-seed the root
    env = dict(os.environ, TMPDIR=str(artdir))
    procs = [
        subprocess.Popen(
            [sys.executable, CHILD, mode, shared_sf, str(barrier), str(i)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            env=env,
            cwd=str(REPO),
        )
        for i in (0, 1)
    ]
    results = []
    for p in procs:
        try:
            so, se = p.communicate(timeout=420)
        except subprocess.TimeoutExpired:
            p.kill()
            raise
        assert p.returncode == 0, (
            f"racer failed rc={p.returncode}\n--- stderr tail ---\n"
            + se.decode(errors="replace")[-3000:]
        )
        lines = [l for l in so.decode().splitlines() if l.startswith("RESULT")]
        assert lines, f"no RESULT line:\n{so.decode()[-2000:]}"
        results.append(lines[-1])
    if expect_equal:
        assert results[0] == results[1], f"racers served different content: {results}"
    return str(artdir)


def _entries(artdir: str, prefix: str) -> list[str]:
    return sorted(d for d in os.listdir(artdir) if d.startswith(prefix))


def test_race_two_processes_ann_standing_index(tmp_path, spark):
    """ensure_standing_index: staged-rename one-shot publish + debris
    recovery must hold across real processes."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/embeddings.parquet", str(sf / "embeddings.parquet")
    )
    artdir = _race("ann", str(sf), tmp_path)
    roots = _entries(artdir, "msgdp_ivfpq_")
    committed = [r for r in roots if ".stage." not in r and ".debris." not in r]
    leftovers = [r for r in roots if ".stage." in r or ".debris." in r]
    assert len(committed) == 1, roots
    assert leftovers == [], f"race left staging/debris: {leftovers}"
    root = os.path.join(artdir, committed[0])
    assert os.path.exists(f"{root}/models.json")
    from msgraphdatapipelines_spark import sinks

    assert sinks.snapshot_exists(spark, f"{root}/snapshot")


def test_race_two_processes_prefix_gram_index(tmp_path):
    """prefix_index_build under the generational protocol: exactly one
    committed generation wins; the loser's staging is gone."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    artdir = _race("prefix", str(sf), tmp_path)
    roots = _entries(artdir, "msgdp_ppj_")
    assert len(roots) == 1, roots
    root = os.path.join(artdir, roots[0])
    inside = sorted(os.listdir(root))
    gens = [
        d
        for d in inside
        if d.startswith("gen-") and os.path.exists(f"{root}/{d}/_commit")
    ]
    stages = [d for d in inside if d.startswith("stage.")]
    assert len(gens) == 1, inside
    assert stages == [], f"race left staging dirs: {stages}"


def test_race_two_processes_lexicon(tmp_path):
    """ensure_standing_lexicon on the r13 generational layout: two
    processes racing append(bid=0) + compact must converge on ONE
    committed generation serving identical postings/meta, with no
    staging leftovers (the deterministic bid makes the double append a
    replay no-op; the lease serializes the compacts; the second
    compactor's fold detection no-ops on the already-folded batch set)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    artdir = _race("lex", str(sf), tmp_path)
    roots = _entries(artdir, "msgdp_lex_")
    assert len(roots) == 1, roots
    root = os.path.join(artdir, roots[0])
    inside = sorted(os.listdir(root))
    gens = [
        d
        for d in inside
        if d.startswith("gen-") and os.path.exists(f"{root}/{d}/_commit")
    ]
    stages = [d for d in inside if d.startswith("stage.")]
    # racers may commit one generation (second compact no-ops on the
    # folded set) or two (both raced past the no-op check before the
    # lease serialized them — the LOSER built from the same single
    # batch, so both generations are content-identical); either way no
    # staging debris and at most 2 generations survive the GC
    assert 1 <= len(gens) <= 2, inside
    assert stages == [], f"race left staging dirs: {stages}"
    bids = sorted(os.listdir(f"{root}/batches/tf"))
    assert bids == ["batch_id=0"], f"replayed append double-published: {bids}"


def test_race_two_processes_result_cache(tmp_path):
    """cache.serve_cached: both processes must serve the identical
    artifact, with exactly one data dir, no staging copies, and no
    loser's copy nested inside ``data``."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/orders.parquet", str(sf / "orders.parquet")
    )
    artdir = _race("cache", str(sf), tmp_path)
    roots = _entries(artdir, "msgdp_rc_")
    assert len(roots) == 1, roots
    root = os.path.join(artdir, roots[0])
    inside = sorted(os.listdir(root))
    assert "_rc_ready" in inside and "data" in inside, inside
    staging = [d for d in inside if d.startswith("data.")]
    assert staging == [], f"race left staging copies: {staging}"
    data = os.listdir(os.path.join(root, "data"))
    nested = [d for d in data if d.startswith("data.")]
    assert nested == [], f"race left a copy nested in data: {nested}"


def test_race_two_processes_snapshot_publish(tmp_path, spark):
    """r14 (r13 VERDICT item 4): write_snapshot was the last standing
    mutator with single-publisher-assumed semantics — two REAL processes
    publishing the same content onto one root must now serialize onto
    DISTINCT complete versions via the claim-rename loop, flip the
    pointer monotonically, and leave zero staging debris."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/orders.parquet", str(sf / "orders.parquet")
    )
    artdir = _race("snapshot", str(sf), tmp_path)
    root = os.path.join(artdir, "race_snapshot_root")
    inside = sorted(os.listdir(root))
    vdirs = [d for d in inside if d.startswith("v=")]
    stages = [d for d in inside if d.startswith("v.stage.")]
    assert sorted(vdirs) == ["v=1", "v=2"], inside
    assert stages == [], f"race left staging dirs: {stages}"
    # both publishes committed: the pointer resolves to the max marker
    from msgraphdatapipelines_spark import sinks

    assert sinks._read_latest_version(spark, root) == 2
    # every committed version is COMPLETE and content-identical (same
    # input), and each carries exactly one publisher sentinel
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    v1 = key(sinks.read_snapshot(spark, root, version=1))
    v2 = key(sinks.read_snapshot(spark, root, version=2))
    assert v1 == v2 and len(v1) > 0
    for d in vdirs:
        sentinels = [f for f in os.listdir(f"{root}/{d}") if f.startswith("_PUB_")]
        assert len(sentinels) == 1, f"{d}: {sentinels}"


def test_sigkill_mid_publish_leaves_root_serving_and_recoverable(tmp_path, spark):
    """r14 (beyond-exception crash evidence): every crash test so far
    injected EXCEPTIONS, which still unwind context managers — a real
    preemption is SIGKILL, which unwinds nothing.  One child publishes
    snapshots in a loop; the parent SIGKILLs it mid-publish and then
    asserts the claim-rename protocol's whole promise from outside:
    (a) the root still resolves to a COMPLETE version with the expected
    content, (b) every v= dir on disk is individually complete (the
    rename IS the commit — a torn dir cannot exist at a claimed
    version), (c) a fresh publisher claims the next number and serves,
    (d) vacuum collects the kill's debris without touching the served
    version."""
    import signal
    import time as _time

    import pyspark.sql.functions as F  # noqa: F401

    from msgraphdatapipelines_spark import sinks

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/orders.parquet", str(sf / "orders.parquet")
    )
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    (barrier / "ready-parent").write_text("1")  # single-child mode
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)
    env = dict(os.environ, TMPDIR=str(artdir))
    p = subprocess.Popen(
        [sys.executable, CHILD, "snapshot_crashloop", str(sf), str(barrier), "0"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        env=env,
        cwd=str(REPO),
        text=True,
    )
    published = []
    deadline = _time.time() + 300
    while len(published) < 3:
        line = p.stdout.readline()
        if not line:
            raise AssertionError("child exited before publishing 3 snapshots")
        if line.startswith("PUBLISHED"):
            published.append(int(line.split()[1]))
        if _time.time() > deadline:
            p.kill()
            raise AssertionError("timeout waiting for publishes")
    _time.sleep(0.3)  # land inside publish #4 with high probability
    p.send_signal(signal.SIGKILL)
    p.wait(timeout=60)

    root = os.path.join(str(artdir), "race_crash_root")
    expected = sorted(
        tuple(r)
        for r in spark.read.parquet(str(sf / "orders.parquet"))
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    # (a) the pointer (or its documented fallback) serves complete content
    served = sorted(tuple(r) for r in sinks.read_snapshot(spark, root).collect())
    assert served == expected
    # (b) every claimed version dir is individually complete
    for v in sinks.snapshot_versions(spark, root):
        got = sorted(
            tuple(r) for r in sinks.read_snapshot(spark, root, version=v).collect()
        )
        assert got == expected, f"v={v} is torn"
    # (c) a fresh publisher continues past the kill
    max_before = max(sinks.snapshot_versions(spark, root))
    df = (
        spark.read.parquet(str(sf / "orders.parquet"))
        .groupBy("o_orderstatus")
        .count()
    )
    new_v = sinks.write_snapshot(df, root)
    assert new_v == max_before + 1
    assert sinks._read_latest_version(spark, root) == new_v
    # (d) vacuum collects kill debris, the served version survives
    sinks.vacuum_snapshots(spark, root, keep_last=2)
    served2 = sorted(tuple(r) for r in sinks.read_snapshot(spark, root).collect())
    assert served2 == expected
    # at most the ONE in-flight stage the kill orphaned remains; committed
    # versions carry no _temporary scars
    stages = [d for d in os.listdir(root) if d.startswith("v.stage.")]
    assert len(stages) <= 1, stages


def test_sigkill_mid_compact_old_generation_stays_live(tmp_path, spark, monkeypatch):
    """r14 SIGKILL evidence for the generational (genstore) protocol: a
    compactor killed -9 AFTER fully staging but BEFORE its commit marker
    leaves (a) the old generation live with identical answers, (b) its
    staging dir as inert debris, (c) its heartbeat lease ORPHANED —
    which by design blocks sibling compactors until the TTL (pinned),
    then goes stale (no process renews it), after which a re-run folds
    the pending batch into exactly one new committed generation."""
    import signal
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import genstore as _gs
    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.operators import dedup as D
    from msgraphdatapipelines_spark.queries import dedup as QD
    from msgraphdatapipelines_spark.queries import load

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    docs = load(spark, str(sf), "documents")
    root = QD.prefix_index_root(str(sf), 3, 0.5, variant="killme")
    QD.prefix_index_build(spark, root, docs.filter(F.col("doc_id") < 150))
    # pending append the killed compact would have folded
    QD.prefix_index_append(
        spark, root, docs.filter(F.col("doc_id") >= 150), bid="b1"
    )
    gen_before = QD.prefix_index_current_gen(spark, root)

    def _served():
        s, p = QD.read_prefix_index(spark, root)
        return sorted(
            (r["a"], r["b"])
            for r in D.set_similarity_join_from_tables(s, p, "doc_id", 0.5)
            .selectExpr("least(id_a, id_b) a", "greatest(id_a, id_b) b")
            .collect()
        )

    before = _served()

    barrier = tmp_path / "barrier"
    barrier.mkdir()
    (barrier / "ready-parent").write_text("1")
    env = dict(os.environ, TMPDIR=str(artdir))
    p = subprocess.Popen(
        [sys.executable, CHILD, "prefix_killme", str(sf), str(barrier), "0"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        env=env,
        cwd=str(REPO),
        text=True,
    )
    import signal as _sig

    deadline = _time.time() + 300
    while True:
        line = p.stdout.readline()
        if not line:
            raise AssertionError("child exited before staging")
        if line.startswith("STAGED"):
            break
        if _time.time() > deadline:
            p.kill()
            raise AssertionError("timeout waiting for the staged signal")
    p.send_signal(signal.SIGKILL)
    p.wait(timeout=60)

    # (a) old generation live, identical answers
    assert QD.prefix_index_current_gen(spark, root) == gen_before
    assert _served() == before and len(before) > 0
    # (c) the orphaned lease blocks a sibling compactor (documented TTL
    # behavior: live_leases at the default TTL still counts it)
    fs, hpath = sinks._fs_for(spark, root)
    assert len(_gs.live_leases(fs, hpath, root)) == 1
    with pytest.raises(RuntimeError, match="compact already in progress"):
        QD.prefix_index_compact(spark, root)
    # the SIGKILL'd process renews nothing: shrink the TTL and the lease
    # is stale — the re-run folds the pending batch cleanly
    monkeypatch.setattr(_gs, "LEASE_TTL_S", 0.5)
    _time.sleep(0.8)
    stats = QD.prefix_index_compact(spark, root)
    assert stats["batches_folded"] == 1
    gen_after = QD.prefix_index_current_gen(spark, root)
    assert gen_after != gen_before
    # the fold's answers == the direct operator over the FULL corpus
    all_grams = docs.select(
        "doc_id", F.explode(D.word_ngrams(F.lower(F.col("text")), 3)).alias("g")
    )
    want = sorted(
        (r["a"], r["b"])
        for r in D.set_similarity_join(all_grams, "doc_id", "g", 0.5)
        .selectExpr("least(id_a, id_b) a", "greatest(id_a, id_b) b")
        .collect()
    )
    assert _served() == want


def test_race_erasure_vs_append_two_processes(tmp_path, spark, monkeypatch):
    """r14: GDPR erasure racing a live append on a shared standing index
    — continuous ingest never pauses for an erasure, so the two must
    compose in EITHER interleaving: the forget's manifest is durable
    before its compact, appends publish atomically and re-check the
    lease, and every later compact re-applies the manifest.  Final-state
    pins: the erased doc serves from NOTHING (join + sets table), the
    raced-in batch's docs serve fully, and a closing compact converges
    the artifact to the direct operator over (corpus − erased doc)."""
    import tempfile

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import dedup as D
    from msgraphdatapipelines_spark.queries import dedup as QD
    from msgraphdatapipelines_spark.queries import load

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    docs = load(spark, str(sf), "documents")
    root = QD.prefix_index_root(str(sf), 3, 0.5, variant="erasure")
    QD.prefix_index_build(spark, root, docs.filter(F.col("doc_id") < 150))

    _race("erasure", str(sf), tmp_path, expect_equal=False)

    def _served_pairs():
        s, p = QD.read_prefix_index(spark, root)
        return s, sorted(
            (r["a"], r["b"])
            for r in D.set_similarity_join_from_tables(s, p, "doc_id", 0.5)
            .selectExpr("least(id_a, id_b) a", "greatest(id_a, id_b) b")
            .collect()
        )

    sets, pairs = _served_pairs()
    # erased doc gone from every serving surface, raced batch present
    assert sets.filter(F.col("doc_id") == 7).count() == 0
    assert all(7 not in pr for pr in pairs)
    assert sets.filter(F.col("doc_id") >= 150).count() > 0
    # closing compact (folds the batch if the forget's compact listed
    # before the append published) converges to the direct operator
    QD.prefix_index_compact(spark, root)
    sets, pairs = _served_pairs()
    assert sets.filter(F.col("doc_id") == 7).count() == 0
    grams = docs.filter(F.col("doc_id") != 7).select(
        "doc_id", F.explode(D.word_ngrams(F.lower(F.col("text")), 3)).alias("g")
    )
    want = sorted(
        (r["a"], r["b"])
        for r in D.set_similarity_join(grams, "doc_id", "g", 0.5)
        .selectExpr("least(id_a, id_b) a", "greatest(id_a, id_b) b")
        .collect()
    )
    assert pairs == want and len(want) > 0


def test_race_erasure_vs_append_ann_two_processes(tmp_path, spark, monkeypatch):
    """r15 (r14 VERDICT item 2): GDPR erasure racing a live append on
    the shared STANDING IVF+PQ index — the erasure-family member with
    the most moving parts (models carry-forward across erasure versions,
    compact interplay).  pid 0 appends a fresh batch under the dir's own
    models; pid 1 runs ann_index_forget(doc 7).  Pins, in EITHER interleaving: the
    forget's published snapshot excludes doc 7, the raced-in batch
    serves fully from the batches view, and a closing compact converges
    to (corpus − erased + appended) with the models PAIRED to the
    published version (every cent a valid centroid id)."""
    import tempfile

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.queries.similarity import (
        _load_models_for,
        ensure_standing_index,
        standing_index_root,
    )
    from msgraphdatapipelines_spark.streaming.ann_stream import (
        compact_ann_index,
        read_ann_index,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/embeddings.parquet", str(sf / "embeddings.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    ensure_standing_index(spark, str(sf))
    root = standing_index_root(str(sf))
    n_base = sinks.read_snapshot(spark, f"{root}/snapshot").count()
    assert (
        sinks.read_snapshot(spark, f"{root}/snapshot")
        .filter(F.col("cid") == 7)
        .count()
        == 1
    )

    _race("ann_erasure", str(sf), tmp_path, expect_equal=False)

    # the forget's committed snapshot excludes doc 7 (post-race pointer)
    v = sinks._read_latest_version(spark, f"{root}/snapshot")
    assert v >= 2
    snap = sinks.read_snapshot(spark, f"{root}/snapshot", version=v)
    assert snap.filter(F.col("cid") == 7).count() == 0
    # both mutations fully visible in the batches view
    view = read_ann_index(spark, f"{root}/batches")
    assert view.filter(F.col("cid") == 7).count() == 0
    assert view.filter(F.col("cid") >= 900000).count() == 40

    # closing compact converges, models paired to the published version
    pub = compact_ann_index(
        spark, f"{root}/batches", f"{root}/snapshot",
        models_root=root, versioned_label_lists=True,
    )
    final = sinks.read_snapshot(spark, f"{root}/snapshot", version=pub)
    assert final.filter(F.col("cid") == 7).count() == 0
    assert final.filter(F.col("cid") >= 900000).count() == 40
    assert final.count() == n_base - 1 + 40
    models = _load_models_for(spark, root, pub)
    valid = {int(c) for c, _ in models["centroids"]}
    got_cents = {r["cent"] for r in final.select("cent").distinct().collect()}
    assert got_cents <= valid, "published rows pair with a wrong quantizer"


def test_race_erasure_vs_append_lexicon_two_processes(tmp_path, spark, monkeypatch):
    """r15 (r14 VERDICT item 2): lexicon_forget racing
    lexicon_append_batch + compact on the shared standing lexicon —
    completes the erasure-vs-append family across all three standing
    stores.  Pins: doc 7 gone from postings/docstats/meta (idf and avgdl
    stop reflecting erased content), the raced-in batch's docs serve
    fully, and the converged postings equal the direct tokenization over
    (corpus − erased doc) EXACTLY."""
    import tempfile

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.queries import load
    from msgraphdatapipelines_spark.queries.text import (
        lexicon_append_batch,
        lexicon_compact,
        lexicon_root,
        read_lexicon,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    docs = load(spark, str(sf), "documents")
    root = lexicon_root(str(sf))
    lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") < 150), bid=0)
    lexicon_compact(spark, root)

    _race("lex_erasure", str(sf), tmp_path, expect_equal=False)

    # closing compact (no-op when the racers already converged)
    lexicon_compact(spark, root)
    postings, docstats, termstats, meta = read_lexicon(spark, root)
    assert postings.filter(F.col("doc_id") == 7).count() == 0
    assert docstats.filter(F.col("doc_id") == 7).count() == 0
    n_appended = docs.filter(F.col("doc_id") >= 150).count()
    assert n_appended > 0
    assert docstats.filter(F.col("doc_id") >= 150).count() == n_appended

    # exact twin: postings == direct tokenization over corpus − erased
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    want = sorted(
        tuple(r)
        for r in docs.filter(F.col("doc_id") != 7)
        .select("doc_id", F.explode(ws).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    got = sorted(tuple(r) for r in postings.collect())
    assert got == want and len(want) > 0
    # exact-integer corpus stats exclude the erased doc
    assert meta["n_docs"] == docs.count() - 1
    want_sum = (
        docs.filter(F.col("doc_id") != 7)
        .select(F.size(ws).alias("dl"))
        .agg(F.sum("dl"))
        .collect()[0][0]
    )
    assert meta["sum_dl"] == int(want_sum)


def test_sigkill_mid_compact_lexicon_old_generation_stays_live(
    tmp_path, spark, monkeypatch
):
    """r15 (r14 VERDICT item 5): SIGKILL evidence for the LEXICON's
    generational commit — the lexicon reaches genstore through its own
    migration shims, so the prefix-store SIGKILL mode does not pin it.
    A compactor killed -9 after fully staging but before its commit
    marker leaves (a) the old generation live with identical meta and
    postings, (b) its orphaned heartbeat lease blocking siblings until
    the TTL, then stale; (c) the re-run folds the pending batch into
    exactly one new committed generation matching the direct twin."""
    import signal
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import genstore as _gs
    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.queries import load
    from msgraphdatapipelines_spark.queries import text as QT

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet", str(sf / "documents.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    docs = load(spark, str(sf), "documents")
    root = QT.lexicon_root(str(sf))
    QT.lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") < 150), bid=0)
    QT.lexicon_compact(spark, root)
    QT.lexicon_append_batch(spark, root, docs.filter(F.col("doc_id") >= 150), bid=1)
    fs, hpath = sinks._fs_for(spark, root)
    gen_before = _gs.current_gen(fs, hpath, root)
    meta_before = QT.read_lexicon(spark, root)[3]
    postings_before = sorted(
        tuple(r) for r in QT.read_lexicon(spark, root)[0].collect()
    )

    barrier = tmp_path / "barrier"
    barrier.mkdir()
    (barrier / "ready-parent").write_text("1")
    env = dict(os.environ, TMPDIR=str(artdir))
    p = subprocess.Popen(
        [sys.executable, CHILD, "lex_killme", str(sf), str(barrier), "0"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        env=env,
        cwd=str(REPO),
        text=True,
    )
    deadline = _time.time() + 300
    while True:
        line = p.stdout.readline()
        if not line:
            raise AssertionError("child exited before staging")
        if line.startswith("STAGED"):
            break
        if _time.time() > deadline:
            p.kill()
            raise AssertionError("timeout waiting for the staged signal")
    p.send_signal(signal.SIGKILL)
    p.wait(timeout=60)

    # (a) old generation live, identical meta + postings
    assert _gs.current_gen(fs, hpath, root) == gen_before
    assert QT.read_lexicon(spark, root)[3] == meta_before
    assert (
        sorted(tuple(r) for r in QT.read_lexicon(spark, root)[0].collect())
        == postings_before
    )
    # (b) the orphaned lease blocks a sibling compactor until the TTL
    assert len(_gs.live_leases(fs, hpath, root)) == 1
    with pytest.raises(RuntimeError, match="compact already in progress"):
        QT.lexicon_compact(spark, root)
    # (c) no renewals from the dead process: shrink the TTL, lease goes
    # stale, the re-run folds the pending batch into ONE new generation
    monkeypatch.setattr(_gs, "LEASE_TTL_S", 0.5)
    _time.sleep(0.8)
    meta = QT.lexicon_compact(spark, root)
    assert meta["n_batches"] == 2
    assert meta["n_docs"] == docs.count()
    gen_after = _gs.current_gen(fs, hpath, root)
    assert gen_after != gen_before
    # folded answers == the direct twin over the FULL corpus
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    want = sorted(
        tuple(r)
        for r in docs.select("doc_id", F.explode(ws).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    got = sorted(tuple(r) for r in QT.read_lexicon(spark, root)[0].collect())
    assert got == want


def test_race_compact_vs_publish_two_processes(tmp_path, spark):
    """r15: compact_snapshot racing write_snapshot on one shared root —
    both now publish through the claim-rename protocol, so they must
    serialize onto DISTINCT complete versions (the old direct-to-v=N
    compact could clobber a racer's committed dir).  Pins: both
    processes succeed, every committed version carries its claim
    sentinel and serves the same aggregate row-set, the pointer resolves
    to the max, and no v.stage debris survives beyond vacuum."""
    import tempfile

    from msgraphdatapipelines_spark import sinks

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/orders.parquet", str(sf / "orders.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)
    # seed version 1 so the compactor has something to compact at start
    import os as _os

    env_root = _os.path.join(str(artdir), "race_cvp_root")
    df = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .groupBy("o_orderstatus")
        .count()
    )
    import tempfile as _tf

    old_tmp = _tf.tempdir
    _tf.tempdir = str(artdir)
    try:
        sinks.write_snapshot(df, env_root)
    finally:
        _tf.tempdir = old_tmp

    _race("compact_vs_publish", str(sf), tmp_path, expect_equal=False)

    _tf.tempdir = str(artdir)
    try:
        versions = sinks.snapshot_versions(spark, env_root)
        cur = sinks._read_latest_version(spark, env_root)
        assert cur == max(versions)
        want = sorted(tuple(r) for r in df.collect())
        for v in versions:
            vdir = f"{env_root}/v={v}"
            names = _os.listdir(vdir)
            assert any(n.startswith("_PUB_") for n in names), (
                f"v={v} lacks its claim sentinel: {names}"
            )
            got = sorted(
                tuple(r) for r in spark.read.parquet(vdir).collect()
            )
            assert got == want, f"v={v} serves different content"
        # 1 seed + 3 publishes + 2 compacts = 6 distinct versions
        assert len(versions) == 6, versions
        out = sinks.vacuum_snapshots(spark, env_root, keep_last=2, stage_ttl_s=0.0)
        assert not [
            d for d in _os.listdir(env_root) if d.startswith("v.stage.")
        ]
    finally:
        _tf.tempdir = old_tmp

