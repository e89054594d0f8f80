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
    different outcome (rebalance: winner retrains, loser skips) set it
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


def test_race_two_processes_rebalance(tmp_path, monkeypatch, spark):
    """r13: two drivers' occupancy monitors firing on the same skewed
    root — the lease + under-lease thrash guard must yield EXACTLY ONE
    retrained generation (version 2): the loser skips (lease live) or
    is stopped by the raced-guard re-check (lease acquired after the
    winner committed); neither crashes, no debris, no version 3."""
    import tempfile

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.queries.similarity import (
        ensure_standing_index,
        standing_index_root,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/embeddings.parquet", str(sf / "embeddings.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir()
    # build + skew the SHARED root under the same TMPDIR the children get
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    _, cents1, books1 = ensure_standing_index(spark, str(sf), emb)
    root = standing_index_root(str(sf))
    assert root.startswith(str(artdir))
    import random

    rng = random.Random(5)
    p = [0.5 if i % 2 == 0 else -0.5 for i in range(64)]
    rows = []
    for j in range(10):
        base = [p[d] + 0.01 * rng.uniform(-1, 1) for d in range(64)]
        for i in range(200):
            rows.append(
                (100000 + j * 200 + i,
                 [base[d] + 1e-4 * rng.uniform(-1, 1) for d in range(64)], 999)
            )
    drift = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: long"
    )
    drift.write.parquet(f"{sf}/drift.parquet")
    S.ivf_pq_index(
        drift, "vec_id", "embedding", cents1, books1, dim=64, meta_cols=("label",)
    ).write.parquet(f"{root}/batches/batch_id=1")
    monkeypatch.setattr(tempfile, "tempdir", None)  # restore for the parent

    # reuse the prepared artifacts dir for the children
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    env = dict(os.environ, TMPDIR=str(artdir))
    procs = [
        subprocess.Popen(
            [sys.executable, CHILD, "rebalance", str(sf), str(barrier), str(i)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env, cwd=str(REPO),
        )
        for i in (0, 1)
    ]
    outs = []
    for p_ in procs:
        so, se = p_.communicate(timeout=420)
        assert p_.returncode == 0, se.decode(errors="replace")[-3000:]
        lines = [l for l in so.decode().splitlines() if l.startswith("RESULT")]
        assert lines, so.decode()[-2000:]
        outs.append(lines[-1].split())
    retrained = [o[3] == "True" for o in outs]
    assert sum(retrained) == 1, f"expected exactly one retrain: {outs}"
    # root-level invariants: exactly one committed retrain (v=2), no v=3,
    # models.v2 present, no staging debris
    assert os.path.exists(f"{root}/snapshot/v=2")
    assert not os.path.exists(f"{root}/snapshot/v=3")
    assert os.path.exists(f"{root}/models.v2.json")
    from msgraphdatapipelines_spark import sinks

    assert sinks._read_latest_version(spark, f"{root}/snapshot") == 2
    debris = [
        d for d in os.listdir(root)
        if d.startswith(("batches.stage.", "batches.old."))
    ]
    assert debris == [], debris


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


def test_race_two_processes_zonemap_refresh(tmp_path, spark):
    """r14 (r13 VERDICT item 4): two refresh_zonemap racers on one
    shared table — the r13 in-place manifest overwrite could tear under
    exactly this interleaving (pruned scans silently incomplete, the one
    forbidden outcome).  The staged claim-swap must leave ONE complete
    manifest covering EVERY data file, pruned == full scan, no debris."""
    import pyspark.sql.functions as F

    from msgraphdatapipelines_spark import sinks

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/orders.parquet", str(sf / "orders.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir()
    table = str(artdir / "race_zonemap_table")
    orders = spark.read.parquet(str(sf / "orders.parquet"))
    # base layout + manifest, then appended files the manifest does NOT
    # know yet — the racers' refresh target
    orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4).write.parquet(table)
    sinks.build_zonemap(spark, table, ["o_orderkey"])
    orders.filter(F.col("o_orderkey") % 2 == 1).repartition(4).write.mode(
        "append"
    ).parquet(table)

    _race("zonemap", str(sf), tmp_path)

    inside = sorted(os.listdir(table))
    debris = [
        d
        for d in inside
        if d.startswith("_zonemap.stage.") or d.startswith("_zonemap.old.")
    ]
    assert debris == [], f"race left manifest debris: {debris}"
    zm = spark.read.parquet(f"{table}/_zonemap")
    suffixes = sorted(
        sinks._table_suffix(table, r["file"]) for r in zm.select("file").collect()
    )
    data_files = sorted(
        sinks._table_suffix(table, f"{table}/{f}")
        for f in os.listdir(table)
        if f.endswith(".parquet")
    )
    assert suffixes == data_files, "manifest does not cover the data files 1:1"
    # pruned scan == full filtered scan (exactness through the raced manifest)
    lo, hi = 10, 5000
    pruned = sinks.scan_pruned(spark, table, "o_orderkey", lo, hi)
    full = spark.read.parquet(table).filter(F.col("o_orderkey").between(lo, hi))
    assert pruned.count() == full.count() > 0


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


def test_race_two_processes_bloom_refresh(tmp_path, spark):
    """r14: the Bloom manifest is the one standing-store mutator whose
    race SAFETY is by-design tolerance, not mutual exclusion — appends
    are idempotent-safe because probes bit_or duplicate (file, word_idx)
    rows.  Two racing refreshers may both append the same fresh words;
    the pins are exactness (bloom-pruned == full filtered scan, no false
    negatives) and bounded duplication (each file's words appended at
    most twice — once per racer)."""
    import pyspark.sql.functions as F

    from msgraphdatapipelines_spark import sinks

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/orders.parquet", str(sf / "orders.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir(exist_ok=True)
    table = str(artdir / "race_bloom_table")
    orders = spark.read.parquet(str(sf / "orders.parquet"))
    orders.filter(F.col("o_orderkey") % 2 == 0).repartition(3).write.parquet(table)
    sinks.build_bloom_manifest(spark, table, ["o_orderkey"])
    orders.filter(F.col("o_orderkey") % 2 == 1).repartition(3).write.mode(
        "append"
    ).parquet(table)

    _race("bloom", str(sf), tmp_path)

    for key in (7, 8, 1):  # odd keys live in the raced-in files
        pruned = sorted(
            tuple(r)
            for r in sinks.scan_bloom_pruned(spark, table, "o_orderkey", key).collect()
        )
        full = sorted(
            tuple(r)
            for r in spark.read.parquet(table)
            .filter(F.col("o_orderkey") == key)
            .collect()
        )
        assert pruned == full, f"bloom-pruned wrong for key {key}"
    # duplication bounded: each (file, word_idx) appears at most twice
    words = sinks._bloom_words_df(spark, f"{table}/_bloom_o_orderkey")
    dupmax = (
        words.groupBy("file", "word_idx")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert dupmax <= 2, f"unbounded duplicate append: {dupmax}"


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
    `_forgotten` manifest, compact interplay).  pid 0 appends a fresh
    batch under the dir's own models (the ann_index_stream shape); pid 1
    runs ann_index_forget(doc 7).  Pins, in EITHER interleaving: the
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
    assert os.path.isdir(f"{root}/_forgotten"), "erasure manifest not durable"

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
        ensure_standing_lexicon,
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
    ensure_standing_lexicon(spark, str(sf), docs=docs.filter(F.col("doc_id") < 150))

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
    QT.ensure_standing_lexicon(
        spark, str(sf), docs=docs.filter(F.col("doc_id") < 150)
    )
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


def test_race_rebalance_vs_append_two_processes(tmp_path, monkeypatch, spark):
    """r15 (the ADVICE lost-append window, cross-process): a LIVE
    appender (5 batches, models re-resolved per batch — the streaming
    round's shape) racing one automated rebalance on a shared skewed
    root.  Appenders never wait on the compaction lease, so batches can
    land inside the rebalance's doomed old dir at ANY point between its
    entry capture and the swap; the diff-and-salvage must fold every one
    into the retrained generation.  Pins: all 200 appended rows serve
    from the converged view with cents valid under the CURRENT models,
    the retrain committed exactly one new version, and a closing compact
    publishes base + drift + appends − nothing."""
    import tempfile

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.queries.similarity import (
        ensure_standing_index,
        standing_index_root,
    )
    from msgraphdatapipelines_spark.streaming.ann_stream import (
        compact_ann_index,
        read_ann_index,
        resolve_batches_models,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/embeddings.parquet", str(sf / "embeddings.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    _, cents1, books1 = ensure_standing_index(spark, str(sf), emb)
    root = standing_index_root(str(sf))
    import random

    rng = random.Random(5)
    p = [0.5 if i % 2 == 0 else -0.5 for i in range(64)]
    rows = []
    for j in range(10):
        base = [p[d] + 0.01 * rng.uniform(-1, 1) for d in range(64)]
        for i in range(200):
            rows.append(
                (100000 + j * 200 + i,
                 [base[d] + 1e-4 * rng.uniform(-1, 1) for d in range(64)], 999)
            )
    drift = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: long"
    )
    drift.write.parquet(f"{sf}/drift.parquet")
    S.ivf_pq_index(
        drift, "vec_id", "embedding", cents1, books1, dim=64, meta_cols=("label",)
    ).write.parquet(f"{root}/batches/batch_id=1")
    monkeypatch.setattr(tempfile, "tempdir", None)

    barrier = tmp_path / "barrier"
    barrier.mkdir()
    env = dict(os.environ, TMPDIR=str(artdir))
    procs = [
        subprocess.Popen(
            [sys.executable, CHILD, "rebalance_append", str(sf), str(barrier), str(i)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env, cwd=str(REPO),
        )
        for i in (0, 1)
    ]
    outs = []
    for p_ in procs:
        so, se = p_.communicate(timeout=420)
        assert p_.returncode == 0, se.decode(errors="replace")[-3000:]
        lines = [l for l in so.decode().splitlines() if l.startswith("RESULT")]
        assert lines, so.decode()[-2000:]
        outs.append(lines[-1])
    assert any("appended 5" in o for o in outs), outs
    assert any("rebalanced True" in o for o in outs), outs

    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    # every appended row survived the swap — salvaged or landed post-swap
    view = read_ann_index(spark, f"{root}/batches")
    got = view.filter(F.col("cid") >= 910000)
    assert got.count() == 200, "concurrent appends were destroyed by the swap"
    models = resolve_batches_models(spark, root)
    valid = {int(c) for c, _ in models["centroids"]}
    assert {
        r["cent"] for r in got.select("cent").distinct().collect()
    } <= valid
    # exactly one retrained version committed; a closing compact
    # converges base + drift + appends
    v = sinks._read_latest_version(spark, f"{root}/snapshot")
    assert v == 2
    pub = compact_ann_index(
        spark, f"{root}/batches", f"{root}/snapshot",
        models_root=root, versioned_label_lists=True,
    )
    snap = sinks.read_snapshot(spark, f"{root}/snapshot", version=pub)
    n_base = emb.count()
    assert snap.filter(F.col("cid") >= 910000).count() == 200
    assert snap.count() == n_base + 2000 + 200
    debris = [
        d for d in os.listdir(root)
        if d.startswith(("batches.stage.", "batches.old."))
    ]
    assert debris == [], debris


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


def test_race_rebalance_vs_erasure_two_processes(tmp_path, monkeypatch, spark):
    """r16 (r15 VERDICT item 4, the 17th matrix mode): ann_index_forget
    racing ann_rebalance_if_skewed on one shared skewed root.  The two
    serialize on the compaction lease, so the exposed windows are the
    lease-retry interleavings and the STALE-FRAME hazard: the rebalance
    reads the `_forgotten` manifest at ENTRY (pre-lease), so a forget
    committing between entry and lease acquisition used to be invisible
    to the retrain — its re-encode resurrected freshly-erased rows into
    the published snapshot (the under-lease re-anti-join closes this).
    Pins: in EITHER commit order the converged view equals
    base + drift − erased, no erased cid appears in any published
    snapshot version ≥ the forget's, models pair with the served rows,
    and a closing compact converges with zero debris."""
    import tempfile

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.queries.similarity import (
        ensure_standing_index,
        standing_index_root,
    )
    from msgraphdatapipelines_spark.streaming.ann_stream import (
        compact_ann_index,
        read_ann_index,
        resolve_batches_models,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/embeddings.parquet", str(sf / "embeddings.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    _, cents1, books1 = ensure_standing_index(spark, str(sf), emb)
    root = standing_index_root(str(sf))
    import random

    rng = random.Random(11)
    p = [0.5 if i % 2 == 0 else -0.5 for i in range(64)]
    rows = []
    for j in range(10):
        base = [p[d] + 0.01 * rng.uniform(-1, 1) for d in range(64)]
        for i in range(200):
            rows.append(
                (100000 + j * 200 + i,
                 [base[d] + 1e-4 * rng.uniform(-1, 1) for d in range(64)], 999)
            )
    drift = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: long"
    )
    drift.write.parquet(f"{sf}/drift.parquet")
    # appender contract: batch rows must match the dir's column types
    # (base batch_id=0 carries emb's int label) — the forget's compact
    # may read the mixed dir BEFORE any rebalance re-encodes it
    S.ivf_pq_index(
        drift.withColumn("label", drift["label"].cast(emb.schema["label"].dataType)),
        "vec_id", "embedding", cents1, books1, dim=64, meta_cols=("label",)
    ).write.parquet(f"{root}/batches/batch_id=1")
    monkeypatch.setattr(tempfile, "tempdir", None)

    barrier = tmp_path / "barrier"
    barrier.mkdir()
    env = dict(os.environ, TMPDIR=str(artdir))
    procs = [
        subprocess.Popen(
            [sys.executable, CHILD, "rebalance_erasure", str(sf), str(barrier), str(i)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env, cwd=str(REPO),
        )
        for i in (0, 1)
    ]
    outs = []
    for p_ in procs:
        so, se = p_.communicate(timeout=420)
        assert p_.returncode == 0, se.decode(errors="replace")[-3000:]
        lines = [l for l in so.decode().splitlines() if l.startswith("RESULT")]
        assert lines, so.decode()[-2000:]
        outs.append(lines[-1])
    assert any("forgot" in o for o in outs), outs
    assert any("rebalanced True" in o for o in outs), outs

    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    victims = [7, 103, 100005]
    n_base = emb.count()
    # converged view = base + drift − erased, models paired
    view = read_ann_index(spark, f"{root}/batches")
    assert view.filter(F.col("cid").isin(victims)).count() == 0, (
        "erased rows resurrected into the converged view"
    )
    assert view.count() == n_base + 2000 - len(victims)
    models = resolve_batches_models(spark, root)
    valid = {int(c) for c, _ in models["centroids"]}
    assert {
        r["cent"] for r in view.select("cent").distinct().collect()
    } <= valid
    # no published snapshot version at-or-after the forget's serves an
    # erased cid (the resurrect-into-snapshot hazard)
    forget_v = int(next(o for o in outs if "forgot" in o).split()[-1])
    for v in sinks.snapshot_versions(spark, f"{root}/snapshot"):
        if v >= forget_v:
            snap_v = sinks.read_snapshot(spark, f"{root}/snapshot", version=v)
            assert snap_v.filter(F.col("cid").isin(victims)).count() == 0, (
                f"v={v} serves erased rows"
            )
    # closing compact converges with zero debris
    pub = compact_ann_index(
        spark, f"{root}/batches", f"{root}/snapshot",
        models_root=root, versioned_label_lists=True,
    )
    snap = sinks.read_snapshot(spark, f"{root}/snapshot", version=pub)
    assert snap.count() == n_base + 2000 - len(victims)
    assert snap.filter(F.col("cid").isin(victims)).count() == 0
    debris = [
        d for d in os.listdir(root)
        if d.startswith(("batches.stage.", "batches.old."))
    ]
    assert debris == [], debris


def test_race_three_way_append_forget_rebalance(tmp_path, monkeypatch, spark):
    """r16 (18th matrix mode, an r16 SURVEY lever taken early): a live
    appender + a GDPR forget + an automated rebalance, three real
    processes on one shared skewed root.  The appender never waits on
    the lease, so its batches land at ANY instant — including inside
    the rebalance's doomed old dir and around the forget's tombstone
    append; the forget and rebalance serialize on the lease in either
    order.  Pins under real interleaving: all 200 appended rows
    survive (name-diff + cid-diff salvage), the three erased base ids
    appear in NO published version at-or-after the forget's and not in
    the converged view, models pair with the served rows, and a
    closing compact converges with zero debris."""
    import tempfile

    from pyspark.sql import functions as F

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.operators import similarity as S
    from msgraphdatapipelines_spark.queries.similarity import (
        ensure_standing_index,
        standing_index_root,
    )
    from msgraphdatapipelines_spark.streaming.ann_stream import (
        compact_ann_index,
        read_ann_index,
        resolve_batches_models,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(
        "/root/testdata/sf0.001/embeddings.parquet", str(sf / "embeddings.parquet")
    )
    artdir = tmp_path / "artifacts"
    artdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    _, cents1, books1 = ensure_standing_index(spark, str(sf), emb)
    root = standing_index_root(str(sf))
    import random

    rng = random.Random(23)
    p = [0.5 if i % 2 == 0 else -0.5 for i in range(64)]
    rows = []
    for j in range(10):
        base = [p[d] + 0.01 * rng.uniform(-1, 1) for d in range(64)]
        for i in range(200):
            rows.append(
                (100000 + j * 200 + i,
                 [base[d] + 1e-4 * rng.uniform(-1, 1) for d in range(64)], 999)
            )
    drift = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: long"
    )
    drift.write.parquet(f"{sf}/drift.parquet")
    S.ivf_pq_index(
        drift.withColumn("label", drift["label"].cast(emb.schema["label"].dataType)),
        "vec_id", "embedding", cents1, books1, dim=64, meta_cols=("label",)
    ).write.parquet(f"{root}/batches/batch_id=1")
    monkeypatch.setattr(tempfile, "tempdir", None)

    barrier = tmp_path / "barrier"
    barrier.mkdir()
    env = dict(os.environ, TMPDIR=str(artdir))
    procs = [
        subprocess.Popen(
            [sys.executable, CHILD, "tri_race", str(sf), str(barrier), str(i)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env, cwd=str(REPO),
        )
        for i in (0, 1, 2)
    ]
    outs = []
    for p_ in procs:
        so, se = p_.communicate(timeout=420)
        assert p_.returncode == 0, se.decode(errors="replace")[-3000:]
        lines = [l for l in so.decode().splitlines() if l.startswith("RESULT")]
        assert lines, so.decode()[-2000:]
        outs.append(lines[-1])
    assert any("appended 5" in o for o in outs), outs
    assert any("forgot" in o for o in outs), outs
    assert any("rebalanced True" in o for o in outs), outs

    monkeypatch.setattr(tempfile, "tempdir", str(artdir))
    victims = [7, 103, 100005]
    n_base = emb.count()
    view = read_ann_index(spark, f"{root}/batches")
    assert view.filter(F.col("cid").isin(victims)).count() == 0, (
        "erased rows resurrected into the converged view"
    )
    got_app = view.filter(F.col("cid") >= 920000)
    assert got_app.count() == 200, "concurrent appends were destroyed"
    assert view.count() == n_base + 2000 + 200 - len(victims)
    models = resolve_batches_models(spark, root)
    valid = {int(c) for c, _ in models["centroids"]}
    assert {
        r["cent"] for r in view.select("cent").distinct().collect()
    } <= valid
    forget_v = int(next(o for o in outs if "forgot" in o).split()[-1])
    for v in sinks.snapshot_versions(spark, f"{root}/snapshot"):
        if v >= forget_v:
            snap_v = sinks.read_snapshot(spark, f"{root}/snapshot", version=v)
            assert snap_v.filter(F.col("cid").isin(victims)).count() == 0, (
                f"v={v} serves erased rows"
            )
    pub = compact_ann_index(
        spark, f"{root}/batches", f"{root}/snapshot",
        models_root=root, versioned_label_lists=True,
    )
    snap = sinks.read_snapshot(spark, f"{root}/snapshot", version=pub)
    assert snap.count() == n_base + 2000 + 200 - len(victims)
    assert snap.filter(F.col("cid") >= 920000).count() == 200
    debris = [
        d for d in os.listdir(root)
        if d.startswith(("batches.stage.", "batches.old."))
    ]
    assert debris == [], debris
