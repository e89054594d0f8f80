"""Child process for the ``-m race`` lane (r13, r12 VERDICT item 5).

The in-process two-builder tests (threads sharing one SparkSession)
exercise the publish protocols' logic, but the parallel runner's TMPDIR
isolation means no test ever raced two REAL processes on a SHARED
artifact root — the deployment shape where crash/race protocols earn
their keep.  This script is one such process: it synchronizes with a
sibling through a file barrier (so the builds genuinely overlap), builds
the artifact for ``mode`` on the shared corpus, and prints one
``RESULT <fingerprint>`` line the parent compares across processes.

Usage: python tests/race_child.py <mode> <shared_sf_dir> <barrier_dir> <proc_id>
Modes: ann (ensure_standing_index), prefix (ensure_prefix_gram_index),
cache (cache.serve_cached).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time


def main() -> None:
    mode, shared, barrier, pid = sys.argv[1:5]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName(f"race-{mode}-{pid}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # barrier: announce readiness AFTER session startup (the slow part),
    # then spin until the sibling is ready too — maximal build overlap
    with open(os.path.join(barrier, f"ready-{pid}"), "w", encoding="utf-8") as f:
        f.write("1")
    deadline = time.time() + 180
    while sum(1 for f in os.listdir(barrier) if f.startswith("ready-")) < 2:
        if time.time() > deadline:
            raise SystemExit("barrier timeout")
        time.sleep(0.02)

    if mode == "ann":
        from msgraphdatapipelines_spark.queries.similarity import (
            ensure_standing_index,
        )

        ix, cents, books = ensure_standing_index(spark, shared)
        rows = sorted((r["cid"], r["cent"], tuple(r["code"])) for r in ix.collect())
        fp = hashlib.md5(str((rows, cents, books)).encode()).hexdigest()
        print("RESULT", len(rows), fp)
    elif mode == "prefix":
        from msgraphdatapipelines_spark.queries.dedup import (
            ensure_prefix_gram_index,
            read_prefix_index,
        )

        root = ensure_prefix_gram_index(spark, shared)
        sets, prefixes = read_prefix_index(spark, root)
        s = sorted((r["doc_id"], tuple(sorted(r["__garr"]))) for r in sets.collect())
        p = prefixes.count()
        print("RESULT", len(s), p, hashlib.md5(str(s).encode()).hexdigest())
    elif mode == "lex":
        from msgraphdatapipelines_spark.queries.text import (
            ensure_standing_lexicon,
        )

        postings, dl, dfreq, meta = ensure_standing_lexicon(spark, shared)
        p = sorted(tuple(r) for r in postings.collect())
        fp = hashlib.md5(str((p, meta)).encode()).hexdigest()
        print("RESULT", meta["n_docs"], meta["sum_dl"], fp)
    elif mode == "snapshot":
        # r14 (r13 VERDICT item 4): two publishers write_snapshot the
        # SAME content onto one shared root — the claim-rename loop must
        # give each a distinct COMPLETE version and the monotonic flip a
        # valid pointer; both then serve identical content
        import os as _os
        import tempfile

        from msgraphdatapipelines_spark import sinks

        root = _os.path.join(tempfile.gettempdir(), "race_snapshot_root")
        df = (
            spark.read.parquet(f"{shared}/orders.parquet")
            .groupBy("o_orderstatus")
            .count()
        )
        v = sinks.write_snapshot(df, root)
        served = sinks.read_snapshot(spark, root)
        rows = sorted(tuple(r) for r in served.collect())
        print("RESULT", len(rows), hashlib.md5(str(rows).encode()).hexdigest())
        print("VERSION", v)
    elif mode == "compact_vs_publish":
        # r15: compact_snapshot now publishes through the same
        # claim-rename protocol as write_snapshot — a compaction racing
        # a publisher must serialize onto distinct complete versions
        # instead of clobbering (the old direct-to-v=N compact could
        # overwrite a racer's committed dir).  pid 0 publishes fresh
        # content three times; pid 1 compacts whatever version is
        # current.  Both must succeed; the parent asserts every
        # committed version is complete and the pointer serves.
        import os as _os
        import tempfile

        from msgraphdatapipelines_spark import sinks

        root = _os.path.join(tempfile.gettempdir(), "race_cvp_root")
        df = (
            spark.read.parquet(f"{shared}/orders.parquet")
            .groupBy("o_orderstatus")
            .count()
        )
        if pid == "0":
            vs = [sinks.write_snapshot(df, root) for _ in range(3)]
            print("RESULT published", *vs)
        else:
            outs = []
            for _ in range(2):
                outs.append(sinks.compact_snapshot(spark, root)["version"])
                time.sleep(0.2)
            print("RESULT compacted", *outs)
    elif mode == "erasure":
        # r14: GDPR erasure racing a live append on one shared standing
        # index — the 100 TB deployment shape (continuous ingest never
        # pauses for an erasure).  pid 0 appends a fresh batch; pid 1
        # forgets doc 7 (durable manifest + lease-serialized compact).
        # Both must succeed in EITHER interleaving; the parent asserts
        # the converged final state.
        from pyspark.sql import functions as F

        from msgraphdatapipelines_spark.queries import dedup as QD
        from msgraphdatapipelines_spark.queries import load

        root = QD.prefix_index_root(shared, 3, 0.5, variant="erasure")
        docs = load(spark, shared, "documents")
        if pid == "0":
            QD.prefix_index_append(
                spark, root, docs.filter(F.col("doc_id") >= 150), bid="race"
            )
            print("RESULT appended")
        else:
            out = QD.prefix_index_forget(spark, root, [7])
            print("RESULT forgot", out["forgotten"])
    elif mode == "ann_erasure":
        # r15 (r14 VERDICT item 2): GDPR erasure racing a live append on
        # the shared STANDING IVF+PQ index — the moving-parts-heavy
        # member of the erasure family (models carry-forward across
        # erasure versions + compact interplay).  pid 0 appends a fresh
        # batch encoded under the dir's own models; pid 1 forgets doc 7.  Both must
        # succeed in EITHER interleaving; the parent asserts convergence.
        from msgraphdatapipelines_spark.operators import similarity as S
        from msgraphdatapipelines_spark.queries.similarity import (
            ann_index_forget,
            standing_index_root,
        )
        from msgraphdatapipelines_spark.streaming.ann_stream import (
            resolve_batches_models,
        )

        root = standing_index_root(shared)
        if pid == "0":
            models = resolve_batches_models(spark, root)
            cents = [(int(c), v) for c, v in models["centroids"]]
            books = models["codebooks"]
            late = spark.createDataFrame(
                [
                    (
                        900000 + i,
                        [float((i * 7 + j) % 13) / 13.0 for j in range(64)],
                        3,
                    )
                    for i in range(40)
                ],
                "vec_id long, embedding array<double>, label long",
            )
            # append rows must match the dir's column types exactly (a
            # real appender derives its frame from the same corpus)
            base = spark.read.option("recursiveFileLookup", "true").parquet(
                f"{root}/batches"
            )
            late = late.withColumn(
                "label", late["label"].cast(base.schema["label"].dataType)
            )
            S.ivf_pq_index(
                late, "vec_id", "embedding", cents, books, dim=64,
                meta_cols=("label",),
            ).write.mode("overwrite").parquet(f"{root}/batches/batch_id=900")
            print("RESULT appended")
        else:
            v = None
            for attempt in range(120):
                try:
                    v = ann_index_forget(spark, root, [7])
                    break
                except RuntimeError as e:
                    if "compact already in progress" not in str(e):
                        raise
                    time.sleep(0.5)
            if v is None:
                raise SystemExit("forget never acquired the lease")
            print("RESULT forgot", v)
    elif mode == "lex_erasure":
        # r15 (r14 VERDICT item 2): lexicon_forget vs lexicon_append_batch
        # + compact on the shared standing lexicon — completes the
        # erasure-vs-append family.  Compacts contend on the genstore
        # lease; both sides retry it out (a forget that didn't commit
        # must be retried, the module contract).
        from msgraphdatapipelines_spark.queries import load
        from msgraphdatapipelines_spark.queries.text import (
            lexicon_append_batch,
            lexicon_compact,
            lexicon_forget,
            lexicon_root,
        )
        from pyspark.sql import functions as F

        root = lexicon_root(shared)
        docs = load(spark, shared, "documents")
        if pid == "0":
            lexicon_append_batch(
                spark, root, docs.filter(F.col("doc_id") >= 150), bid=1
            )
            meta = None
            for attempt in range(120):
                try:
                    meta = lexicon_compact(spark, root)
                    break
                except RuntimeError as e:
                    if "compact already in progress" not in str(e):
                        raise
                    time.sleep(0.5)
            if meta is None:
                raise SystemExit("append's compact never acquired the lease")
            print("RESULT appended", meta["n_batches"])
        else:
            meta = None
            for attempt in range(120):
                try:
                    meta = lexicon_forget(spark, root, [7])
                    break
                except RuntimeError as e:
                    if "compact already in progress" not in str(e):
                        raise
                    time.sleep(0.5)
            if meta is None:
                raise SystemExit("forget never acquired the lease")
            print("RESULT forgot", meta["forgotten"])
    elif mode == "lex_killme":
        # r15 (r14 VERDICT item 5): SIGKILL evidence for the LEXICON's
        # generational commit — stage a compact fully (postings/docstats/
        # termstats/meta/_folded all written), signal the parent, stall
        # until kill -9.  The commit marker never lands, so the old
        # generation must stay live and the orphaned lease go stale at
        # the TTL; the re-run folds pending batches into exactly one new
        # generation.
        from msgraphdatapipelines_spark.queries.text import (
            lexicon_compact,
            lexicon_root,
        )

        root = lexicon_root(shared)

        def stall():
            print("STAGED", flush=True)
            time.sleep(300)

        lexicon_compact(spark, root, _test_hook_before_commit=stall)
        print("RESULT unreachable")
    elif mode == "prefix_killme":
        # r14: SIGKILL evidence for the GENERATIONAL protocol — stage a
        # compact fully, signal the parent, then stall inside the
        # before-commit window until the parent kills -9 this process.
        # The generation marker was never written, so the old generation
        # must stay live; the heartbeat-leased ``_compacting`` file is
        # orphaned and must go stale at the TTL (no unwinding ran).
        from msgraphdatapipelines_spark.queries import dedup as QD

        root = QD.prefix_index_root(shared, 3, 0.5, variant="killme")

        def stall():
            print("STAGED", flush=True)
            time.sleep(300)

        QD.prefix_index_compact(spark, root, _test_hook_before_commit=stall)
        print("RESULT unreachable")
    elif mode == "snapshot_crashloop":
        # r14 (beyond-exception crash evidence): publish in a tight loop
        # until the parent SIGKILLs this process mid-publish — no
        # finally blocks, no atexit, the exact crash a preempted
        # executor host delivers.  The parent then verifies the root
        # still resolves to a COMPLETE version and a fresh publisher
        # continues cleanly.
        import os as _os
        import tempfile

        from msgraphdatapipelines_spark import sinks

        root = _os.path.join(tempfile.gettempdir(), "race_crash_root")
        df = (
            spark.read.parquet(f"{shared}/orders.parquet")
            .groupBy("o_orderstatus")
            .count()
        )
        for _ in range(1000):
            v = sinks.write_snapshot(df, root)
            print(f"PUBLISHED {v}", flush=True)
        print("RESULT unreachable")
    elif mode == "cache":
        from msgraphdatapipelines_spark import cache

        df = (
            spark.read.parquet(f"{shared}/orders.parquet")
            .groupBy("o_orderstatus")
            .count()
        )
        out = cache.serve_cached(spark, df, [f"{shared}/orders.parquet"])
        rows = sorted(tuple(r) for r in out.collect())
        # pin that the serve really reads the cache artifact
        assert any("msgdp_rc_" in f for f in out.inputFiles()), out.inputFiles()
        print("RESULT", rows)
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    spark.stop()


if __name__ == "__main__":
    main()
