"""Continuous ANN index maintenance — incremental IVF+PQ appends driven by
an embedding stream (late-r7).

The batch operator (``operators.similarity.ivf_incremental_append``)
encodes a new vector batch under FIXED trained models and appends it to
the persisted ``(cid, cent, code)`` index; this module runs that flow
continuously: each micro-batch of newly-arrived vectors becomes an
appended index partition — the grow-only index pipeline (vectors arrive
batch by batch, previously-indexed vectors are never re-encoded) as one
long-running stream.

Output layout is ``{index_dir}/batch_id=N/`` (OVERWRITE per batch — a
replayed batch rewrites the same directory with byte-identical rows, so
the stream is idempotent under crash/restart; readers see the whole
index as ``spark.read.parquet(index_dir)``).  Unlike the dedup stream
there is NO mutable state to fold forward — the models are frozen
arguments — so batches are independent and the commit protocol is just
the idempotent per-batch overwrite.  The operational contract is the
batch operator's: monitor per-list counts and retrain + rebuild when
arriving batches drift off the trained distribution.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..genstore import commit_file, read_file
from ..operators import similarity as S


def ann_index_stream(
    spark: SparkSession,
    vectors_dir: str,
    schema: T.StructType,
    index_dir: str,
    checkpoint_dir: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    meta_cols: tuple[str, ...] = (),
) -> StreamingQuery:
    """Start the index-maintenance stream over an embedding file stream.

    ``vectors_dir`` is watched as a parquet file stream
    (``maxFilesPerTrigger=1`` — one arriving file = one batch).  Each
    batch: ``ivf_pq_index`` under the frozen models → index rows to
    ``{index_dir}/batch_id=N/``.  ``meta_cols`` (r12) carries metadata
    payload columns (e.g. the filtered-serve label) into the appended
    rows, matching a base index built with the same payload.
    """

    def append(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rows = S.ivf_pq_index(
            batch_df, id_col, vec_col, centroids, codebooks, dim=dim,
            meta_cols=meta_cols,
        )
        rows.write.mode("overwrite").parquet(f"{index_dir}/batch_id={batch_id}")

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vectors_dir)
        .writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(append)
        .start()
    )


def init_ann_stream_root(
    spark: SparkSession,
    root: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
) -> None:
    """Bootstrap a STREAM-OWNED standing index root (r13): persist the
    initial trained models as ``models.json`` (atomic tmp + rename,
    exists-wins — a replayed bootstrap no-ops) so the stream reloads
    them per round instead of carrying frozen literals, and a later
    automated rebalance can republish ``models.v{N}.json`` behind the
    snapshot pointer without the stream ever holding stale models."""
    import json

    from .. import sinks

    fs, hp = sinks._fs_for(spark, root)
    final = f"{root}/models.json"
    if not fs.exists(hp(final)):
        models = {"centroids": centroids, "codebooks": codebooks}
        commit_file(fs, hp, final, json.dumps(models).encode("ascii"))


def write_batches_models(spark: SparkSession, batches_dir: str, models: dict) -> None:
    """Stamp a batches directory with the models its rows are encoded
    under (r14, ADVICE: the mixed-quantizer fix).  ``_MODELS`` is an
    underscore file, so Spark's parquet reader ignores it; writers stamp
    a STAGED generation before it becomes ``batches``, making the dir
    self-describing — an appender can always encode consistently with
    the rows already there, no matter which commit-window instant it
    observes."""
    import json

    from .. import sinks

    fs, hp = sinks._fs_for(spark, batches_dir)
    commit_file(fs, hp, f"{batches_dir}/_MODELS", json.dumps(models).encode(), replace=True)


def resolve_batches_models(spark: SparkSession, root: str) -> dict:
    """The models the CURRENT ``{root}/batches`` rows are encoded under:
    the dir's own ``_MODELS`` stamp when present (any generation a
    rebalance published), else the bootstrap ``models.json`` (a batches
    dir without a stamp is bootstrap-encoded by construction).

    This is the APPEND-side resolution and it deliberately ignores the
    snapshot pointer (r14, ADVICE: keying appends off the
    snapshot version let a crash between the rebalance's snapshot flip
    and its batches swap pair NEW models with the OLD batches dir —
    appends then mixed two quantizers in one directory, which the next
    compact published as a silently-wrong index).  Keyed off the dir
    itself, every append is consistent with its dir in EVERY crash
    window; the worst a mid-commit crash can do is lose the retrain
    (the occupancy monitor re-triggers it), never correctness."""
    import json

    from .. import sinks

    fs, hp = sinks._fs_for(spark, root)
    raw = read_file(fs, hp, f"{root}/batches/_MODELS")
    if raw is None:
        raw = read_file(fs, hp, f"{root}/models.json")
    if raw is None:
        raise FileNotFoundError(f"no _MODELS stamp or models.json under {root}")
    return json.loads(raw)


def recover_batches(spark: SparkSession, root: str) -> bool:
    """Repair the missing-batches crash window (r14, ADVICE): the
    rebalance swaps ``batches`` via rename-aside + rename-in AFTER its
    snapshot commit; a crash between the two renames leaves no
    ``batches`` dir at all.  Because the swap only runs post-commit, the
    staged dir IS the committed state — recovery renames the newest
    ``batches.stage.*`` into place.  No-op when ``batches`` is intact or
    no stage is present.  Safe to call unleased: a racing recovery's
    rename fails and the existence re-check sees the winner's result.

    COPY-RENAME stores (r16, r15 VERDICT item 5): on S3-style stores a
    dir "rename" is a file-by-file copy + source delete, so a crash can
    ALSO leave ``batches`` present but TORN (partial copy of the stage)
    or both complete (crash between copy and delete).  The rebalance
    marks the swap's start by writing ``_SWAP_MANIFEST`` (the stage's
    sorted relative file list) into the stage immediately before the
    first rename; a stage carrying it proves the commit happened and
    names exactly the files the new generation must hold.  Recovery
    with such a stage present: if ``batches`` holds every manifest file
    the swap already completed (the stage copy is debris — delete it);
    otherwise ``batches`` is a torn copy or the not-yet-replaced OLD
    generation — move it aside as ``batches.old.*`` debris and bring
    the stage in.  A stage WITHOUT the sentinel is pre-commit debris
    and is never auto-swapped.  CAVEAT (documented refusal): appends
    running concurrently with a swap that crashes on a copy-rename
    store can land in the aside-moved dir and be swept, not salvaged —
    run single-writer rebalances on copy-rename stores."""
    import json

    from .. import sinks

    fs, hpath = sinks._fs_for(spark, root)
    dst = hpath(f"{root}/batches")
    if not fs.exists(hpath(root)):
        return False
    stages = [
        st
        for st in fs.listStatus(hpath(root))
        if st.isDirectory() and st.getPath().getName().startswith("batches.stage.")
    ]
    if not stages:
        return False
    newest = max(stages, key=lambda st: st.getModificationTime())
    if fs.exists(dst):
        raw = read_file(fs, hpath, f"{newest.getPath().toString()}/_SWAP_MANIFEST")
        if raw is None:
            return False  # pre-commit stage debris beside intact batches
        manifest = json.loads(raw)["files"]
        have = set(sinks._rel_files(fs, hpath, f"{root}/batches", tolerant=True))
        if all(f in have for f in manifest):
            # swap completed; the surviving stage copy is debris
            fs.delete(newest.getPath(), True)
            return False
        # torn copy (or old generation with the swap committed): move
        # aside as debris the next rebalance sweeps, complete the swap
        import uuid as _uuid

        aside = hpath(f"{root}/batches.old.{_uuid.uuid4().hex[:8]}")
        if not fs.rename(dst, aside) and fs.exists(dst):
            raise OSError(f"could not move torn {root}/batches aside")
    if not fs.rename(newest.getPath(), dst) and not fs.exists(dst):
        raise OSError(f"could not recover {root}/batches from {newest.getPath()}")
    return True


def current_ann_models(spark: SparkSession, root: str):
    """(version, centroids, codebooks) — ``version`` is the root's
    current snapshot version (0 = none published yet); the models are
    the ones the CURRENT batches dir is encoded under
    (:func:`resolve_batches_models` — the dir's ``_MODELS`` stamp, else
    the bootstrap ``models.json``).  The per-round reload point for
    streams composing with the automated rebalance: after a retrain
    publishes a stamped batches generation, the next round encodes under
    the new quantizer automatically — and in the rebalance's
    crash windows the stamp keeps appends consistent with the dir they
    land in (r14; see :func:`resolve_batches_models`)."""
    from .. import sinks

    recover_batches(spark, root)
    snap = f"{root}/snapshot"
    version = (
        sinks._read_latest_version(spark, snap)
        if sinks.snapshot_exists(spark, snap)
        else 0
    )
    models = resolve_batches_models(spark, root)
    cents = [(int(c), v) for c, v in models["centroids"]]
    return version, cents, models["codebooks"]


def read_ann_index(spark: SparkSession, index_dir: str):
    """Resolve the batch-partitioned ANN index to its CURRENT view:
    last-write-wins per ``cid`` (an updated doc re-indexed in a later
    batch supersedes its old encoding) with ``cent = -1`` tombstone rows
    (written by the curation-composed stream for deleted docs) dropping
    the entry — grow-only batch appends, mutable-table semantics at read
    time.  One (cid)-keyed ranking window over the index rows; at scale
    the index is orders of magnitude smaller than the corpus (m bytes +
    a list id per vector), and a compaction pass can materialize this
    view back to a single partition whenever the batch count grows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.option("basePath", index_dir).parquet(index_dir)
    w = Window.partitionBy("cid").orderBy(F.desc("batch_id"))
    # r12: keep any metadata payload columns (ivf_pq_index meta_cols —
    # e.g. the filtered-serve label) alongside the core (cid, cent, code)
    keep = [c for c in df.columns if c not in ("batch_id", "__rn")]
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("cent") >= 0))
        .select(*keep)
    )


def compact_ann_index(
    spark: SparkSession,
    index_dir: str,
    snapshot_root: str,
    label_lists_path: str | None = None,
    label_col: str = "label",
    cluster_col: str | None = "cent",
    cluster_files: int | None = None,
    models_root: str | None = None,
    versioned_label_lists: bool = False,
) -> int:
    """Materialize the batch-partitioned index's CURRENT view into a
    snapshot-versioned table (r8): the maintenance pass that keeps probe
    plans cheap once grow-only ``batch_id=N`` appends accumulate —
    ``read_ann_index``'s last-write-wins + tombstone resolution runs ONCE
    and publishes via ``sinks.write_snapshot`` (new ``v=N`` + atomic
    ``_LATEST`` flip; crash-safe, old versions time-travelable,
    ``vacuum_snapshots`` collects expired ones).  Readers then probe
    ``sinks.read_snapshot(spark, snapshot_root)`` directly — no ranking
    window at query time — while the streaming appender keeps writing new
    batch partitions (compact again at the next window).  Returns the
    published version.

    ``label_lists_path`` (r12): when the index carries a metadata payload
    for FILTERED serving, the model-sized (label, cent) probe-steering
    summary must track the compacted view — a stale summary would steer
    a label's queries away from lists its NEW documents landed in
    (silent recall loss, the staleness twin of the post-filtering trap).
    The refresh publishes via staged write + rename BEFORE the snapshot
    pointer flips, so a reader never resolves a newer snapshot with an
    older summary.

    ``cluster_col`` (late r12): the compacted view is range-repartitioned
    and sorted by the coarse list id and published WITH a zone-map
    manifest (``write_snapshot(zonemap_cols=…)``), so each file covers a
    narrow contiguous slice of lists — the contiguous-inverted-list
    layout every production ANN store keeps, here expressed as plain
    clustered parquet + the existing manifest layer.  A probe can then
    push its list set into the scan (``sinks.read_snapshot_pruned_in``)
    and open only the files holding probed lists, instead of scanning the
    whole artifact for the broadcast join to drop ~(1 − nprobe/k) of it.
    Compaction pays ONE extra shuffle for this (the maintenance window is
    where clustering always gets paid — same trade as compact_snapshot's
    Z-order); ``cluster_files=None`` lets the range partitioner size the
    output from ``spark.sql.shuffle.partitions``, a standing index sizes
    it ∝ n_centroids so a file holds a handful of lists.  ``None``
    disables clustering (identical to the pre-r12 layout).

    ``models_root`` / ``versioned_label_lists`` (r14, ADVICE: the
    orphan-version mispairing fix): callers used to precompute
    ``models.v{_LATEST + 1}.json`` / ``label_lists.v{_LATEST + 1}``
    themselves — but ``write_snapshot`` publishes ``max(v= dirs) + 1``,
    and orphan ``v=`` dirs (crash debris) make those differ: the models
    land at a version that is never published, readers of the ACTUAL
    version fall back to the bootstrap quantizer, and results are
    silently wrong.  The pairing now lives HERE, keyed to the version
    this compact actually publishes: with ``models_root`` set (or the
    index dir carrying a ``_MODELS`` stamp, which auto-derives
    ``models_root`` from the snapshot root's parent), the compact
    resolves the models its input rows are encoded under (the stamp,
    else ``{models_root}/models.json``), predicts the publish version as
    ``max(snapshot_versions) + 1`` (exact under the caller's compaction
    lease — snapshot publishers all hold it), writes
    ``models.v{V}.json`` — and, with ``versioned_label_lists``,
    ``label_lists.v{V}`` — BEFORE the ``_LATEST`` flip, then verifies
    the published version and re-keys defensively on mismatch."""
    import json
    import uuid

    from pyspark.sql import functions as F

    from .. import sinks

    fs, hpath = sinks._fs_for(spark, snapshot_root)
    raw = read_file(fs, hpath, f"{index_dir}/_MODELS")
    if models_root is None and raw is not None:
        models_root = snapshot_root.rstrip("/").rsplit("/", 1)[0]
    if models_root is not None and raw is None:
        raw = read_file(fs, hpath, f"{models_root}/models.json")
        if raw is None:
            raise FileNotFoundError(f"no _MODELS stamp or models.json under {models_root}")
    models = None if models_root is None else json.loads(raw)
    new_v = (sinks.snapshot_versions(spark, snapshot_root) or [0])[-1] + 1
    if versioned_label_lists:
        if models_root is None:
            raise ValueError("versioned_label_lists requires models_root")
        label_lists_path = f"{models_root}/label_lists.v{new_v}"

    view = read_ann_index(spark, index_dir)
    wrote_labels = False
    if label_lists_path is not None and label_col in view.columns:
        stage = f"{label_lists_path}.stage.{uuid.uuid4().hex[:8]}"
        view.groupBy(label_col, "cent").agg(F.count("*").alias("n")).write.parquet(
            stage
        )
        old = f"{label_lists_path}.old.{uuid.uuid4().hex[:8]}"
        if fs.exists(hpath(label_lists_path)):
            fs.rename(hpath(label_lists_path), hpath(old))
        fs.rename(hpath(stage), hpath(label_lists_path))
        fs.delete(hpath(old), True)
        wrote_labels = True
    if models is not None:
        models_b = json.dumps(models).encode()
        commit_file(fs, hpath, f"{models_root}/models.v{new_v}.json", models_b, replace=True)
    if cluster_col is not None and cluster_col in view.columns:
        view = (
            view.repartitionByRange(cluster_files, F.col(cluster_col))
            if cluster_files
            else view.repartitionByRange(F.col(cluster_col))
        ).sortWithinPartitions(cluster_col)
        pub_v = sinks.write_snapshot(view, snapshot_root, zonemap_cols=[cluster_col])
    else:
        pub_v = sinks.write_snapshot(view, snapshot_root)
    if pub_v != new_v:
        # unreachable under the lease; belt-and-braces against a racing
        # publisher outside it — re-key the paired files to the version
        # that actually went live
        if models is not None:
            commit_file(
                fs, hpath, f"{models_root}/models.v{pub_v}.json", models_b, replace=True
            )
        if versioned_label_lists and wrote_labels:
            dst = f"{models_root}/label_lists.v{pub_v}"
            fs.delete(hpath(dst), True)
            fs.rename(hpath(label_lists_path), hpath(dst))
    return pub_v


def cm_rollup_stream(
    spark: SparkSession,
    rows_dir: str,
    schema: T.StructType,
    rollup_dir: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
):
    """Continuous count-min rollup (r8): each arriving file batch of
    keyed rows appends ONE CM cell table to ``{rollup_dir}/batch_id=N``
    (idempotent per-batch overwrite — the ann_index_stream commit shape);
    any range's frequency estimates come from ``merge_cm_sketches`` over
    that range's batch partitions + ``cm_estimate`` — the CM counterpart
    of the HLL rollup the curation stream writes, with the same
    union-of-sketches ≡ sketch-of-union exactness (integer cell adds)."""
    from ..operators.sketches import build_cm_sketch

    def append(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_cm_sketch(batch_df, [], key_col, depth=depth).write.mode(
            "overwrite"
        ).parquet(f"{rollup_dir}/batch_id={batch_id}")

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rows_dir)
        .writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(append)
        .start()
    )
