"""The standing ANN index's batch layer — grow-only IVF+PQ index
partitions and their compaction into a snapshot-versioned table.

The standing index (``queries.similarity.ensure_standing_index``) writes
its encoded rows as ``{root}/batches/batch_id=N/`` partitions under the
frozen models in ``{root}/models.json``; erasure
(``queries.similarity.ann_index_forget``) appends ``cent = -1``
tombstone batches.  ``read_ann_index`` resolves the batches to their
current view (last write wins per ``cid``, tombstones drop the entry)
and ``compact_ann_index`` publishes that view with
``sinks.write_snapshot`` behind the atomic pointer flip, so serving
probes a plain snapshot with no ranking window at query time.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..genstore import commit_file, read_file


def resolve_batches_models(spark: SparkSession, root: str) -> dict:
    """The models the ``{root}/batches`` rows are encoded under: the
    standing build's ``models.json`` (erasure and compaction carry the
    quantizer forward unchanged)."""
    import json

    from .. import sinks

    fs, hp = sinks._fs_for(spark, root)
    raw = read_file(fs, hp, f"{root}/models.json")
    if raw is None:
        raise FileNotFoundError(f"no models.json under {root}")
    return json.loads(raw)


def read_ann_index(spark: SparkSession, index_dir: str):
    """Resolve the batch-partitioned ANN index to its CURRENT view:
    last-write-wins per ``cid`` (an updated doc re-indexed in a later
    batch supersedes its old encoding) with ``cent = -1`` tombstone rows
    (written by ``ann_index_forget`` for erased docs) dropping
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
    window at query time — while new batch partitions keep landing
    (compact again at the next window).  Returns the published version.

    ``label_lists_path`` (r12): when the index carries a metadata payload
    for FILTERED serving, the model-sized (label, cent) probe-steering
    summary must track the compacted view — a stale summary would steer
    a label's queries away from lists its NEW documents landed in
    (silent recall loss, the staleness twin of the post-filtering trap).
    The refresh publishes via staged write + rename BEFORE the snapshot
    pointer flips, so a reader never resolves a newer snapshot with an
    older summary.

    Clustering (late r12): the compacted view is range-repartitioned
    and sorted by the coarse list id ``cent`` and published WITH a zone-map
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
    this compact actually publishes: with ``models_root`` set, the
    compact reads the models its input rows are encoded under
    (``{models_root}/models.json``), predicts the publish version as
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
    models = None if models_root is None else resolve_batches_models(spark, models_root)
    new_v = (sinks.snapshot_versions(spark, snapshot_root) or [0])[-1] + 1
    if versioned_label_lists:
        if models_root is None:
            raise ValueError("versioned_label_lists requires models_root")
        label_lists_path = f"{models_root}/label_lists.v{new_v}"

    view = read_ann_index(spark, index_dir)
    wrote_labels = False
    if label_lists_path is not None and "label" in view.columns:
        stage = f"{label_lists_path}.stage.{uuid.uuid4().hex[:8]}"
        view.groupBy("label", "cent").agg(F.count("*").alias("n")).write.parquet(
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
    if "cent" in view.columns:
        view = (
            view.repartitionByRange(cluster_files, F.col("cent"))
            if cluster_files
            else view.repartitionByRange(F.col("cent"))
        ).sortWithinPartitions("cent")
        pub_v = sinks.write_snapshot(view, snapshot_root, zonemap_cols=["cent"])
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

