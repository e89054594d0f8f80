"""Continuous corpus dedup — incremental LSH assignment driven by a
document stream.

The batch operator (``operators.dedup.lsh_incremental_assign``) dedups a
new batch against the persisted bucket→representative state; this module
runs that flow continuously: each micro-batch of newly-arrived documents
is assigned against the state and the state is folded forward — the
incremental-crawl pipeline (corpus grows batch by batch, old documents
are never reprocessed) as one long-running stream.  ``lsh_assign_round``
is the one dedup round both this stream and
``streaming.curation.curation_pipeline_stream`` run.

Crash safety mirrors ``delta_sync_stream``'s commit ordering: per-batch
assignment output is written to a batch-id-keyed directory (OVERWRITE —
idempotent under replay), and only then is the updated state published
as a new snapshot version behind an atomic pointer flip, so a crash
mid-publish keeps the previous complete state.  A crash before the flip
replays the batch from the same source offset against the same state.
A crash after the flip but before the stream's own commit replays it
against the folded state: ``rep_id`` stays the same (min-fold), and only
``is_new_cluster`` can flip true→false (the curation stream's note).
A state that exists but cannot be read fails the batch loudly; it never
restarts clustering from empty state.  All heavy work is ordinary batch
Spark inside ``foreachBatch`` — the operator's 100 TB notes (one
bucket-keyed join, state O(buckets), no pairs) apply unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .. import sinks
from ..operators import dedup as D


def lsh_assign_round(
    spark: SparkSession,
    docs: DataFrame,
    state_root: str,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    hash_fn: str,
) -> tuple[DataFrame, DataFrame]:
    """One incremental dedup round: word-3gram MinHash signatures of
    ``docs``, assigned by ``lsh_incremental_assign`` against the bucket
    state in the snapshot store at ``state_root`` (none yet: empty
    state).  Returns ``(assignments, updated_state)``; the caller
    publishes the state after its own outputs."""
    sets = docs.select(id_col, D.word_ngrams(text_col, 3).alias("_garr"))
    sigs = D.minhash_signatures(sets, id_col, "_garr", num_hashes=num_hashes, hash_fn=hash_fn)
    # explicit existence probe (r7 ADVICE item 2): a read failure on
    # EXISTING state fails the round instead of silently restarting
    # from empty state
    state = (
        sinks.read_snapshot(spark, state_root)
        if sinks.snapshot_exists(spark, state_root)
        else None
    )
    return D.lsh_incremental_assign(sigs, state, id_col, num_hashes=num_hashes, bands=bands)


def dedup_assign_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: T.StructType,
    state_path: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> StreamingQuery:
    """Start the dedup stream over a document file stream.

    ``docs_dir`` is watched as a parquet file stream
    (``maxFilesPerTrigger=1`` — one arriving file = one batch).  Each
    batch: ``lsh_assign_round`` against the snapshot store at
    ``state_path`` → assignments to ``{out_dir}/batch_id=N/`` → updated
    state published as the store's next version (``keep_last=2``).
    """

    def assign(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        assigns, new_state = lsh_assign_round(
            spark, batch_df, state_path, id_col, text_col, num_hashes, bands, hash_fn
        )
        assigns.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        sinks.write_snapshot(new_state, state_path, keep_last=2)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
        .writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(assign)
        .start()
    )
