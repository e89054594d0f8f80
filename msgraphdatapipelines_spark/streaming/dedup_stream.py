"""The stream dedup round — incremental LSH assignment of one batch of
newly-arrived documents against persisted bucket state.

The batch operator (``operators.dedup.lsh_incremental_assign``) dedups a
new batch against the persisted bucket→representative state;
``lsh_assign_round`` wraps it with the signature step and the state
read, so ``streaming.curation.curation_pipeline_stream`` runs it once per
micro-batch: the corpus grows batch by batch and old documents are never
reprocessed.

The state lives in a snapshot store (``sinks.write_snapshot``): the
caller writes its per-batch outputs first and publishes the folded state
as a new version behind the atomic pointer flip last, so a crash
mid-publish keeps the previous complete state and a replayed batch
reassigns against it.  A state that exists but cannot be read fails the
round loudly; it never restarts clustering from empty state.  The
operator's 100 TB notes (one bucket-keyed join, state O(buckets), no
pairs) apply unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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
