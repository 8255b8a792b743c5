"""Streaming dedup-at-ingest: every arriving document batch is
checked against the persisted LSH index (``operators/dedup.py``
lifecycle), its near-dup pairs land in a results store, and the batch
is appended to the index — the continuous version of
``lsh_index_check`` + ``lsh_index_append``, as one Structured
Streaming program.  This is how a 100 TB corpus actually ingests: the
index absorbs each batch in O(batch) pruned work; nothing ever
re-runs all-pairs dedup.

Determinism under arbitrary batching — the property that makes the
e2e entry hash-judgeable: each batch contributes (a) its docs' pairs
against the index AS OF arrival (which holds the standing corpus plus
every EARLIER batch, because batches append) and (b) its within-batch
pairs.  Emitting every pair in canonical ``(least, greatest)``
orientation makes the ACCUMULATED set exactly "all banding-candidate
pairs with verified Jaccard ≥ t involving at least one streamed doc"
— independent of how the file source slices the stream, because every
such pair is discovered exactly once: a cross-batch pair when its
later member arrives, a within-batch pair in its own batch, and the
two discovery channels are disjoint (the index never contains
batch-mates at check time).

Exactly-once: the file source + checkpoint feed each landing file to
one ``foreachBatch`` call across restarts; the index append is an
idempotent keyed MERGE, and results land per-epoch
(``<results>/epoch=N``, overwritten on replay) rather than blind
append — the standard foreachBatch idempotent-sink pattern.  Replay
has one wrinkle the dedupe below absorbs (ADVICE r10): a crash AFTER
the append but BEFORE the checkpoint commits re-runs the epoch
against an index that already CONTAINS the batch, so every
within-batch pair is rediscovered through the index channel too —
``dropDuplicates`` on the canonical pair key makes the epoch's row
set attempt-invariant (jaccard is computed identically by both
channels, so collapsing on the key loses nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import scoped_release
from ..operators.dedup import (
    _lsh_meta,
    lsh_index_append,
    lsh_index_check,
    minhash_lsh_pairs,
)
from .file_pipeline import stream_files


def lsh_ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_root: str,
    results_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fs=None,
) -> None:
    """One ingest epoch: check ``batch_df`` against the index, land
    its canonical near-dup pairs at ``<results>/epoch=<epoch_id>``,
    append the batch.  Module-level (not a stream closure) so the
    crash-replay contract is directly testable: re-running the SAME
    epoch — even against an index the first attempt already appended
    to — overwrites the epoch directory with the IDENTICAL row set,
    because the pair key is canonicalized and deduplicated across the
    two discovery channels.

    Each call releases its own deferred persists on exit
    (``cache.scoped_release``): a continuous stream never crosses a
    query-registry boundary, so without this the per-batch caches
    registered by ``lsh_index_check``/``minhash_lsh_pairs``/
    ``lsh_index_append`` would accumulate without bound across
    microbatches (ADVICE r10).  By epoch end every one of them has
    been materialized into the results write or the MERGE, so the
    release frees storage only — and it is scoped, so persists other
    code registered stay pooled for the boundary sweep."""
    k, num_hashes, bands, _ = _lsh_meta(batch_df.sparkSession, index_root, fs)
    with scoped_release():
        vs_index = lsh_index_check(
            batch_df, index_root, threshold, text_col, id_col, fs=fs
        ).select(
            F.least("doc_new", "doc_old").alias("doc_a"),
            F.greatest("doc_new", "doc_old").alias("doc_b"),
            "jaccard",
        )
        within = minhash_lsh_pairs(
            batch_df, k, num_hashes, bands, threshold, text_col, id_col
        ).select("doc_a", "doc_b", "jaccard")
        vs_index.unionByName(within).dropDuplicates(
            ["doc_a", "doc_b"]
        ).write.mode("overwrite").parquet(f"{results_dir}/epoch={epoch_id}")
        lsh_index_append(batch_df, index_root, text_col, id_col, fs=fs)


def stream_lsh_ingest(
    spark: SparkSession,
    landing_dir: str,
    doc_schema: T.StructType,
    index_root: str,
    results_dir: str,
    checkpoint: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
    fs=None,
):
    """Watch ``landing_dir`` for parquet document files; per batch:
    check against the index at ``index_root``, write canonical
    (doc_a, doc_b, jaccard) near-dup pairs to
    ``results_dir/epoch=N``, append the batch to the index.  Returns
    the StreamingQuery.

    The within-batch self-check bands with the INDEX's frozen meta
    parameters (k, num_hashes, bands), so stream-found pairs are the
    same candidate family the one-shot ``minhash_lsh_pairs`` finds —
    one banding rule everywhere, never two parameterizations."""

    def ingest_batch(batch_df, epoch_id: int) -> None:
        lsh_ingest_batch(
            batch_df, epoch_id, index_root, results_dir,
            threshold, text_col, id_col, fs=fs,
        )

    return stream_files(
        spark, landing_dir, doc_schema, "parquet", checkpoint, ingest_batch,
        await_termination, max_files_per_trigger,
    )
