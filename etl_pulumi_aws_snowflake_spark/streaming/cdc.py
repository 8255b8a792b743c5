"""Streaming CDC apply: MERGE each arriving change batch into a
Parquet snapshot — the continuous version of
``operators/warehouse.merge_upsert`` (the reference's Snowpipe
auto-ingest + MERGE maintenance loop, as one Structured Streaming
program).

Exactly-once: the file source + checkpoint guarantee each change file
feeds exactly one ``foreachBatch`` call across restarts; the merge
inside the batch is a deterministic function of (snapshot, batch), so a
replayed batch after a crash-before-checkpoint rewrites the same
snapshot (idempotent overwrite, the classic foreachBatch contract).

Each merge publishes a NEW immutable version dir and atomically swaps
the ``_CURRENT`` pointer (``streaming/snapshot.py``): the merge never
writes over the files it is reading (no lineage hazard, no
``localCheckpoint`` needed), and a reader concurrent with the rewrite
sees entirely-old or entirely-new rows, never a torn table — the
transactional MERGE behavior the reference gets from Snowflake
(reference ``modules/snowflake.py:158-167``), owned engine-side here.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..operators.warehouse import merge_upsert, merge_upsert_pruned
from .file_pipeline import stream_files
from .snapshot import DEFAULT_FS, _current_version, snapshot_commit, snapshot_read


def stream_cdc_merge(
    spark: SparkSession,
    changes_dir: str,
    change_schema: T.StructType,
    snapshot_path: str,
    key: list[str],
    checkpoint: str,
    delete_col: str | None = None,
    partition_col: str | None = None,
    await_termination: bool = True,
    fs=None,
    max_files_per_trigger: int | None = None,
    allow_new_columns: bool = False,
):
    """Watch ``changes_dir`` for JSON change files; MERGE each batch
    into the Parquet snapshot at ``snapshot_path``.  Returns the
    StreamingQuery.

    With ``partition_col`` the per-batch rewrite is partition-pruned
    (``merge_upsert_pruned``): only partitions named by the batch are
    rewritten, the rest ride along as manifest references — O(changed
    partitions) per batch instead of O(table).  Requires the pruned
    merge's stable-partition-column contract.

    ``fs`` is the snapshot protocol's filesystem seam
    (``streaming/snapshot.LocalFilesystem`` by default — pass a
    Hadoop/S3-backed implementation on a cluster).

    ``max_files_per_trigger`` caps how many change files feed one MERGE
    batch (Spark's ``maxFilesPerTrigger``) — bound it when a backlog
    replay would otherwise merge an unbounded file pile in one batch
    (one giant rewrite, no incremental checkpoints); leave ``None`` for
    the default process-what-landed batch.

    ``allow_new_columns`` forwards additive schema evolution to the
    per-batch MERGE (``merge_upsert``): a feed that grows a column
    widens the snapshot schema; pre-evolution data null-fills on read.
    Note the STREAM's ``change_schema`` is fixed at start — evolution
    applies when the declared change schema is wider than the current
    snapshot, not to files wider than ``change_schema``."""
    def apply_batch(batch_df, _epoch_id: int) -> None:
        if partition_col is not None:
            merge_upsert_pruned(
                spark,
                snapshot_path,
                batch_df,
                key=key,
                partition_col=partition_col,
                delete_col=delete_col,
                fs=fs,
                allow_new_columns=allow_new_columns,
            )
            return
        # Read and commit against the same observed version so an
        # accidental concurrent writer is a loud SnapshotConflictError,
        # not a lost update (snapshot.py module docstring).
        live = _current_version(snapshot_path, fs or DEFAULT_FS)
        target = snapshot_read(spark, snapshot_path, fs=fs, version=live)
        merged = merge_upsert(
            target,
            batch_df,
            key=key,
            delete_col=delete_col,
            allow_new_columns=allow_new_columns,
        )
        snapshot_commit(merged, snapshot_path, fs=fs, expected_current=live)

    return stream_files(
        spark, changes_dir, change_schema, "json", checkpoint, apply_batch,
        await_termination, max_files_per_trigger,
    )
