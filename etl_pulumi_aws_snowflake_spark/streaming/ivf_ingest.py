"""Streaming index-at-ingest for the IVF ANN index — the third family
(after ``lsh_ingest.py`` and ``bm25_ingest.py``), completing the
pattern: every persisted index the engine serves can now also GROW
continuously from a file-arrival stream, each batch in O(batch) pruned
work against the standing artifact.

This one is the simplest of the three because ``ivf_index_append`` is
already exactly-once by construction: vectors assign against the
FROZEN seed table (deterministic — no stats, no counters), and the
corpus MERGE is keyed on ``vec_id`` — a crash-replayed epoch re-lands
the identical rows into the identical lists, so no epoch stamp or
canonical-pair dedupe is needed.  The final index content is
batch-split-independent for the same reason: id-disjoint batches union
under the keyed MERGE regardless of grouping.

The e2e entry (``stream_ivf_ingest_e2e``) streams the odd half of the
corpus into an index built on the even half and searches the grown
index — which must equal a build-over-everything WITH THE BASE'S
frozen seeds (the FAISS ``add()`` contract), exactly the
``sim_ivf_topk_appended`` oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..cache import scoped_release
from ..operators.similarity import ivf_index_append, ivf_index_append_quantized
from .file_pipeline import stream_files


def ivf_ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_root: str,
    fs=None,
    quantized: bool = False,
    pq: bool = False,
) -> None:
    """One ingest epoch: assign the batch against the frozen seeds and
    MERGE into the routed lists.  ``epoch_id`` is accepted for the
    foreachBatch signature but needs no bookkeeping — the append is
    replay-idempotent by its keys (module docstring).  ``quantized``
    routes the batch through ``ivf_index_append_quantized`` instead —
    the SAME idempotence argument holds for the int8 payload (max-abs
    quantization is a per-vector pure function, the corpus_q MERGE is
    keyed on vec_id) and extends to a rerank-payload index's float
    member (also keyed), so the whole quantized/ADC family grows from
    a stream with zero extra bookkeeping.  ``pq`` routes through
    ``ivf_index_append_pq`` (r13): encoding against the FROZEN
    codebooks is a per-vector pure function exactly like max-abs
    quantization, and the corpus_pq MERGE is keyed on vec_id — so the
    fourth serving tier inherits the same no-bookkeeping idempotence.
    Releases its own deferred persists on exit, same per-microbatch
    discipline as the other two ingest modules."""
    if quantized and pq:
        raise ValueError("ivf_ingest_batch: pick ONE of quantized / pq")
    with scoped_release():
        if pq:
            from ..operators.pq import ivf_index_append_pq

            ivf_index_append_pq(batch_df, index_root, fs=fs)
        elif quantized:
            ivf_index_append_quantized(batch_df, index_root, fs=fs)
        else:
            ivf_index_append(batch_df, index_root, fs=fs)


def stream_ivf_ingest(
    spark: SparkSession,
    landing_dir: str,
    row_schema: T.StructType,
    index_root: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
    fs=None,
    quantized: bool = False,
    pq: bool = False,
):
    """Watch ``landing_dir`` for parquet (vec_id, embedding) files and
    append each batch into the IVF index at ``index_root``
    (``quantized=True``: the int8/ADC index; ``pq=True``: the IVF-PQ
    index — see :func:`ivf_ingest_batch`).  Returns the
    StreamingQuery."""

    def ingest(batch_df, epoch_id: int) -> None:
        ivf_ingest_batch(
            batch_df, epoch_id, index_root, fs=fs, quantized=quantized, pq=pq
        )

    return stream_files(
        spark, landing_dir, row_schema, "parquet", checkpoint, ingest,
        await_termination, max_files_per_trigger,
    )
