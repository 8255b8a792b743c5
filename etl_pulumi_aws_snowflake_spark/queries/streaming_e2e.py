"""Driver-checkable stateful-streaming queries (SURVEY.md §2.9).

The five hard streaming semantics — stateful dedup across arrivals,
the stream-stream interval join, checkpoint replay idempotence,
watermark late-data discard, and ``applyInPandasWithState`` arbitrary
state — each run a TRUE StreamingQuery here
(``Trigger.AvailableNow`` over deterministically derived files, exactly
the pattern proven by ``pipeline_stream_e2e``) inside the registry
callable, then return the materialized sink so the driver hash-compares
the streaming result against the batch-twin SQL oracle.

Determinism arguments:

- **dedup**: the same event file arrives twice (two files, and
  ``maxFilesPerTrigger=1`` forces two microbatches so the dedup state
  genuinely crosses a batch boundary).  Duplicate rows are identical,
  so whichever occurrence survives, the output set is exactly the
  distinct input — batch-order-independent.
- **interval join**: a stream-stream INNER join's match set is a pure
  function of the two input sets (watermarks bound state, they don't
  filter an AvailableNow run whose data all arrives before the final
  watermark advance) — so the emitted set equals the batch join however
  the files are batched.
- **replay idempotence**: the callable runs THREE StreamingQueries
  against one checkpoint (new data lands between runs 1 and 2; run 3
  sees nothing new).  The file source's offset log makes each file
  processed exactly once across restarts, so the sink equals the plain
  input set however the runs are cut — graceful-stop restarts only
  (see ``_run_to_parquet`` for the crash-mid-batch caveat).
- **late-data discard**: arrival order is forced (one file per
  microbatch via ``maxFilesPerTrigger=1``, file order pinned by
  explicit mtimes 60s apart), so the watermark trajectory is a pure
  function of the fixed batch contents.  The late file arrives AFTER
  an on-time batch has advanced the watermark and append-mode eviction
  has finalized the old windows; append mode's
  exactly-once-per-window contract then REQUIRES the late rows be
  dropped (re-aggregating them would re-emit finalized windows), so
  the sink deterministically equals the on-time-only aggregate.
- **arbitrary state**: cumulative per-user totals are
  order-independent (the Python accumulator sums pre-scaled
  integer-valued doubles — exact addition commutes), so the latest
  emission per user equals the batch group-by under any batching.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import functions as F

from .. import schemas
from ._util import t
from .pipeline_e2e import _workdir
from .registry import query

_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

#: State-store instances per stateful stream = shuffle partitions at
#: stream start; bounded e2e runs need few (see _capped_state_partitions).
_MAX_STATE_PARTITIONS = 32


@contextlib.contextmanager
def _capped_state_partitions(spark):
    """Cap ``spark.sql.shuffle.partitions`` for a stream's lifetime.

    Stateful operators allocate one state-store instance per shuffle
    partition at stream START, so a driver session's batch-oriented
    partition count (e.g. 200) would mean 200 state stores for a
    bounded 10k-row run — pure task overhead.  Restores the caller's
    setting after (result sets here are partition-count-independent; on
    a real cluster a continuous job sizes this to input rate × state
    retention instead)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(int(prev), _MAX_STATE_PARTITIONS)),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_parquet(stream_df, outdir: str, ckpt: str) -> None:
    """Drive a streaming DataFrame to a parquet dir via foreachBatch +
    AvailableNow (the reference's process-what-landed-then-stop
    semantics, ``modules/snowflake.py:158-178``), shuffle partitions
    capped for the stream's lifetime (``_capped_state_partitions``).

    NO CRASH RECOVERY: the foreachBatch append has no epoch
    idempotence, so restarting a run that CRASHED mid-batch against the
    same checkpoint could replay the last uncommitted batch and
    double-append.  Safe here because every caller either uses a fresh
    checkpoint under a freshly-reset workdir (``_workdir`` rmtree's it)
    or restarts only after a graceful ``awaitTermination`` (the replay
    entry), where the offset log and sink are consistent; a
    crash-restartable production sink writes epoch-keyed subdirs
    (overwrite mode on ``outdir/epoch=N``) or merges by key — see
    ``streaming/cdc.py`` for the idempotent-merge form."""
    with _capped_state_partitions(stream_df.sparkSession):

        def sink(batch_df, _epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(outdir)

        q = (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


_DEDUP_ORACLE = """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
"""


@query("stream_stateful_dedup_e2e", oracle=_DEDUP_ORACLE)
def stream_stateful_dedup_e2e(spark, sf_dir):
    """Cross-microbatch stateful dedup under the driver hash: the full
    events table lands twice (two files → two microbatches via
    ``maxFilesPerTrigger=1``), streams through the watermarked
    ``dropDuplicates`` state store, and the sink must contain each
    event exactly once — i.e. equal the plain ``events`` table."""
    from ..streaming.windows import dedup_stream

    work = _workdir(sf_dir, "stateful_dedup")
    landing = os.path.join(work, "arrivals")
    events = t(spark, sf_dir, "events").select(*_EVENT_COLS)
    # The oracle is plain SELECT * FROM events, which equals the
    # deduped stream ONLY while event_id is unique in the fixture —
    # pin that assumption so a future FIXTURES change fails loudly
    # here instead of silently weakening the entry (VERDICT r04 nit).
    n, nd = events.agg(
        F.count("event_id"), F.count_distinct("event_id")
    ).first()
    assert n == nd, (
        f"stream_stateful_dedup_e2e oracle assumes unique event_id; "
        f"fixture has {n} rows / {nd} distinct ids — update the oracle "
        "to SELECT DISTINCT-by-id semantics before trusting this entry"
    )
    events.coalesce(1).write.parquet(landing)
    events.coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(schemas.EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    outdir = os.path.join(work, "out")
    _run_to_parquet(
        dedup_stream(stream, ["event_id"]), outdir, os.path.join(work, "ckpt")
    )
    return spark.read.parquet(outdir).select(*_EVENT_COLS)


def _decode_at_ingest(spark, sf_dir, name: str, decode):
    """The decode-at-ingest scaffold: land ``documents`` as two parquet
    files (odd ids, then even ids), stream them one file per trigger
    through ``decode`` into parquet, and read the output back."""
    work = _workdir(sf_dir, name)
    landing = os.path.join(work, "arrivals")
    docs = t(spark, sf_dir, "documents")
    # complements by filter, not subtract: EXCEPT DISTINCT shuffles
    # the whole table and silently dedups rows (review r14)
    docs.filter(F.col("doc_id") % 2 != 0).coalesce(1).write.parquet(landing)
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    stream = (
        spark.readStream.schema(schemas.DOCUMENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    outdir = os.path.join(work, "out")
    _run_to_parquet(decode(stream), outdir, os.path.join(work, "ckpt"))
    return spark.read.parquet(outdir)


_MEDIA_ORACLE = """
    SELECT doc_id,
           CAST(32 AS BIGINT) AS n_bytes,
           md5(substr(sha256(text), 1, 32)) AS checksum
    FROM documents
"""


@query("stream_media_features_e2e", oracle=_MEDIA_ORACLE)
def stream_media_features_e2e(spark, sf_dir):
    """Multimodal decode AT INGEST under the driver hash (r14): the
    documents corpus lands as two files → two microbatches
    (``maxFilesPerTrigger=1``), each batch is turned into REAL binary
    WAV payloads (``as_wav`` — pure codegen, so it composes with a
    streaming DataFrame) and pushed through the from-scratch RIFF
    decoder via the Arrow-batched ``map_rows`` worker inside the live
    StreamingQuery; the sink must equal the batch decode — md5 over
    the DECODED PCM of every document, exactly once.

    Determinism: the whole chain is a stateless per-row map, so the
    output set is a pure function of the input set however the files
    are batched — the thing this entry pins is that the codec tier
    (binary payload synthesis + worker-side decode) runs unmodified
    under streaming semantics with checkpointed exactly-once file
    ingestion, which is how a 100 TB corpus would actually be decoded:
    at ingest, incrementally, not as a monolithic batch rescan."""
    from ..operators.audio import extract_pcm_features
    from ..operators.multimodal import as_wav

    return _decode_at_ingest(
        spark,
        sf_dir,
        "media_features",
        lambda stream: extract_pcm_features(as_wav(stream)),
    )


_SSJOIN_ORACLE = """
    SELECT l.user_id,
           l.event_id AS l_event_id,
           r.event_id AS r_event_id,
           l.ts AS l_ts,
           r.ts AS r_ts
    FROM events l
    JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'signup'
     AND r.event_type = 'purchase'
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 30 MINUTE
"""


@query("stream_interval_join_e2e", oracle=_SSJOIN_ORACLE)
def stream_interval_join_e2e(spark, sf_dir):
    """Stream-stream interval join under the driver hash: signups and
    purchases arrive on two independent file streams, both sides buffer
    in the state store, and purchases within 30 minutes of a same-user
    signup are emitted — compared against the identical batch interval
    join in SQL."""
    from ..streaming.joins import interval_join

    work = _workdir(sf_dir, "ssjoin")
    events = t(spark, sf_dir, "events").select(*_EVENT_COLS)
    sdir = os.path.join(work, "signups")
    pdir = os.path.join(work, "purchases")
    events.filter(F.col("event_type") == "signup").write.parquet(sdir)
    events.filter(F.col("event_type") == "purchase").write.parquet(pdir)

    ls = spark.readStream.schema(schemas.EVENTS).parquet(sdir)
    rs = spark.readStream.schema(schemas.EVENTS).parquet(pdir)
    outdir = os.path.join(work, "out")
    _run_to_parquet(
        interval_join(ls, rs, "user_id"), outdir, os.path.join(work, "ckpt")
    )
    return spark.read.parquet(outdir).select(
        "user_id", "l_event_id", "r_event_id", "l_ts", "r_ts"
    )


_STATE_ORACLE = """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND((value) * 10000) AS BIGINT)) AS DOUBLE)
               / CAST(10000 AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
"""


@query("stream_arbitrary_state_e2e", oracle=_STATE_ORACLE)
def stream_arbitrary_state_e2e(spark, sf_dir):
    """Arbitrary custom state (``applyInPandasWithState``,
    SURVEY.md §2.9) under the driver hash: per-user running totals
    accumulate in the state store across two microbatches
    (``maxFilesPerTrigger=1`` over two half-files), each batch emits
    the group's cumulative row, and the LATEST emission per user must
    equal the batch group-by over everything that arrived.

    Hash determinism: the Python-side accumulator sums ``value``
    PRE-SCALED to integer-valued doubles (exact under float addition
    in any order — the ``_util.ints`` policy applied inside a stateful
    op), and one final double division matches the oracle's
    ``CAST(SUM(int) AS DOUBLE)/scale`` bit-for-bit.  The cumulative
    total per user is order-independent, so the result is stable under
    any file→batch assignment."""
    from pyspark.sql import Window

    from ..streaming.stateful import running_user_totals
    from ._util import ints

    work = _workdir(sf_dir, "arb_state")
    landing = os.path.join(work, "arrivals")
    events = t(spark, sf_dir, "events").select(*_EVENT_COLS)
    scaled = events.withColumn("value", ints("value", 10000).cast("double"))
    for half in ("event_id % 2 = 0", "event_id % 2 = 1"):
        scaled.filter(half).coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(schemas.EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    outdir = os.path.join(work, "out")

    def epoch_sink(batch_df, epoch_id: int) -> None:
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
            "append"
        ).parquet(outdir)

    with _capped_state_partitions(spark):
        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(epoch_sink)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    latest = (
        spark.read.parquet(outdir)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("epoch"))
            ),
        )
        .filter("rn = 1")
    )
    return latest.select(
        "user_id",
        "n_events",
        (F.col("total_value") / F.lit(10000.0)).alias("total_value"),
    )


_REPLAY_ORACLE = """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
"""


@query("stream_replay_idempotence_e2e", oracle=_REPLAY_ORACLE)
def stream_replay_idempotence_e2e(spark, sf_dir):
    """Checkpoint replay idempotence (SURVEY.md §2.9) under the driver
    hash: three StreamingQuery RESTARTS share one checkpoint.  Run 1
    processes the first half of events, run 2 (after the second half
    lands) must process ONLY the new file, and run 3 — a pure replay
    with nothing new — must append nothing.  If the checkpoint's file
    offset log were ignored, the first half would land twice and the
    row count would diverge from the plain ``events`` oracle.

    Restarts here follow graceful stops (awaitTermination between
    runs), where the append sink is safe; exactly-once across a crash
    MID-batch additionally needs an idempotent sink — that path is
    ``stream_cdc_merge``'s keyed MERGE (``streaming/cdc.py``).
    Reference parity: Snowpipe's load-history dedup of already-loaded
    files (``modules/snowflake.py:158-178``)."""
    work = _workdir(sf_dir, "replay")
    landing = os.path.join(work, "arrivals")
    outdir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    events = t(spark, sf_dir, "events").select(*_EVENT_COLS)

    def restart() -> None:
        stream = spark.readStream.schema(schemas.EVENTS).parquet(landing)
        _run_to_parquet(stream.select(*_EVENT_COLS), outdir, ckpt)

    events.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(
        landing
    )
    restart()
    events.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        landing
    )
    restart()
    restart()
    return spark.read.parquet(outdir).select(*_EVENT_COLS)


_LATE_ORACLE = """
    WITH finalized AS (
        SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)
                   AS window_start,
               CAST(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
                    AS TIMESTAMP) AS window_end,
               event_type
        FROM events
    )
    SELECT window_start, window_end, event_type,
           COUNT(*) AS n_events
    FROM finalized
    WHERE window_end <= (SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR
    GROUP BY 1, 2, 3
"""


def _force_mtime(d: str, when: float) -> None:
    """Pin every file's mtime so the file source's oldest-first listing
    gives a deterministic file → microbatch mapping (sequential writes
    can tie at mtime granularity)."""
    for root, _, files in os.walk(d):
        for f in files:
            os.utime(os.path.join(root, f), (when, when))


def _stage_late_arrivals(events, landing: str):
    """Write the late-discard scenario's three mtime-ordered files under
    ``landing`` (shared by the driver entry and the mechanism-pinning
    tests so they cannot drift apart):

    1. all events (max event time T);
    2. one on-time probe row (ts == T, ids offset) — its batch boundary
       lets eviction finalize every window ending ≤ T - 1h;
    3. a LATE replay of every event with ts ≤ T - 3h (ids offset).

    Returns ``(on_time, t_max)`` — the frame and bound the expected
    (finalized, on-time-only) aggregate is computed from."""
    events = events.select(*_EVENT_COLS)
    t_max = events.agg(F.max("ts")).first()[0]
    probe = events.filter(F.col("ts") == F.lit(t_max)).withColumn(
        "event_id", F.col("event_id") + F.lit(30_000_000)
    )
    late = events.filter(
        F.col("ts") <= F.lit(t_max) - F.expr("INTERVAL 3 HOURS")
    ).withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    # The demo is only meaningful if something is actually late.
    assert late.limit(1).count() == 1, (
        "late-discard staging: fixture has no events older than "
        "max(ts) - 3h; the late file would be empty"
    )
    now = time.time()
    for i, df in enumerate((events, probe, late)):
        sub = os.path.join(landing, f"f{i}")
        df.coalesce(1).write.parquet(sub)
        _force_mtime(sub, now - 300 + i * 60)
    return events, t_max


@query("stream_late_data_discard_e2e", oracle=_LATE_ORACLE)
def stream_late_data_discard_e2e(spark, sf_dir):
    """Watermark late-data discard (SURVEY.md §2.9) under the driver
    hash.  Three files stream through the watermarked 1-hour tumbling
    aggregation in append mode, one per microbatch in forced order:

    1. all events (max event time T);
    2. one on-time row (ts == T) — advances nothing, but the batch
       boundary lets eviction finalize every window ending ≤ T - 1h;
    3. a LATE replay of every event with ts ≤ T - 3h (ids offset) —
       its windows are already finalized, so append-mode semantics
       force the whole file to be dropped
       (``numRowsDroppedByWatermark``, pinned in
       ``tests/test_streaming.py``).

    The sink therefore equals the on-time aggregate over ``events``
    restricted to finalized windows — which is exactly the oracle; if
    the late file were aggregated instead, the finalized windows would
    re-emit and the row set would diverge."""
    from ..streaming.windows import tumbling_counts

    work = _workdir(sf_dir, "late_discard")
    landing = os.path.join(work, "arrivals")
    _stage_late_arrivals(t(spark, sf_dir, "events"), landing)

    stream = (
        spark.readStream.schema(schemas.EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(landing, "*"))
    )
    outdir = os.path.join(work, "out")
    _run_to_parquet(
        tumbling_counts(stream).drop("total_value"),
        outdir,
        os.path.join(work, "ckpt"),
    )
    return spark.read.parquet(outdir).select(
        "window_start", "window_end", "event_type", "n_events"
    )


@query(
    "stream_web_ingest_e2e",
    oracle=None,  # bound below — shared with web_charset_quarantine
)
def stream_web_ingest_e2e(spark, sf_dir):
    """Raw-web ingest AT INGEST (r16): the charset-aware,
    error-quarantining WARC→HTTP→HTML chain running INSIDE a live
    StreamingQuery — the corpus lands as two files → two microbatches
    (``maxFilesPerTrigger=1``), each batch synthesizes its eight-lane
    WARC fixture in pure codegen (so it composes with a streaming
    DataFrame) and decodes through ``warc_main_text_robust``'s
    Arrow-batched ``map_rows`` worker under checkpointed exactly-once file
    ingestion.  The sink must equal the batch decode — the decoded
    mojibake markers AND the quarantine rows, exactly once per
    document.  This is how a 100 TB crawl is actually processed:
    incrementally as WARC files arrive, with malformed records
    becoming quarantine rows inside the stream instead of killing a
    microbatch.  Stateless per-row map ⇒ the output set is a pure
    function of the input set however the files are batched (the
    ``stream_media_features_e2e`` determinism argument, applied to the
    text-side decode tier)."""
    from ..operators import web as W

    return _decode_at_ingest(
        spark,
        sf_dir,
        "web_ingest",
        lambda stream: W.warc_main_text_robust(W.as_warc_mixed(stream)).drop(
            "error"
        ),
    )


def _bind_web_oracle() -> None:
    from .llm_web import CHARSET_QUARANTINE_ORACLE
    from .registry import ORACLES

    ORACLES["stream_web_ingest_e2e"] = CHARSET_QUARANTINE_ORACLE


_bind_web_oracle()
