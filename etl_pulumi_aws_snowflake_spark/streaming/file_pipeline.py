"""Event-driven ingestion as Structured Streaming.

The reference's trigger chain — S3 ``ObjectCreated:*`` + ``.csv`` suffix
filter → Lambda → crawler/job (``/root/reference/__main__.py:61-72``,
``lambda/trigger_glue.py``) → Snowpipe auto-ingest
(``modules/snowflake.py:158-178``) — is exactly Spark's streaming file
source contract:

- new-file detection        → ``readStream`` file source
- ``.csv`` suffix filter    → ``pathGlobFilter="*.csv"``
- crawler idempotence guard → checkpointed exactly-once file tracking
  (``trigger_glue.py:19-23``'s don't-start-if-RUNNING check, subsumed)
- "process what landed, then stop" → ``Trigger.AvailableNow``
- Snowpipe by-name CI load  → ``foreachBatch`` + :func:`..operators.align`

At scale the same program runs continuously (drop ``availableNow``) with
thousands of arriving files; checkpointing makes restarts exactly-once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..operators import align


def stream_files(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    fmt: str,
    checkpoint: str,
    process,
    await_termination: bool = True,
    max_files_per_trigger: int | None = None,
    options: dict | None = None,
):
    """The one file-stream loop every streaming program here runs
    on: watch ``source_dir`` for ``*.<fmt>`` files read with
    ``schema`` (plus reader ``options``), and call ``process(batch_df,
    epoch_id)`` once per NON-EMPTY micro-batch under
    ``Trigger.AvailableNow`` with ``checkpoint`` — so each landed file
    feeds exactly one ``process`` call across restarts.
    ``max_files_per_trigger`` caps the files per batch (Spark's
    ``maxFilesPerTrigger``) — bound it when a backlog replay would
    otherwise land as one unbounded batch.  Returns the
    StreamingQuery."""
    reader = spark.readStream.schema(schema).option(
        "pathGlobFilter", f"*.{fmt}"
    )
    for name, value in (options or {}).items():
        reader = reader.option(name, value)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)

    def run(batch_df, epoch_id: int) -> None:
        if batch_df.take(1):
            process(batch_df, epoch_id)

    query = (
        reader.format(fmt)
        .load(source_dir)
        .writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_csv_to_warehouse(
    spark: SparkSession,
    input_dir: str,
    source_schema: T.StructType,
    target_schema: T.StructType,
    warehouse_path: str,
    checkpoint: str,
    await_termination: bool = True,
):
    """Watch ``input_dir`` for new CSVs; load each batch by-name/CI into
    the typed warehouse table. Returns the StreamingQuery."""

    def load_batch(batch_df, _epoch_id: int) -> None:
        align(batch_df, target_schema).write.mode("append").parquet(warehouse_path)

    return stream_files(
        spark, input_dir, source_schema, "csv", checkpoint, load_batch,
        await_termination,
        options={"header": True, "timestampFormat": "yyyy-MM-dd HH:mm:ss"},
    )
