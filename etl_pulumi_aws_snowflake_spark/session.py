"""SparkSession factory with scale-appropriate defaults.

The reference (``/root/reference``) delegates all execution tuning to
Glue 4.0 / Spark 3.3 defaults (``modules/glue.py:214-217``).  Here we own
the session and pin the settings that matter at 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join-strategy downgrade to broadcast).
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests; on a real cluster this is overridden per deployment (AQE
  coalescing makes the initial number far less critical).
- Session timezone pinned to UTC so naive parquet timestamps compare
  bit-identically against the DuckDB oracle.
- Arrow enabled for the few pandas-UDF operators (similarity search,
  multimodal decode) so Python boundaries are batched, not per-row.
- A generated-code cache that holds the engine's query working set
  (:data:`STATIC_CONF`).  Spark's default keeps 100 compiled classes;
  one round of the 22 TPC-H-shaped queries alone generates about 350,
  and one cold pass over all 206 registry entries at sf0.01 compiled
  2061 distinct classes (measured with an unbounded cache, counting
  ``CodegenMetrics.METRIC_COMPILATION_TIME``).  With the default every
  repeat of a query compiles its classes again with Janino, and the
  JIT then compiles the fresh classes again.

:data:`ENGINE_CONF` holds only runtime-modifiable keys, which
:func:`configure` re-applies on every registry call; static keys go
into :func:`get_spark`'s builder only, because setting one on a
running session is refused (and the refusal costs milliseconds).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Runtime configs that are safe (and wanted) on both local[32] and a
#: 1000-executor cluster.  Anything cluster-topology-specific (executor
#: memory, dynamic allocation) is deliberately left to spark-submit.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # 64 MiB input splits: big enough to amortize task overhead, small
    # enough that a 100 TB scan still yields ~1.6M balanced tasks.
    "spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024),
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Spark 4 rejects parquet TIMESTAMP(NANOS) outright; read the raw
    # int64 nanos instead — sources.tables converts to µs timestamps
    # (integer DIV, no double round-trip) to match engine semantics.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let AQE coalesce the OUTPUT partitioning of cached plans too
    # (default false): the engine persists iteration state (the CC
    # label table, the BPE vocab) and shared build subtrees, and
    # without this every cached round freezes at the raw
    # shuffle-partition count — each later pass over the cache then
    # runs shuffle.partitions tasks regardless of data size, where the
    # un-cached plan would have coalesced to the advisory size.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Bound the plan string rendered per SQL-execution event (default is
    # effectively unlimited): iterative plans that slip past a lineage
    # cut can render strings of tens of MB per action — pure driver-side
    # overhead, and an OOM on a default-heap driver.  4 MiB keeps every
    # legitimate explain intact (the engine's largest captured plan is
    # < 100 KB) while capping the pathological case.
    "spark.sql.maxPlanStringLength": str(4 * 1024 * 1024),
}


#: Static configs: fixed when the first session of the JVM starts, so
#: only :func:`get_spark` can set them.  A session built elsewhere (the
#: correctness driver's) keeps Spark's defaults for these.
STATIC_CONF: dict[str, str] = {
    # Codegen classes kept compiled across queries (default 100).  A
    # cold pass over every registry entry compiles 2061 distinct
    # classes; the bound holds them all, so a repeated query reuses its
    # classes instead of recompiling.  The cache only grows to the
    # classes a session actually generates.
    "spark.sql.codegen.cache.maxEntries": "2500",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the runtime engine conf to an externally-built session.

    The correctness driver hands us its own SparkSession; every key of
    :data:`ENGINE_CONF` is runtime-modifiable, so each set succeeds
    there too."""
    for key, value in ENGINE_CONF.items():
        spark.conf.set(key, value)
    return spark


def jobs_submitted(spark: SparkSession) -> int:
    """How many Spark jobs the session's SparkContext has submitted so
    far (the DAG scheduler's next job id, read without advancing it)."""
    return spark._jsc.sc().dagScheduler().nextJobId()


def get_spark(
    app_name: str = "etl-pulumi-aws-snowflake-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in {**ENGINE_CONF, **STATIC_CONF}.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
