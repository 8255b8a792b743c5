"""Parquet-backed testdata tables (the engine's canonical format).

The reference's scan path is catalog-name based (Glue crawler → catalog
table → ``create_dynamic_frame.from_catalog``, ``glue/glue_job.py:22-26``).
Here the canonical store is partition-prunable Parquet read straight into
DataFrames; :func:`register_views` provides the catalog-name access path
(``spark.table(name)``) the reference relies on.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..session import jobs_submitted

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_version(path: str) -> tuple[int, int] | None:
    """``(st_ino, st_mtime_ns)`` of a local table path.  Rewriting the
    table changes it: a new directory, a file added to or removed from
    the directory, or a new write of a one-file table.  None for a path
    that is not local: there is no cheap version to key on."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns)


#: Per-thread list that :func:`load_table` appends each returned scan to
#: while a :func:`recording_loads` block is open.
_LOADS = threading.local()


@contextmanager
def recording_loads():
    """Yield a list that collects ``(path, version, relation_id,
    scan_jobs)`` for every :func:`load_table` call this thread makes
    inside the block.  ``relation_id`` is the identity hash of the
    scan's file relation, which the scan keeps in every plan built on
    it; ``scan_jobs`` counts the Spark jobs the call ran to create the
    scan (parquet schema inference), 0 when the scan was cached."""
    outer = getattr(_LOADS, "current", None)
    _LOADS.current = loads = []
    try:
        yield loads
    finally:
        _LOADS.current = outer


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Column pruning + predicate pushdown reach
    the parquet reader because this stays a plain declarative scan.

    DataFrames are immutable logical plans, so the scan for a given
    (session, dir, table) is built once and reused — avoids repeated
    file-listing/footer reads when many queries touch the same table.
    The cache lives on the session object so it dies with the session
    (a global keyed by id() could alias a new session after restart).
    A cached scan is reused only while :func:`table_version` of the
    table path is unchanged: a table rewritten in a live session gets
    a fresh scan instead of one whose file listing names files that
    are gone.
    """
    cache = getattr(spark, "_etl_scan_cache", None)
    if cache is None:
        cache = {}
        spark._etl_scan_cache = cache
    path = f"{sf_dir}/{name}.parquet"
    version = table_version(path)
    hit = cache.get((sf_dir, name))
    scan_jobs = 0
    if hit is None or hit[0] != version:
        jobs = jobs_submitted(spark)
        df = _normalize_nanos(spark.read.parquet(path))
        scan_jobs = jobs_submitted(spark) - jobs
        relation = df._jdf.queryExecution().analyzed().collectLeaves().head().relation()
        hit = (version, df, spark._jvm.System.identityHashCode(relation))
        cache[(sf_dir, name)] = hit
    loads = getattr(_LOADS, "current", None)
    if loads is not None:
        loads.append((path, version, hit[2], scan_jobs))
    return hit[1]


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Parquet TIMESTAMP(NANOS) columns arrive as int64 nanos (the
    ``nanosAsLong`` escape hatch for Spark 4's PARQUET_TYPE_ILLEGAL);
    convert to µs-precision timestamps with integer division — a double
    round-trip would lose precision at 1.7e18 ns."""
    from pyspark.sql import functions as F

    out = df
    for field in df.schema.fields:
        md = field.metadata or {}
        if md.get("__is_nanos", False) or (
            field.name == "ts" and field.dataType.simpleString() == "bigint"
        ):
            out = out.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` DIV 1000")),
            )
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by join/agg
    keys — the co-located-join primitive for keys joined REPEATEDLY.

    Two tables bucketed on the same keys with the same bucket count
    sort-merge-join with ZERO exchange on either side (each task reads
    matching bucket files); a bucketed fact table likewise aggregates
    on the bucket key without a shuffle.  At 100 TB this converts the
    dominant recurring shuffle into a one-time write cost.  Bucket
    count rule of thumb: total size / bucket ≲ executor task memory;
    too few buckets caps parallelism, too many makes small files."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        # external table — bucketing metadata lives in the catalog, the
        # data wherever the caller puts it
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)
