"""Warehouse-load operators: MERGE (upsert/delete) and SCD2 dimension
versioning — the load-side semantics the reference's Snowflake
consumers rely on (`/root/reference/modules/snowflake.py:81-156` stands
up the warehouse; MERGE/SCD are how its tables are maintained),
re-expressed as Spark copy-on-write over Parquet.

Scale shapes:

- **merge_upsert** — one full-outer shuffle join on the merge key per
  batch (both sides hash-partitioned on the key; AQE handles skew).
  With a small CDC batch Catalyst broadcasts the source side and the
  target streams through untouched — the copy-on-write rewrite is the
  Parquet-without-a-table-format equivalent of Delta/Iceberg MERGE.
- **merge_upsert_pruned** — the 100 TB form: with a partitioned
  snapshot (``streaming/snapshot.py`` manifest layout), only the
  partitions whose values appear in the batch are read, merged, and
  rewritten; everything else is carried forward by manifest reference.
  Per-batch cost drops from O(table) to O(changed partitions) — the
  partition-pruned rewrite Delta/Iceberg MERGE performs via data-file
  pruning.
- **scd2_history** — two windows over (key, change-ts), both
  partitioned by the key: no global sort, no driver state.  Change-log
  → interval-versioned dimension in one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def merge_schema_check(
    target: T.StructType,
    source: DataFrame,
    delete_col: str | None = None,
    allow_new_columns: bool = False,
) -> list[tuple[str, str]]:
    """The loud-before-the-join schema validation every MERGE flavor
    shares (:func:`merge_upsert`'s docstring has the full rules),
    against the ``target`` table's schema: source must carry every
    target column at the exact target dtype, ``delete_col`` must
    resolve, case-variant ambiguity raises under the analyzer's
    case-insensitive default.  Returns the additive
    NEW columns ``[(name, dtype)]`` when ``allow_new_columns`` (empty
    otherwise) — callers decide what evolution means for their
    storage layout."""
    ci = (
        str(
            source.sparkSession.conf.get("spark.sql.caseSensitive", "false")
        ).lower()
        != "true"
    )
    fold = (lambda n: n.lower()) if ci else (lambda n: n)
    t_types = {f.name: f.dataType.simpleString() for f in target.fields}
    s_by_name: dict[str, list[tuple[str, str]]] = {}
    for name, dt in source.dtypes:
        s_by_name.setdefault(fold(name), []).append((name, dt))

    def resolve(c: str) -> list[tuple[str, str]]:
        matches = s_by_name.get(fold(c), [])
        if len(matches) > 1:
            raise ValueError(
                f"merge_upsert source has ambiguous case-variant columns "
                f"{[n for n, _ in matches]} for column {c!r}"
            )
        return matches

    if delete_col is not None and not resolve(delete_col):
        raise ValueError(
            f"merge_upsert delete_col {delete_col!r} is not a source "
            "column; the delete flag must come from the source feed"
        )
    missing, drifted = [], {}
    for c in target.names:
        matches = resolve(c)
        if not matches:
            missing.append(c)
        elif matches[0][1] != t_types[c]:
            drifted[c] = (matches[0][1], t_types[c])
    if missing:
        raise ValueError(
            f"merge_upsert source is missing target column(s) {missing}; "
            "a MERGE source must carry every target column (align or "
            "select them in the source query)"
        )
    if drifted:
        raise ValueError(
            "merge_upsert source dtypes differ from target "
            f"{{col: (source, target)}} = {drifted}; merging would "
            "silently retype the snapshot — cast the source explicitly "
            "(operators.align.align for by-name typed coercion)"
        )
    new_cols: list[tuple[str, str]] = []
    if allow_new_columns:
        folded_t = {fold(c) for c in target.names}
        dc = fold(delete_col) if delete_col is not None else None
        seen: set[str] = set()
        for name, dt in source.dtypes:
            fn = fold(name)
            if fn in folded_t or fn == dc:
                continue
            if fn in seen:
                raise ValueError(
                    f"merge_upsert source has case-variant NEW columns "
                    f"folding to {fn!r}; evolution cannot pick one"
                )
            seen.add(fn)
            new_cols.append((name, dt))
    return new_cols


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: list[str],
    delete_col: str | None = None,
    allow_new_columns: bool = False,
) -> DataFrame:
    """MERGE semantics over immutable storage: rows of ``target``
    matched by ``source`` (equi on ``key``) are replaced by the source
    row (update), unmatched source rows are appended (insert), and
    matched source rows with ``delete_col`` true are dropped (delete).
    Unmatched target rows pass through.  Returns the new snapshot with
    ``target``'s column set.

    ``allow_new_columns=True`` is schema EVOLUTION (Delta
    ``mergeSchema`` semantics): source columns with no target
    counterpart are APPENDED to the result schema, in source order —
    source-matched rows carry the source value, passthrough target
    rows get a typed NULL.  The default (False) keeps evolution an
    explicit decision: extra source columns (beyond ``delete_col``)
    are simply not part of the target schema and are dropped, exactly
    like warehouse ``MERGE ... UPDATE SET <target columns>``.  Widening
    an EXISTING column's type is still a loud error either way — only
    additive evolution is automatic, as in Delta.

    Source must carry every target column (plus optionally
    ``delete_col``); a source row's non-key values win wholesale —
    per-column update expressions belong in the source query, keeping
    the merge itself mechanical (exactly how warehouse MERGE ... UPDATE
    SET is compiled).

    Schema drift fails LOUDLY, before the join: a source missing target
    columns raises (instead of an opaque unresolved-column analysis
    error deep in the plan), and a source column whose dtype differs
    from the target's raises (the ``when(matched, s.c).otherwise(t.c)``
    coalesce would otherwise silently promote the SNAPSHOT's column
    type — e.g. an int column becoming string because one CDC feed
    drifted).  Name matching follows the session's analyzer mode
    (``spark.sql.caseSensitive``, default false → case-INsensitive, so
    a source differing only in column case merged fine before these
    checks existed and still does); in the default mode two source
    columns differing only in case are ambiguous and raise.  The
    optional ``delete_col`` gets the same presence/ambiguity checks —
    it is resolved through the same analyzer.  Intentional coercion
    belongs upstream: cast in the source query or run it through
    ``operators.align.align`` first.
    """
    new_cols = merge_schema_check(
        target.schema, source, delete_col, allow_new_columns
    )
    t = target.withColumn("_t_exists", F.lit(True)).alias("t")
    s = source.withColumn("_s_exists", F.lit(True)).alias("s")
    joined = t.join(s, on=key, how="full_outer")
    matched_s = F.col("_s_exists").isNotNull()
    if delete_col is not None:
        joined = joined.filter(
            ~(matched_s & F.coalesce(F.col(f"s.{delete_col}"), F.lit(False)))
        )
    cols = [
        F.col(c)
        if c in key
        else F.when(matched_s, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in target.columns
    ] + [
        # evolution: passthrough target rows null-fill the new column,
        # exactly how Delta mergeSchema treats pre-evolution files
        F.when(matched_s, F.col(f"s.{c}")).otherwise(F.lit(None).cast(dt)).alias(c)
        for c, dt in new_cols
    ]
    return joined.select(*cols)


#: A CDC batch spread over more partitions than this gains little from
#: pruning (the isin literal list and per-partition scans grow linearly)
#: — fall back to the full-rewrite merge instead of a degenerate prune.
MAX_PRUNED_PARTITIONS = 256


def merge_upsert_pruned(
    spark: SparkSession,
    snapshot_root: str,
    source: DataFrame,
    key: list[str],
    partition_col: str,
    delete_col: str | None = None,
    keep: int = 2,
    max_pruned_partitions: int = MAX_PRUNED_PARTITIONS,
    fs=None,
    allow_new_columns: bool = False,
) -> str:
    """Partition-pruned MERGE into a versioned snapshot: read ONLY the
    partitions named by the batch, merge, rewrite only those, carry the
    rest forward by reference; commits and returns the new version.

    **Contract** (the standard one for partition-pruned MERGE):
    ``partition_col`` is stable — a matched target row's partition
    value equals its source row's (the column is part of the key,
    functionally determined by it, or simply never updated).  A source
    that moves a row across partitions would strand the old copy in an
    unread partition; that workload needs the full :func:`merge_upsert`.

    The distinct partition values of the batch are collected (bounded:
    a CDC batch touches few partitions; above MAX_PRUNED_PARTITIONS the
    merge falls back to a full rewrite, which is also the upgrade path
    from an unpartitioned seed snapshot).  Batch partition values are
    validated against the snapshot layout's Hive-dir-safe contract
    BEFORE any merge work, so a bad CDC batch fails fast instead of
    after the join (``snapshot.py`` re-validates at commit).

    ``fs`` is the snapshot protocol's filesystem seam
    (``streaming/snapshot.LocalFilesystem`` by default — pass a
    Hadoop/S3-backed implementation on a cluster).

    ``allow_new_columns`` enables additive schema evolution
    (:func:`merge_upsert`): the commit publishes the widened schema,
    and partitions carried forward by reference keep their
    pre-evolution files — ``snapshot_read`` pins the scan to the
    manifest schema, so those null-fill the new column exactly like
    Delta ``mergeSchema`` reads pre-evolution data files.
    """
    from ..streaming.snapshot import (
        DEFAULT_FS,
        _current_version,
        _read_manifest,
        _validate_partition_value,
        snapshot_commit_partitioned,
        snapshot_read,
    )

    fs = fs or DEFAULT_FS
    live = _current_version(snapshot_root, fs)
    partitioned = (
        live is not None and _read_manifest(snapshot_root, live, fs) is not None
    )
    pvals = None
    if partitioned:
        pvals = [
            r[0]
            for r in source.select(partition_col)
            .distinct()
            .limit(max_pruned_partitions + 1)
            .collect()
        ]
        if len(pvals) > max_pruned_partitions:
            pvals = None
        else:
            for v in pvals:
                _validate_partition_value(v, f"CDC batch {partition_col!r}")

    # Pin the read to the version observed above and hand the same
    # version to the commit as its optimistic-concurrency token: the
    # merge is guaranteed to have been computed against `live`, and a
    # concurrent writer publishing in between surfaces as
    # SnapshotConflictError at the pointer swap instead of a silent
    # lost update (snapshot.py module docstring).
    target = snapshot_read(
        spark, snapshot_root, partition_values=pvals, fs=fs, version=live
    )
    merged = merge_upsert(
        target,
        source,
        key=key,
        delete_col=delete_col,
        allow_new_columns=allow_new_columns,
    )
    return snapshot_commit_partitioned(
        merged,
        snapshot_root,
        partition_col,
        changed_values=pvals,
        keep=keep,
        fs=fs,
        expected_current=live,
    )


def scd2_history(
    changes: DataFrame,
    key: list[str],
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change log: one
    row per (key, attribute version) with ``valid_from`` / ``valid_to``
    / ``is_current``, consecutive duplicate attribute values collapsed
    (a change event that changes nothing opens no new version).

    ``valid_to`` is the next version's ``valid_from`` (half-open
    intervals, NULL = still current) — the standard warehouse join
    contract ``ON key AND ts >= valid_from AND (ts < valid_to OR
    valid_to IS NULL)``.
    """
    w = Window.partitionBy(*key).orderBy(ts_col)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    versions = (
        changes.withColumn("_prev", F.lag(attrs).over(w))
        .filter(F.col("_prev").isNull() | (attrs != F.col("_prev")))
        .drop("_prev")
    )
    w2 = Window.partitionBy(*key).orderBy(ts_col)
    return (
        versions.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )
