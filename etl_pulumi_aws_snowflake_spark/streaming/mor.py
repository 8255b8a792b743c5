"""Merge-on-read CDC tier (VERDICT r12 #5): equality-delete files +
per-batch data files over the versioned-snapshot layer, for
UPDATE-HEAVY feeds with hot partitions where copy-on-write MERGE
(``operators/warehouse.merge_upsert_pruned``) rewrites the same big
partition every batch.

Design — the Iceberg merge-on-read split, Spark-first:

- ``base``: the big partitioned snapshot (rewritten only at
  compaction).
- ``dv``: EQUALITY-DELETE files — one tiny partition per batch holding
  the (key, pcol, batch) tuples that batch superseded (every upsert
  AND delete).  This is Iceberg's equality-delete form rather than
  Delta's positional id-bitmaps deliberately: a pure DataFrame engine
  has no stable row ordinal to index a bitmap with (nothing like a
  row-id service survives a shuffle), while key equality is exactly
  what the engine's joins are built to apply.  The role is identical —
  a read-side suppression sidecar that makes the write O(batch).  dv
  rows CARRY the base partition column (r14, VERDICT r13 #4/#5):
  under the layer's stable-partition contract (pcol functionally
  determined by the key — the same contract every partition-pruned
  MERGE here has) that lets pruned reads shrink the delete-key
  broadcast and lets compaction discover its rewrite set from the
  sidecars, probing only candidate partitions instead of the full
  base.
- ``data``: per-batch upsert rows (inserts + update images), one tiny
  partition per batch.

One MERGE batch therefore writes O(batch rows) — two small partitions
plus manifest carry-forward references — never O(partition), which is
the whole point: a 100-row update to a 10-GB hot partition costs two
100-row parquet writes instead of a 10-GB rewrite.  Reads reassemble:

    live = (base ANTI-JOIN dv-keys) UNION (data rows not superseded
           by a LATER batch's dv entry)

with the dv/data side BROADCAST (it is bounded by the un-compacted
backlog, which compaction cadence keeps small — the read-amplification
vs write-amplification dial every MoR format exposes).  The three
members publish through ONE atomic ``index_publish`` pin, so a reader
never sees batch N's deletes without its data (the same torn-window
discipline as the r12 index-family pin).

Exactly-once under foreachBatch replay: the batch id IS the epoch id
when streamed, member commits are deterministic rewrites of partition
``[batch]`` carried forward from the live manifest, and the pin
republish converges — a replayed epoch rewrites identical content.

Compaction (:func:`mor_compact`) folds the backlog into ``base`` (the
partition-pruned copy-on-write rewrite, now amortized across many
batches) and resets ``dv``/``data`` to empty — after which reads are
pure base scans again.  Compaction keeps one file per base partition
(files of about the advisory size once a partition outgrows it): the
rewrite distributes its rows by partition before writing (see
``snapshot_commit_partitioned``), so each rewritten partition replaces
its old file instead of adding one per task of the merged view.

Reference anchor: the maintenance loop a warehouse runs behind
Snowpipe ingest (`/root/reference/modules/snowflake.py:158-167`); the
MoR split is how lakehouse formats (Iceberg MoR, Delta DVs) bound its
write amplification.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.localrel import local_frame

from ..operators.warehouse import merge_schema_check
from .file_pipeline import stream_files
from .snapshot import (
    DEFAULT_FS,
    SnapshotConflictError,
    _current_version,
    _read_manifest,
    commit_concurrently,
    index_build,
    index_current,
    index_publish,
    snapshot_commit_partitioned,
    snapshot_manifest,
    snapshot_read,
)

#: Reserved batch-sequence column in the dv/data members.
BATCH_COL = "_batch"

#: Root-level record of the init-time declared merge key (r14 review):
#: the dv schema alone cannot distinguish "pcol appended for pruning"
#: from "pcol declared as row identity".
_KEY_FILE = "_MERGE_KEY"

#: Loud ceiling on the un-compacted backlog: past this many pending
#: batches the read-side broadcast union stops being "tiny sidecar"
#: and the deployment is skipping compaction, not tuning it.  Same
#: fail-loud discipline as MAX_PRUNED_PARTITIONS / max_strata.
MAX_PENDING_BATCHES = 512


def _member(root: str, name: str) -> str:
    return os.path.join(root, name)


def _require_pin(root: str, fs) -> dict[str, str]:
    pin = index_current(root, fs=fs)
    if pin is None or set(pin) != {"base", "dv", "data"}:
        raise ValueError(
            f"{root} is not a merge-on-read root (no {{base, dv, data}} "
            "pin) — seed it with mor_init first"
        )
    return pin


def _pin_token(root: str, fs) -> str | None:
    """The index POINTER version at pin-read time — the CAS token a
    maintenance op's final publish passes as ``expected_current`` so a
    concurrent pin advance (review r14: a merge landing between
    compaction's sidecar resets and its republish — after the window
    the _reset_sidecar tokens close) surfaces as
    :class:`SnapshotConflictError` instead of a silent overwrite; a
    crash-retry re-reads the unmoved pointer and converges."""
    return _current_version(root, fs)


def mor_init(
    df: DataFrame,
    root: str,
    partition_col: str,
    key: list[str],
    keep: int = 2,
    fs=None,
) -> dict[str, str]:
    """Seed a merge-on-read table: ``df`` becomes the partitioned
    ``base`` snapshot, ``dv``/``data`` start as EMPTY schema-bearing
    member snapshots (dv fixes the merge ``key`` for the table's
    lifetime — later merges derive it from the dv schema, so two
    writers can never disagree about row identity), and the three
    versions publish as one atomic pin.  Returns the pinned
    {member: version} set."""
    fs = fs or DEFAULT_FS
    if BATCH_COL in df.columns:
        raise ValueError(
            f"column name {BATCH_COL!r} is reserved by the merge-on-read "
            "layout"
        )
    missing = [k for k in key if k not in df.columns]
    if missing:
        raise ValueError(f"mor_init key column(s) {missing} not in df")
    spark = df.sparkSession
    empty = local_frame(spark, [], df.schema)
    # dv rows carry the partition column alongside the key (r14,
    # VERDICT r13 #4/#5): under the layer's stable-partition contract
    # (a key's partition value never changes — the same contract every
    # partition-pruned MERGE here has) the pcol is functionally
    # determined by the key, so suppression joins on key+pcol are
    # equivalent to key-only joins — and the pcol lets pruned reads
    # shrink the delete-key broadcast and lets compaction discover
    # touched partitions from the sidecars instead of probing the
    # whole base.
    dv_cols = list(key) + (
        [partition_col] if partition_col not in key else []
    )
    # The dv SCHEMA cannot say whether pcol is declared row identity or
    # the appended pruning column — both land as the same column set —
    # so the declared key is recorded verbatim (review r14: without it,
    # a table initialized with pcol as REAL identity, same key value
    # live in two partitions, accepted a pcol-omitting merge key and
    # silently reinterpreted the caller's row identity).  It is written
    # before the build, so it always lands before the pin publish.
    fs.mkdirs(root)
    fs.write_text(
        os.path.join(root, _KEY_FILE),
        json.dumps({"key": list(key), "pcol_appended": partition_col not in key}),
    )
    # The three member commits write disjoint roots with no ordering
    # constraint until the pin, so index_build runs them concurrently:
    # the two (trivial) sidecar seeds overlap the base write's tail
    # instead of serializing three jobs end to end.
    return index_build(
        root,
        {
            "base": (df, partition_col),
            "dv": (
                empty.select(*dv_cols).withColumn(
                    BATCH_COL, F.lit(0).cast("long")
                ),
                BATCH_COL,
            ),
            "data": (
                empty.select(*df.columns).withColumn(
                    BATCH_COL, F.lit(0).cast("long")
                ),
                BATCH_COL,
            ),
        },
        keep=keep,
        fs=fs,
    )


def _declared_key(root: str, fs) -> dict | None:
    """The init-time merge-key record, or ``None`` on a pre-r14 root
    (falls back to the schema-derived relaxed check)."""
    try:
        return json.loads(fs.read_text(os.path.join(root, _KEY_FILE)))
    except (FileNotFoundError, OSError):
        return None


def _next_batch_id(root: str, pin: dict[str, str], fs) -> int:
    man = _read_manifest(_member(root, "dv"), pin["dv"], fs)
    ids = [int(k) for k in (man or {}).get("entries", {})]
    return (max(ids) + 1) if ids else 1


def _commit_batch_member(
    df: DataFrame,
    member_root: str,
    pinned_version: str,
    batch_id: int,
    keep: int,
    fs,
) -> str:
    """Commit one batch partition into a dv/data member with the
    PINNED version as the optimistic token (review r14): the batch
    must extend the pinned history — its carry-forward references come
    from the pinned manifest, and a live pointer that moved past the
    pin (a concurrent compaction's reset, or any foreign write)
    surfaces as :class:`SnapshotConflictError` instead of the batch
    silently building on state the pin does not reference (the
    lost-batch variant where a merge between compaction's resets and
    its republish paired the OLD base with the RESET sidecars).

    The one live-past-pin state that IS safe is this merge's own
    orphaned commit — a crash/replay after this member committed but
    before the pin republished — recognized EXACTLY: the live manifest
    holds precisely the pinned batches plus ``batch_id``, OR precisely
    the pinned batches when this batch's partition was EMPTY
    (:func:`snapshot_commit_partitioned` drops empty partitions from
    the manifest, so a delete-only batch's data commit — or an
    empty-source batch's — advances the version WITHOUT adding the
    entry; review r14: without this arm the replay re-raised forever
    and the stream wedged).  The empty form cannot mask a foreign
    writer under the single-maintainer contract: the only other legal
    pointer-advancer is compaction, and its pin republish makes this
    merge's own ``index_publish`` conflict loudly afterwards.  Then
    the retry adopts the live token and deterministically rewrites the
    same partition (converges).  Anything else re-raises."""
    try:
        return snapshot_commit_partitioned(
            df,
            member_root,
            BATCH_COL,
            changed_values=[batch_id],
            keep=keep,
            fs=fs,
            expected_current=pinned_version,
        )
    except SnapshotConflictError:
        live = _current_version(member_root, fs)
        live_entries = set(
            (_read_manifest(member_root, live, fs) or {}).get("entries", {})
        )
        pinned_entries = set(
            (_read_manifest(member_root, pinned_version, fs) or {}).get(
                "entries", {}
            )
        )
        if live_entries not in (
            pinned_entries | {str(batch_id)},  # partition written
            pinned_entries,  # partition was empty and manifest-dropped
        ):
            raise
        return snapshot_commit_partitioned(
            df,
            member_root,
            BATCH_COL,
            changed_values=[batch_id],
            keep=keep,
            fs=fs,
            expected_current=live,
        )


def mor_merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key: list[str],
    delete_col: str | None = None,
    batch_id: int | None = None,
    keep: int = 2,
    fs=None,
) -> dict[str, str]:
    """Apply one CDC batch merge-on-read: write the batch's equality
    deletes (every source key, it supersedes whatever came before) and
    its upsert rows as ONE new partition each, carry every earlier
    batch forward by manifest reference, republish the pin.  Write
    cost is O(batch), independent of how big the touched base
    partitions are — the hot-partition case copy-on-write can't bound.

    ``batch_id`` is the exactly-once stamp: pass the foreachBatch
    epoch id when streaming (a replayed epoch deterministically
    rewrites its own partition — idempotent); batch-mode calls leave
    it ``None`` and the next id comes from the pinned dv manifest
    (metadata-only, no job).  Member commits and the pin republish all
    carry PINNED optimistic tokens (review r14): the batch must extend
    the pinned history, so any foreign pin/pointer advance (e.g. a
    concurrent compaction's sidecar reset) surfaces as
    :class:`SnapshotConflictError` instead of the batch pairing the
    old base with reset sidecars; the merge's OWN crash-replay is
    recognized exactly (live = pinned + this batch) and converges
    (:func:`_commit_batch_member`).

    Contract (same as every MERGE here): batch keys are unique per
    batch; ``merge_schema_check`` enforces the column/dtype rules
    loudly before any write.  ONE maintainer per root (the snapshot
    layer's single-writer rule): a root is fed EITHER by one stream
    (epoch-derived ids via :func:`stream_cdc_merge_mor`) or by
    batch-mode calls — interleaving them could collide a batch-mode id
    with a stream epoch's and rewrite that batch's partitions with
    foreign content, which no stamp here detects (the same
    out-of-contract case as interleaved streams on a BM25 index)."""
    fs = fs or DEFAULT_FS
    pin_token = _pin_token(root, fs)
    pin = _require_pin(root, fs)
    dv_root, data_root = _member(root, "dv"), _member(root, "data")
    # Schemas come from the pinned manifests (same readability check as
    # a pinned read): the merge never scans base or dv, so planning a
    # scan of either would be pure driver overhead on every batch.
    _, base_man = snapshot_manifest(_member(root, "base"), pin["base"], fs)
    _, dv_man = snapshot_manifest(dv_root, pin["dv"], fs)
    base_cols = base_man["columns"]
    merge_schema_check(
        T.StructType.fromJson(json.loads(base_man["schema"])), source, delete_col
    )
    pcol = base_man["partition_col"]
    dv_cols = [c for c in dv_man["columns"] if c != BATCH_COL]
    # The caller's key must name the init-time row identity.  With the
    # root's _MERGE_KEY record (r14) the check is exact: when pcol was
    # APPENDED by init (not declared identity) the caller may include
    # or omit it — under the stable-partition contract pcol is then
    # functionally determined by the key, so both spellings name the
    # same identity; when pcol was DECLARED in the key, omitting it
    # would silently reinterpret identity (same key value live in two
    # partitions) and raises.  Pre-r14 roots without the record keep
    # the schema-derived relaxed check.
    declared = _declared_key(root, fs)
    if declared is not None:
        base_key = set(declared["key"])
        ok_keys = [base_key]
        if declared["pcol_appended"]:
            ok_keys.append(base_key | {pcol})
        if set(key) not in ok_keys:
            raise ValueError(
                f"mor_merge key {list(key)} differs from the table's "
                f"declared merge key {declared['key']} (fixed at "
                "mor_init) — row identity cannot change per batch"
            )
    else:
        missing_cols = [c for c in key if c not in dv_cols]
        extra = [c for c in dv_cols if c not in key]
        if missing_cols or extra not in ([], [pcol]):
            raise ValueError(
                f"mor_merge key {list(key)} differs from the table's "
                f"pinned merge key "
                f"{[c for c in dv_cols if c != pcol] or dv_cols} "
                "(fixed at mor_init) — row identity cannot change per batch"
            )
    pending = dv_man["entries"]
    if len(pending) >= MAX_PENDING_BATCHES:
        raise ValueError(
            f"merge-on-read backlog at {root} holds {len(pending)} "
            f"pending batches (cap {MAX_PENDING_BATCHES}) — run "
            "mor_compact; an unbounded backlog turns the read-side "
            "sidecar broadcast into a second table scan"
        )
    b = int(batch_id) if batch_id is not None else _next_batch_id(root, pin, fs)
    # No distinct(): dv rows are equality deletes, so a duplicate one
    # suppresses exactly what the first does — and a dedup here would
    # cost a shuffle and a Spark job on every batch.
    dv_b = source.select(*dv_cols).withColumn(BATCH_COL, F.lit(b).cast("long"))
    rows_b = source
    if delete_col is not None:
        rows_b = rows_b.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        )
    data_b = rows_b.select(*base_cols).withColumn(
        BATCH_COL, F.lit(b).cast("long")
    )
    # The dv/data member commits of one batch touch disjoint roots and
    # only need to BOTH be done before the pin republish — commit them
    # concurrently (optimization guide §2.6, same overlap as the index
    # builds' commit_concurrently) so each streamed batch pays one
    # write-job latency instead of two.  Both plans re-scan the tiny
    # batch source; that double scan existed under the sequential
    # spelling too.
    versions = commit_concurrently(
        {
            "dv": lambda: _commit_batch_member(
                dv_b, dv_root, pin["dv"], b, keep=keep, fs=fs
            ),
            "data": lambda: _commit_batch_member(
                data_b, data_root, pin["data"], b, keep=keep, fs=fs
            ),
        }
    )
    vv, vd = versions["dv"], versions["data"]
    index_publish(
        root,
        {"base": pin["base"], "dv": vv, "data": vd},
        keep=keep,
        fs=fs,
        expected_current=pin_token,
    )
    return {"base": pin["base"], "dv": vv, "data": vd}


def mor_read(
    spark: SparkSession,
    root: str,
    partition_values: list | None = None,
    fs=None,
) -> DataFrame:
    """The merged view: base rows not superseded by any equality
    delete, plus data rows not superseded by a LATER batch's delete —
    column set and order of ``base``.  The dv/data sidecars broadcast
    (bounded by the compaction cadence, loudly capped at merge time),
    so the base scan streams through two broadcast anti-joins with NO
    shuffle of the table — and with ``partition_values`` the base read
    is manifest-pruned exactly like a plain snapshot read (the sidecar
    rows filter on the same partition column)."""
    fs = fs or DEFAULT_FS
    pin = _require_pin(root, fs)
    base_root = _member(root, "base")
    base = snapshot_read(
        spark,
        base_root,
        partition_values=partition_values,
        fs=fs,
        version=pin["base"],
    )
    dv = snapshot_read(spark, _member(root, "dv"), fs=fs, version=pin["dv"])
    data = snapshot_read(
        spark, _member(root, "data"), fs=fs, version=pin["data"]
    )
    if partition_values is not None:
        man = _read_manifest(base_root, pin["base"], fs)
        pcol = man["partition_col"]
        vals = [str(v) for v in partition_values]
        data = data.filter(F.col(pcol).cast("string").isin(vals))
        # dv rows carry pcol (mor_init since r14), so the delete-key
        # broadcast shrinks with the read under the stable-partition
        # contract: a key pinned to partition P can only suppress rows
        # in P (VERDICT r13 #5).  A pre-r14 root's dv lacks the column
        # — broadcast it whole, exactly as before (review r14).
        if pcol in dv.columns:
            dv = dv.filter(F.col(pcol).cast("string").isin(vals))
    # Suppression joins use every non-batch dv column — the key plus
    # the carried pcol, which the contract makes functionally
    # determined by the key, so the join semantics equal key-only.
    key = [c for c in dv.columns if c != BATCH_COL]
    live_base = base.join(F.broadcast(_delete_keys(dv, key)), on=key, how="left_anti")
    d, v = data.alias("d"), dv.alias("v")
    cond = [F.col(f"d.{k}") == F.col(f"v.{k}") for k in key] + [
        F.col(f"v.{BATCH_COL}") > F.col(f"d.{BATCH_COL}")
    ]
    # The anti-join keeps only data's columns: base's plus the batch
    # stamp, so dropping the stamp leaves base's set for unionByName.
    live_delta = d.join(F.broadcast(v), on=cond, how="left_anti").drop(BATCH_COL)
    return live_base.unionByName(live_delta)


def _delete_keys(dv: DataFrame, key: list[str]) -> DataFrame:
    """The distinct delete keys of a dv sidecar, as a broadcast build
    side.  The sidecar is broadcast whole anyway, so it is read in one
    task and de-duplicated there: a single partition already satisfies
    the distinct's clustering, so no shuffle (and no extra job) runs."""
    return dv.select(*key).coalesce(1).distinct()


def _reset_sidecar(
    empty_df: DataFrame,
    member_root: str,
    pinned_version: str,
    keep: int,
    fs,
) -> str:
    """Reset a dv/data sidecar to empty with the PINNED version as the
    optimistic token (ADVICE r13): a ``mor_merge`` batch landing
    between compaction's pin read and this reset advances the live
    pointer past the pin, so the commit raises
    :class:`SnapshotConflictError` instead of silently wiping the
    unfolded batch — the caller retries ``mor_compact``, which reads
    the merge's republished pin and folds the new batch too.

    The one live-past-pin state that is NOT a lost batch is this
    compaction's own orphaned reset (crash between a reset commit and
    the pin republish): its manifest holds no batch outside the pinned
    set, so adopting the live token and recommitting converges exactly
    as before.  Any live entry outside the pinned set re-raises."""
    try:
        return snapshot_commit_partitioned(
            empty_df,
            member_root,
            BATCH_COL,
            keep=keep,
            fs=fs,
            expected_current=pinned_version,
        )
    except SnapshotConflictError:
        live = _current_version(member_root, fs)
        live_entries = set(
            (_read_manifest(member_root, live, fs) or {}).get("entries", {})
        )
        pinned_entries = set(
            (_read_manifest(member_root, pinned_version, fs) or {}).get(
                "entries", {}
            )
        )
        if live_entries - pinned_entries:
            raise
        return snapshot_commit_partitioned(
            empty_df,
            member_root,
            BATCH_COL,
            keep=keep,
            fs=fs,
            expected_current=live,
        )


def mor_compact(
    spark: SparkSession,
    root: str,
    keep: int = 2,
    fs=None,
) -> dict[str, str]:
    """Fold the merge-on-read backlog into ``base``: materialize the
    merged view, rewrite ONLY the partitions the backlog touched
    (manifest-pruned copy-on-write — untouched partitions carry
    forward by reference), reset ``dv``/``data`` to empty, republish
    the pin.  This is where the write amplification actually happens —
    once per compaction cadence instead of once per batch.  Returns
    the new pinned set.

    An EMPTY backlog is the only no-op; a backlog whose deletes hit no
    live row (tombstone replays of absent keys) touches no base
    partition but MUST still reset the sidecars — otherwise the dead
    batches would accumulate toward MAX_PENDING_BATCHES with
    compaction advertised as the remedy yet never clearing them
    (review r13).  The BASE commit uses a live-captured optimistic
    token, like :func:`mor_merge`: a retry after a crash between the
    base commit and the pin republish recomputes the same content from
    the still-pinned consistent state and converges, instead of
    wedging on a conflict against its own orphaned commit (review
    r13).  The dv/data RESETS pass the PINNED versions as their tokens
    (ADVICE r13): a concurrent ``mor_merge`` that lands after the pin
    read surfaces as :class:`SnapshotConflictError` — retry folds it —
    instead of being silently wiped by the reset; the compaction's own
    orphaned reset (no live batch outside the pin) still self-heals
    (see :func:`_reset_sidecar`)."""
    fs = fs or DEFAULT_FS
    pin_token = _pin_token(root, fs)
    pin = _require_pin(root, fs)
    base_root = _member(root, "base")
    man = _read_manifest(base_root, pin["base"], fs)
    pcol = man["partition_col"]
    dv_man = _read_manifest(_member(root, "dv"), pin["dv"], fs)
    data_man = _read_manifest(_member(root, "data"), pin["data"], fs)
    if not (dv_man or {}).get("entries") and not (data_man or {}).get(
        "entries"
    ):
        return pin  # nothing pending — the only true no-op
    dv = snapshot_read(spark, _member(root, "dv"), fs=fs, version=pin["dv"])
    data = snapshot_read(
        spark, _member(root, "data"), fs=fs, version=pin["data"]
    )
    key = [c for c in dv.columns if c != BATCH_COL]
    # Touched partitions: those named by backlog data rows, plus those
    # holding base rows a delete suppresses (a delete-only batch names
    # no data partition but still shrinks one) — both tiny driver lists
    # bounded by the backlog and validated by the commit layer.
    # One distinct over both sidecars' partition values, tagged by side,
    # in one task (the sidecars are small): one job instead of one
    # shuffle and two jobs per sidecar.
    p = F.col(pcol).cast("string").alias("p")
    sides = data.select(p, F.lit(True).alias("in_data"))
    if pcol in dv.columns:
        sides = sides.unionByName(dv.select(p, F.lit(False).alias("in_data")))
    seen = sides.coalesce(1).distinct().collect()
    touched = {str(r[0]) for r in seen if r[1]}
    # Delete-side discovery (r14, VERDICT r13 #4): dv rows carry pcol,
    # so the CANDIDATE partitions come from the sidecar alone and the
    # liveness probe (does any base row actually die there? a dead
    # tombstone must not force a content-identical rewrite) reads ONLY
    # those candidate partitions — never the full base.  A base
    # partition outside the candidate list cannot hold a suppressed
    # row under the stable-partition contract.  A pre-r14 root's dv
    # lacks the column — fall back to probing every base partition,
    # exactly the pre-r14 discovery (review r14).
    if pcol in dv.columns:
        dv_candidates = sorted({str(r[0]) for r in seen} - touched)
    else:
        dv_candidates = sorted(
            set((_read_manifest(base_root, pin["base"], fs) or {})
                .get("entries", {}))
            - touched
        )
    if dv_candidates:
        base_cand = snapshot_read(
            spark,
            base_root,
            partition_values=dv_candidates,
            fs=fs,
            version=pin["base"],
        )
        touched |= {
            str(r[0])
            for r in base_cand.join(
                F.broadcast(_delete_keys(dv, key)), on=key, how="left_semi"
            )
            .select(F.col(pcol).cast("string"))
            .distinct()
            .collect()
        }
    vb = pin["base"]
    if touched:
        merged_touched = mor_read(
            spark, root, partition_values=sorted(touched), fs=fs
        )
        if len(touched) == 1:
            # The commit distributes only multi-partition writes; a
            # one-partition fold still lands as one file.
            merged_touched = merged_touched.hint("rebalance", pcol)
        vb = snapshot_commit_partitioned(
            merged_touched,
            base_root,
            pcol,
            changed_values=sorted(touched),
            keep=keep,
            fs=fs,
        )
    empty_dv = local_frame(spark, [], dv.schema)
    empty_data = local_frame(spark, [], data.schema)
    # The resets run SEQUENTIALLY, not through commit_concurrently
    # (r19, reverting that corner of the r18 §2.6 sweep): the reset
    # pair IS the conflict-detection protocol — a concurrent mor_merge
    # must either land wholly before the first reset (then BOTH resets
    # see its advanced pointers and raise the orderly
    # SnapshotConflictError with the batch intact) or lose its own
    # optimistic commit.  Overlapped resets open a window where the
    # merge's dv commit races one reset while the other has already
    # succeeded — the merge then loses even though it "landed first",
    # which tests pin as a lost batch.  The cost is two SEQUENTIAL
    # empty-frame writes, and an empty LocalTableScan commit is nearly
    # free (functions/localrel.py); mor_init/mor_merge keep their
    # concurrent member commits, where the members are peers and no
    # protocol orders them.
    vv = _reset_sidecar(
        empty_dv, _member(root, "dv"), pin["dv"], keep=keep, fs=fs
    )
    vd = _reset_sidecar(
        empty_data, _member(root, "data"), pin["data"], keep=keep, fs=fs
    )
    index_publish(
        root,
        {"base": vb, "dv": vv, "data": vd},
        keep=keep,
        fs=fs,
        expected_current=pin_token,
    )
    return {"base": vb, "dv": vv, "data": vd}


def mor_pending_batches(root: str, fs=None) -> list[int]:
    """The un-compacted batch ids (metadata-only) — the compaction-
    cadence signal a maintenance loop polls."""
    fs = fs or DEFAULT_FS
    pin = _require_pin(root, fs)
    man = _read_manifest(_member(root, "dv"), pin["dv"], fs)
    return sorted(int(k) for k in (man or {}).get("entries", {}))


def stream_cdc_merge_mor(
    spark: SparkSession,
    changes_dir: str,
    change_schema,
    root: str,
    key: list[str],
    checkpoint: str,
    delete_col: str | None = None,
    await_termination: bool = True,
    fs=None,
    max_files_per_trigger: int | None = None,
):
    """Streaming CDC apply, merge-on-read: the foreachBatch twin of
    ``streaming/cdc.stream_cdc_merge`` writing O(batch) sidecar
    partitions per epoch instead of rewriting base partitions.  The
    epoch id is the batch id, so a crash-replayed epoch rewrites its
    own partitions with identical content (exactly-once without
    bookkeeping — the same no-state idempotence as the index ingest
    streams)."""
    def apply_batch(batch_df, epoch_id: int) -> None:
        mor_merge(
            spark,
            root,
            batch_df,
            key=key,
            delete_col=delete_col,
            batch_id=int(epoch_id) + 1,  # epoch 0 is a valid first batch
            fs=fs,
        )

    return stream_files(
        spark, changes_dir, change_schema, "json", checkpoint, apply_batch,
        await_termination, max_files_per_trigger,
    )
