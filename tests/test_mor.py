"""Merge-on-read CDC tier (streaming/mor.py, VERDICT r12 #5):
equivalence to copy-on-write MERGE, O(batch) write shape, replay
idempotence, compaction, and the loud guards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pulumi_aws_snowflake_spark.operators.warehouse import merge_upsert
from etl_pulumi_aws_snowflake_spark.streaming import mor as MOR
from etl_pulumi_aws_snowflake_spark.streaming.snapshot import index_current


def _seed(spark, n=40):
    return spark.createDataFrame(
        [(i, i % 4, f"name{i}", float(i)) for i in range(n)],
        "id long, part long, name string, bal double",
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id long, part long, name string, bal double, del boolean"
    )


def _rows(df):
    return sorted(map(tuple, df.select("id", "part", "name", "bal").collect()))


def test_mor_equals_copy_on_write_over_batches(spark, tmp_path):
    """Three CDC batches (update / delete / re-insert + cross-batch
    update of the same key) applied merge-on-read produce row-for-row
    the sequential merge_upsert result — the semantics contract."""
    seed = _seed(spark)
    root = str(tmp_path / "mor")
    MOR.mor_init(seed, root, "part", key=["id"])

    batches = [
        # update ids 0..3, delete id 10, insert id 100
        [(0, 0, "upd0", 9.0, False), (1, 1, "upd1", 9.1, False),
         (2, 2, "upd2", 9.2, False), (3, 3, "upd3", 9.3, False),
         (10, 2, "x", 0.0, True), (100, 0, "new", 1.0, False)],
        # update id 0 AGAIN (later batch must win), delete id 100
        # (inserted by the previous batch), update id 5
        [(0, 0, "upd0b", 8.0, False), (100, 0, "x", 0.0, True),
         (5, 1, "upd5", 9.5, False)],
        # re-insert id 10 after its deletion
        [(10, 2, "back", 2.0, False)],
    ]
    cow = seed
    for rows in batches:
        b = _batch(spark, rows)
        cow = merge_upsert(cow, b, key=["id"], delete_col="del")
        # materialize so the next iteration doesn't stack plans
        cow = spark.createDataFrame(cow.collect(), cow.schema)
        MOR.mor_merge(spark, root, b, key=["id"], delete_col="del")

    got = _rows(MOR.mor_read(spark, root))
    assert got == _rows(cow)
    # partition-pruned read: equals the full read filtered
    pruned = _rows(MOR.mor_read(spark, root, partition_values=[0, 2]))
    assert pruned == [r for r in got if r[1] in (0, 2)]


def test_mor_merge_writes_only_the_batch_partition(spark, tmp_path):
    """The write-amplification claim made structural: one merge's new
    dv/data versions physically contain ONLY that batch's partition
    (everything else is a manifest reference), and the base member's
    pinned version does not move."""
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    MOR.mor_merge(
        spark, root,
        _batch(spark, [(0, 0, "a", 1.0, False), (1, 1, "b", 2.0, False)]),
        key=["id"], delete_col="del",
    )
    pin1 = index_current(root)
    MOR.mor_merge(
        spark, root, _batch(spark, [(2, 2, "c", 3.0, False)]),
        key=["id"], delete_col="del",
    )
    pin2 = index_current(root)
    assert pin2["base"] == pin1["base"]  # base untouched by merges
    for member in ("dv", "data"):
        ddir = os.path.join(root, member, pin2[member], "data")
        written = [d for d in os.listdir(ddir) if d.startswith("_p=")]
        assert written == ["_p=2"], (member, written)
    # both batches still readable (batch 1 via manifest reference)
    got = _rows(MOR.mor_read(spark, root))
    assert (2, 2, "c", 3.0) in got and (0, 0, "a", 1.0) in got


def test_mor_streamed_replay_is_idempotent(spark, tmp_path):
    """A replayed epoch (same batch_id, same content) rewrites its own
    partitions with identical content — the foreachBatch exactly-once
    contract without bookkeeping."""
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    b = _batch(spark, [(0, 0, "u", 5.0, False), (7, 3, "x", 0.0, True)])
    MOR.mor_merge(spark, root, b, key=["id"], delete_col="del", batch_id=3)
    want = _rows(MOR.mor_read(spark, root))
    MOR.mor_merge(spark, root, b, key=["id"], delete_col="del", batch_id=3)
    assert _rows(MOR.mor_read(spark, root)) == want
    assert MOR.mor_pending_batches(root) == [3]


def test_mor_heals_crash_between_member_commit_and_publish(
    spark, tmp_path, monkeypatch
):
    """Crash after the member commits but before the pin republish:
    readers stay on the old consistent pin; the epoch replay converges
    instead of wedging on a conflict."""
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    b = _batch(spark, [(0, 0, "u", 5.0, False)])

    real_publish = MOR.index_publish
    monkeypatch.setattr(
        MOR, "index_publish",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        MOR.mor_merge(spark, root, b, key=["id"], delete_col="del", batch_id=1)
    # torn state: members advanced, pin did not — reads stay consistent
    assert _rows(MOR.mor_read(spark, root)) == _rows(_seed(spark))
    monkeypatch.setattr(MOR, "index_publish", real_publish)
    MOR.mor_merge(spark, root, b, key=["id"], delete_col="del", batch_id=1)
    got = _rows(MOR.mor_read(spark, root))
    assert (0, 0, "u", 5.0) in got and len(got) == 40


def test_mor_heals_crash_replay_of_delete_only_batch(
    spark, tmp_path, monkeypatch
):
    """Review r14: a delete-only batch writes an EMPTY data partition,
    which snapshot_commit_partitioned drops from the manifest — so its
    orphaned data commit advances the version WITHOUT adding the
    batch's entry.  The crash-replay heal must recognize that form too
    (live entries == pinned entries), or the stream wedges forever on
    a conflict it can never clear."""
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    b = _batch(spark, [(7, 3, "x", 0.0, True), (11, 3, "y", 0.0, True)])

    real_publish = MOR.index_publish
    monkeypatch.setattr(
        MOR, "index_publish",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        MOR.mor_merge(spark, root, b, key=["id"], delete_col="del", batch_id=1)
    assert _rows(MOR.mor_read(spark, root)) == _rows(_seed(spark))
    monkeypatch.setattr(MOR, "index_publish", real_publish)
    MOR.mor_merge(spark, root, b, key=["id"], delete_col="del", batch_id=1)
    got = _rows(MOR.mor_read(spark, root))
    assert len(got) == 38
    assert not any(r[0] in (7, 11) for r in got)
    # and the replay converges a second time too (idempotent)
    MOR.mor_merge(spark, root, b, key=["id"], delete_col="del", batch_id=1)
    assert _rows(MOR.mor_read(spark, root)) == got


def test_mor_key_declared_with_pcol_rejects_pcol_omitting_merges(
    spark, tmp_path
):
    """Review r14: when the partition column was DECLARED as part of
    the merge key at init (genuinely two-column identity — the same id
    may live in two partitions), a merge that omits it must raise
    instead of silently reinterpreting row identity.  When the pcol
    was APPENDED by init, both spellings stay accepted."""
    root = str(tmp_path / "mor_declared")
    MOR.mor_init(_seed(spark), root, "part", key=["id", "part"])
    b = _batch(spark, [(0, 0, "u", 5.0, False)])
    with pytest.raises(ValueError, match="declared merge key"):
        MOR.mor_merge(spark, root, b, key=["id"], delete_col="del",
                      batch_id=1)
    MOR.mor_merge(spark, root, b, key=["id", "part"], delete_col="del",
                  batch_id=1)

    root2 = str(tmp_path / "mor_appended")
    MOR.mor_init(_seed(spark), root2, "part", key=["id"])
    MOR.mor_merge(spark, root2, b, key=["id"], delete_col="del", batch_id=1)
    MOR.mor_merge(spark, root2, b, key=["id", "part"], delete_col="del",
                  batch_id=2)
    with pytest.raises(ValueError, match="declared merge key"):
        MOR.mor_merge(spark, root2, b, key=["id", "name"],
                      delete_col="del", batch_id=3)


def test_mor_pre_r14_root_without_key_record_keeps_relaxed_check(
    spark, tmp_path
):
    """Back-compat: a root created before the _MERGE_KEY record exists
    falls back to the schema-derived check — pcol may be included or
    omitted, any other difference still raises with the pinned-key
    wording."""
    root = str(tmp_path / "mor_legacy")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    os.remove(os.path.join(root, MOR._KEY_FILE))
    b = _batch(spark, [(0, 0, "u", 5.0, False)])
    MOR.mor_merge(spark, root, b, key=["id"], delete_col="del", batch_id=1)
    MOR.mor_merge(spark, root, b, key=["id", "part"], delete_col="del",
                  batch_id=2)
    with pytest.raises(ValueError, match="pinned merge key"):
        MOR.mor_merge(spark, root, b, key=["id", "name"],
                      delete_col="del", batch_id=3)


def test_mor_compact_folds_backlog_and_preserves_content(spark, tmp_path):
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    MOR.mor_merge(
        spark, root,
        _batch(spark, [(0, 0, "u", 5.0, False), (9, 1, "x", 0.0, True)]),
        key=["id"], delete_col="del",
    )
    MOR.mor_merge(
        spark, root, _batch(spark, [(200, 2, "new", 7.0, False)]),
        key=["id"], delete_col="del",
    )
    want = _rows(MOR.mor_read(spark, root))
    pin_before = index_current(root)
    MOR.mor_compact(spark, root)
    assert _rows(MOR.mor_read(spark, root)) == want
    assert MOR.mor_pending_batches(root) == []
    pin = index_current(root)
    assert pin["base"] != pin_before["base"]
    # untouched partition (part=3) carried forward by reference, not
    # rewritten: its manifest entry still names the seed version
    import json

    man = json.loads(
        open(
            os.path.join(root, "base", pin["base"], "_MANIFEST.json")
        ).read()
    )
    assert man["entries"]["3"] != pin["base"]
    # a second compact with an empty backlog is a no-op (same pin)
    assert MOR.mor_compact(spark, root) == pin
    # and merging continues cleanly after compaction
    MOR.mor_merge(
        spark, root, _batch(spark, [(300, 3, "late", 1.0, False)]),
        key=["id"], delete_col="del",
    )
    assert (300, 3, "late", 1.0) in _rows(MOR.mor_read(spark, root))


def test_mor_loud_guards(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "mor")
    with pytest.raises(ValueError, match="merge-on-read root"):
        MOR.mor_read(spark, str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="reserved"):
        MOR.mor_init(
            _seed(spark).withColumn("_batch", F.lit(1)), root, "part",
            key=["id"],
        )
    with pytest.raises(ValueError, match="key column"):
        MOR.mor_init(_seed(spark), root, "part", key=["missing"])
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    # a genuinely different identity raises; including the partition
    # column is NOT a different identity (pcol is functionally
    # determined by the key under the stable-partition contract, and
    # dv rows carry it since r14), so ["id", "part"] is accepted
    with pytest.raises(ValueError, match="declared merge key"):
        MOR.mor_merge(
            spark, root,
            _batch(spark, [(0, 0, "u", 1.0, False)]),
            key=["id", "name"], delete_col="del",
        )
    # schema drift fails loudly before any write (shared MERGE rules)
    with pytest.raises(ValueError, match="missing target column"):
        MOR.mor_merge(
            spark, root,
            spark.createDataFrame([(1, 2)], "id long, part long"),
            key=["id"],
        )
    # backlog cap
    monkeypatch.setattr(MOR, "MAX_PENDING_BATCHES", 1)
    MOR.mor_merge(
        spark, root, _batch(spark, [(0, 0, "u", 1.0, False)]), key=["id"],
        delete_col="del",
    )
    with pytest.raises(ValueError, match="backlog"):
        MOR.mor_merge(
            spark, root, _batch(spark, [(1, 1, "v", 2.0, False)]),
            key=["id"], delete_col="del",
        )


def test_mor_read_plan_is_broadcast_anti_joins(spark, tmp_path):
    """Read-path plan guard: the base scan streams through BROADCAST
    anti-joins (the sidecars are the broadcast side) — no sort-merge
    join, no shuffle of the base table."""
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    MOR.mor_merge(
        spark, root, _batch(spark, [(0, 0, "u", 1.0, False)]), key=["id"],
        delete_col="del",
    )
    plan = MOR.mor_read(spark, root)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftAnti, BuildRight") >= 2
    assert "SortMergeJoin" not in plan


def test_mor_compact_heals_crash_before_publish(spark, tmp_path, monkeypatch):
    """Review r13: a crash between the base commit and the pin
    republish must not wedge compaction — the retry recomputes from
    the still-pinned consistent state and converges (live-captured
    tokens, the mor_merge discipline)."""
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    MOR.mor_merge(
        spark, root, _batch(spark, [(0, 0, "u", 5.0, False)]),
        key=["id"], delete_col="del",
    )
    want = _rows(MOR.mor_read(spark, root))

    real_publish = MOR.index_publish
    monkeypatch.setattr(
        MOR, "index_publish",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        MOR.mor_compact(spark, root)
    # readers still consistent on the old pin
    assert _rows(MOR.mor_read(spark, root)) == want
    monkeypatch.setattr(MOR, "index_publish", real_publish)
    MOR.mor_compact(spark, root)  # must NOT raise SnapshotConflictError
    assert _rows(MOR.mor_read(spark, root)) == want
    assert MOR.mor_pending_batches(root) == []


def test_mor_compact_clears_dead_tombstone_backlog(spark, tmp_path):
    """Review r13: delete-only batches for keys absent everywhere
    touch no base partition, but compaction must still clear them —
    otherwise the backlog grows toward the cap with compaction
    advertised as the remedy yet a permanent no-op."""
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])
    MOR.mor_merge(
        spark, root,
        _batch(spark, [(7777, 1, "x", 0.0, True), (8888, 2, "x", 0.0, True)]),
        key=["id"], delete_col="del",
    )
    assert MOR.mor_pending_batches(root) == [1]
    want = _rows(MOR.mor_read(spark, root))
    pin_before = index_current(root)
    MOR.mor_compact(spark, root)
    assert MOR.mor_pending_batches(root) == []
    assert _rows(MOR.mor_read(spark, root)) == want
    # base untouched (no partition was affected), sidecars reset
    assert index_current(root)["base"] == pin_before["base"]


def test_mor_fuzz_random_batch_sequences_match_cow(spark, tmp_path):
    """Seeded fuzz over random CDC histories: any interleaving of
    updates / deletes / re-inserts / new keys across batches — with
    compaction injected mid-stream — must read exactly like the
    sequential copy-on-write merge of the same batches."""
    import random

    rng = random.Random(29)
    for trial in range(3):
        seed = _seed(spark, n=30)
        root = str(tmp_path / f"mor{trial}")
        MOR.mor_init(seed, root, "part", key=["id"])
        cow = seed
        live_ids = set(range(30))
        next_new = 1000
        for b in range(4):
            rows, used = [], set()
            for _ in range(rng.randint(1, 8)):
                op = rng.choice(["upd", "del", "ins"])
                if op == "ins" or not live_ids:
                    i = next_new
                    next_new += 1
                elif op == "del":
                    i = rng.choice(sorted(live_ids))
                else:
                    i = rng.choice(sorted(live_ids))
                if i in used:
                    continue  # batch keys unique per contract
                used.add(i)
                if op == "del" and i in live_ids:
                    rows.append((i, i % 4, "x", 0.0, True))
                    live_ids.discard(i)
                else:
                    rows.append(
                        (i, i % 4, f"v{b}_{i}", float(b * 100 + i), False)
                    )
                    live_ids.add(i)
            if not rows:
                continue
            batch = _batch(spark, rows)
            cow = spark.createDataFrame(
                merge_upsert(cow, batch, key=["id"], delete_col="del").collect(),
                cow.schema,
            )
            MOR.mor_merge(spark, root, batch, key=["id"], delete_col="del")
            if b == 1:  # compaction mid-history must be transparent
                MOR.mor_compact(spark, root)
        assert _rows(MOR.mor_read(spark, root)) == _rows(cow), trial


def test_mor_compact_detects_concurrent_merge_instead_of_wiping_it(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13: a mor_merge landing between compaction's pin read
    and its sidecar reset must surface as SnapshotConflictError — with
    live-captured reset tokens it was silently wiped (a lost batch).
    The retry reads the merge's republished pin and folds BOTH
    batches."""
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        SnapshotConflictError,
    )

    root = str(tmp_path / "mor")
    seed = _seed(spark)
    MOR.mor_init(seed, root, "part", key=["id"])
    b1 = _batch(spark, [(0, 0, "first", 5.0, False)])
    b2 = _batch(spark, [(1, 1, "second", 6.0, False), (2, 2, "x", 0.0, True)])
    MOR.mor_merge(spark, root, b1, key=["id"], delete_col="del")

    cow = merge_upsert(seed, b1, key=["id"], delete_col="del")
    cow = merge_upsert(cow, b2, key=["id"], delete_col="del")
    want = sorted(map(tuple, cow.select("id", "part", "name", "bal").collect()))

    real_reset = MOR._reset_sidecar
    fired = {"done": False}

    def racy(empty_df, member_root, pinned_version, keep, fs):
        if not fired["done"]:
            fired["done"] = True
            MOR.mor_merge(spark, root, b2, key=["id"], delete_col="del")
        return real_reset(empty_df, member_root, pinned_version, keep, fs)

    monkeypatch.setattr(MOR, "_reset_sidecar", racy)
    with pytest.raises(SnapshotConflictError):
        MOR.mor_compact(spark, root)
    # the concurrent batch survived: readers see BOTH batches
    assert _rows(MOR.mor_read(spark, root)) == want
    monkeypatch.setattr(MOR, "_reset_sidecar", real_reset)
    MOR.mor_compact(spark, root)  # retry folds both
    assert _rows(MOR.mor_read(spark, root)) == want
    assert MOR.mor_pending_batches(root) == []


def test_mor_compact_discovery_reads_only_candidate_partitions(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 #4: a 1-partition backlog against a many-partition
    base must not anti-probe the FULL base to discover what to rewrite
    — dv rows carry the partition column, so the liveness probe reads
    ONLY the candidate partitions the sidecar names.  Spied via the
    snapshot_read seam: every base read during compaction must be
    partition-pruned, never a full-table read."""
    seed = spark.createDataFrame(
        [(i, i % 16, f"n{i}", float(i)) for i in range(64)],
        "id long, part long, name string, bal double",
    )
    root = str(tmp_path / "mor")
    MOR.mor_init(seed, root, "part", key=["id"])
    # delete-only batch touching ONE of the 16 partitions
    MOR.mor_merge(
        spark, root, _batch(spark, [(3, 3, "x", 0.0, True)]),
        key=["id"], delete_col="del",
    )
    want = _rows(MOR.mor_read(spark, root))

    base_root = os.path.join(root, "base")
    real_read = MOR.snapshot_read
    base_reads = []

    def spy(spark_, r, partition_values=None, **kw):
        if r == base_root:
            base_reads.append(partition_values)
        return real_read(spark_, r, partition_values=partition_values, **kw)

    monkeypatch.setattr(MOR, "snapshot_read", spy)
    MOR.mor_compact(spark, root)
    monkeypatch.setattr(MOR, "snapshot_read", real_read)
    assert base_reads, "compaction never read base?"
    for pv in base_reads:
        assert pv is not None, "full-base read during compaction discovery"
        assert set(pv) <= {"3", 3}, pv
    assert _rows(MOR.mor_read(spark, root)) == want
    assert MOR.mor_pending_batches(root) == []


def test_mor_pruned_read_shrinks_the_dv_broadcast(spark, tmp_path):
    """VERDICT r13 #5: mor_read(partition_values=...) filters the
    delete-key broadcast by the carried partition column along with
    base and data — the dv side of the plan carries the pcol filter,
    and the pruned read equals the full read restricted to those
    partitions."""
    seed = _seed(spark)  # parts 0..3
    root = str(tmp_path / "mor")
    MOR.mor_init(seed, root, "part", key=["id"])
    MOR.mor_merge(
        spark, root,
        _batch(spark, [(0, 0, "u0", 9.0, False), (1, 1, "x", 0.0, True),
                       (2, 2, "u2", 7.0, False)]),
        key=["id"], delete_col="del",
    )
    full = MOR.mor_read(spark, root)
    pruned = MOR.mor_read(spark, root, partition_values=[1])
    want = sorted(
        map(tuple, full.filter(F.col("part") == 1)
            .select("id", "part", "name", "bal").collect())
    )
    assert _rows(pruned) == want
    # the dv relation enters the plan behind a pcol filter: the plan
    # must filter on part BEFORE both broadcast anti-joins
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("BroadcastHashJoin LeftAnti BuildRight") >= 2
    # THREE pcol filters: the data member's, and one per dv usage
    # (anti-join key build + later-batch suppression side) — the base
    # member is manifest-pruned (no filter needed).
    pcol_filters = [
        ln
        for ln in plan.splitlines()
        if "cast(part" in ln and "as string) = 1" in ln
    ]
    assert len(pcol_filters) >= 3, plan


def test_mor_merge_between_resets_and_republish_conflicts_loudly(
    spark, tmp_path, monkeypatch
):
    """Review r14: a merge landing BETWEEN compaction's sidecar resets
    and its pin republish used to pair the OLD base with the RESET
    sidecars and publish — silently losing every pre-compaction batch.
    Member commits now carry PINNED tokens, so that merge conflicts
    LOUDLY (live dv moved past the pin and is not the merge's own
    orphan); compaction completes, and the failed batch re-applies
    cleanly on the folded pin."""
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        SnapshotConflictError,
    )

    root = str(tmp_path / "mor")
    seed = _seed(spark)
    MOR.mor_init(seed, root, "part", key=["id"])
    b1 = _batch(spark, [(0, 0, "first", 5.0, False)])
    b2 = _batch(spark, [(1, 1, "second", 6.0, False)])
    MOR.mor_merge(spark, root, b1, key=["id"], delete_col="del")
    cow = merge_upsert(seed, b1, key=["id"], delete_col="del")
    after_b1 = sorted(
        map(tuple, cow.select("id", "part", "name", "bal").collect())
    )
    cow = merge_upsert(cow, b2, key=["id"], delete_col="del")
    want = sorted(map(tuple, cow.select("id", "part", "name", "bal").collect()))

    real_publish = MOR.index_publish
    state = {"fired": False, "merge_error": None}

    def racy_publish(r, members, **kw):
        # fire the merge just before COMPACTION's publish (identified
        # by its CAS token — merges inside this hook delegate normally)
        if not state["fired"] and kw.get("expected_current") is not None:
            state["fired"] = True
            try:
                MOR.mor_merge(spark, root, b2, key=["id"], delete_col="del")
            except SnapshotConflictError as exc:
                state["merge_error"] = exc
        return real_publish(r, members, **kw)

    monkeypatch.setattr(MOR, "index_publish", racy_publish)
    MOR.mor_compact(spark, root)  # completes: the merge failed, not us
    monkeypatch.setattr(MOR, "index_publish", real_publish)
    assert isinstance(state["merge_error"], SnapshotConflictError)
    # nothing lost: the folded table equals the pre-race content
    assert _rows(MOR.mor_read(spark, root)) == after_b1
    assert MOR.mor_pending_batches(root) == []
    # the failed batch re-applies cleanly on the folded pin
    MOR.mor_merge(spark, root, b2, key=["id"], delete_col="del")
    assert _rows(MOR.mor_read(spark, root)) == want


def _base_files_per_partition(root):
    """{partition value: .parquet file count} of the live base."""
    import json

    base = os.path.join(root, "base")
    with open(os.path.join(base, index_current(root)["base"], "_MANIFEST.json")) as f:
        entries = json.load(f)["entries"]
    return {
        p: sum(
            f.endswith(".parquet")
            for f in os.listdir(os.path.join(base, v, "data", f"_p={p}"))
        )
        for p, v in entries.items()
    }


def _jobs_launched(spark, fn):
    """Spark jobs started while ``fn`` runs (nothing else runs here)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def test_mor_base_keeps_one_file_per_partition(spark, tmp_path):
    """Multi-partition commits distribute rows by partition before
    writing: a base seeded from a 4-task frame, and every base partition
    a compaction rewrites (several at once, or just one), holds exactly
    one file — while a merge's single-partition sidecar commits gain no
    shuffle (two write jobs, no dedup job)."""
    root = str(tmp_path / "mor")
    seed = spark.range(0, 80, numPartitions=4).select(
        "id",
        (F.col("id") % 4).alias("part"),
        F.concat(F.lit("name"), F.col("id").cast("string")).alias("name"),
        F.col("id").cast("double").alias("bal"),
    )
    MOR.mor_init(seed, root, "part", key=["id"])
    assert _base_files_per_partition(root) == {str(p): 1 for p in range(4)}

    spread = _batch(spark, [(i, i % 4, f"u{i}", -1.0, False) for i in range(0, 12, 5)])
    jobs = _jobs_launched(
        spark,
        lambda: MOR.mor_merge(spark, root, spread, key=["id"], delete_col="del"),
    )
    assert jobs <= 2, jobs
    MOR.mor_merge(
        spark, root,
        _batch(spark, [(7, 3, "x", 0.0, True), (100, 0, "new", 1.0, False)]),
        key=["id"], delete_col="del",
    )
    MOR.mor_compact(spark, root)
    assert _base_files_per_partition(root) == {str(p): 1 for p in range(4)}

    MOR.mor_merge(
        spark, root, _batch(spark, [(2, 2, "one", 2.0, False)]),
        key=["id"], delete_col="del",
    )
    MOR.mor_compact(spark, root)  # a one-partition fold
    assert _base_files_per_partition(root) == {str(p): 1 for p in range(4)}
    got = {r[0]: r[2] for r in _rows(MOR.mor_read(spark, root))}
    assert len(got) == 80 and got[2] == "one" and got[5] == "u5"
    assert 7 not in got and got[100] == "new"


def test_mor_merge_plans_no_member_scan(spark, tmp_path, monkeypatch):
    """A merge takes the base and dv schemas from the pinned manifests:
    it plans no scan of any member (each costs driver round trips and
    a file listing on every batch), yet keeps the pinned-version
    readability check and the schema rules."""
    root = str(tmp_path / "mor")
    MOR.mor_init(_seed(spark), root, "part", key=["id"])

    def no_scan(*a, **kw):
        raise AssertionError("mor_merge planned a member scan")

    monkeypatch.setattr(MOR, "snapshot_read", no_scan)
    MOR.mor_merge(
        spark, root, _batch(spark, [(0, 0, "u", 1.0, False), (3, 3, "x", 0.0, True)]),
        key=["id"], delete_col="del",
    )
    with pytest.raises(ValueError, match="differ from target"):
        MOR.mor_merge(
            spark, root,
            spark.createDataFrame([(1, 1, "v", 2)], "id long, part long, name string, bal long"),
            key=["id"],
        )
    monkeypatch.undo()
    got = {r[0]: r[2] for r in _rows(MOR.mor_read(spark, root))}
    assert len(got) == 39 and got[0] == "u" and 3 not in got
