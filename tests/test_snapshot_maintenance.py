"""Snapshot maintenance: compaction (reference-spread bounding /
small-file consolidation) and optimistic concurrent-writer detection
— `streaming/snapshot.py`'s `snapshot_compact`, `snapshot_fragmentation`,
and `SnapshotConflictError`.

The scale claim under test: pruned MERGE makes per-batch cost
O(changed partitions) but lets the live table's data spread across one
pinned version dir per batch; compaction rewrites the fragmented
partitions so the manifest references at most {new, previous-live} and
rotation can GC everything older.
"""

from __future__ import annotations

import json
import os

from tests.test_streaming import _part_files, _seed_partitioned


def _merge(spark, root, k, p, v="UPD"):
    """One pruned merge updating key ``k`` in partition ``p``."""
    from etl_pulumi_aws_snowflake_spark.operators.warehouse import merge_upsert_pruned

    batch = spark.createDataFrame(
        [(k, p, v, False)], "k bigint, p bigint, v string, is_delete boolean"
    )
    return merge_upsert_pruned(spark, root, batch, ["k"], "p", delete_col="is_delete")


def _rows(spark, root, **kw):
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import snapshot_read

    return {(r.k, r.p, r.v) for r in snapshot_read(spark, root, **kw).collect()}


def _manifest(root, version):
    with open(os.path.join(root, version, "_MANIFEST.json")) as f:
        return json.load(f)


def test_compaction_preserves_rows_and_bounds_references(spark, tmp_path):
    """Two pruned merges touching different partitions spread the live
    data over three version dirs; compaction rewrites the two
    non-live-resident partitions into a fresh version whose manifest
    references at most {new, old-live}, with the row set unchanged."""
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        snapshot_compact,
        snapshot_fragmentation,
    )

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)          # v1 holds p=0,1,2
    _merge(spark, root, 4, 1)               # v2: p=1 moves, p=0/2 ref v1
    _merge(spark, root, 5, 2)               # v3: p=2 moves, p=1 ref v2, p=0 ref v1
    frag = snapshot_fragmentation(root)
    assert frag["partitioned"] and frag["versions_referenced"] == 3
    assert frag["partitions_carried"] == 2

    before = _rows(spark, root)
    v = snapshot_compact(spark, root)
    assert v == "v-00004"
    assert _rows(spark, root) == before

    man = _manifest(root, v)
    # p=2 stayed resident in the old live (v3) — carried by reference;
    # p=0 (from v1) and p=1 (from v2) were rewritten into v4.
    assert man["entries"] == {"0": "v-00004", "1": "v-00004", "2": "v-00003"}
    frag = snapshot_fragmentation(root)
    assert frag["versions_referenced"] == 2
    assert frag["partitions_carried"] == 1


def test_compaction_is_noop_when_unfragmented(spark, tmp_path):
    """Right after a full partitioned commit nothing is fragmented:
    compact publishes NOTHING (no new version, pointer unchanged) and
    returns None — idempotent under a maintenance schedule."""
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        _current_version,
        snapshot_compact,
    )

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)
    assert snapshot_compact(spark, root) is None
    assert _current_version(root) == "v-00001"
    assert sorted(d for d in os.listdir(root) if d.startswith("v-")) == ["v-00001"]
    # and a second call after a no-op is still a no-op
    assert snapshot_compact(spark, root) is None

    # A QUIET table inside the reference bound ({v1, v2} = 2) also
    # no-ops: without the max_versions_referenced threshold a scheduled
    # compactor would re-rewrite the previously-carried half forever
    # (each compact makes the old live version's residents the next
    # run's "fragmented" set).
    _merge(spark, root, 4, 1)
    assert snapshot_compact(spark, root) is None
    assert _current_version(root) == "v-00002"


def test_compaction_scope_narrows_to_named_partitions(spark, tmp_path):
    """partition_values limits the rewrite (spread maintenance over
    windows): only the named fragmented partition moves; the other
    keeps its old reference AND its exact bytes."""
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import snapshot_compact

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)
    _merge(spark, root, 4, 1)               # v2; p=0,2 still in v1
    before_p2 = _part_files(root, "v-00001", 2)

    v = snapshot_compact(spark, root, partition_values=[0])
    man = _manifest(root, v)
    assert man["entries"]["0"] == v
    assert man["entries"]["2"] == "v-00001"          # still carried
    assert _part_files(root, "v-00001", 2) == before_p2
    # scoping to an already-live partition is a no-op
    assert snapshot_compact(spark, root, partition_values=[0]) is None


def test_compaction_then_rotation_releases_old_dirs(spark, tmp_path):
    """The GC payoff: after compaction, one more pruned merge rotates
    the pre-compaction versions out of keep=2 and their dirs are
    reclaimed — on-disk history stops growing with batch count."""
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import snapshot_compact

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)          # v1
    _merge(spark, root, 4, 1)               # v2
    _merge(spark, root, 5, 2)               # v3
    assert snapshot_compact(spark, root) == "v-00004"
    # v4 refs {v3, v4}; kept manifests (v3, v4) still pin v1, v2
    dirs = sorted(d for d in os.listdir(root) if d.startswith("v-"))
    assert dirs == ["v-00001", "v-00002", "v-00003", "v-00004"]

    before = _rows(spark, root)
    _merge(spark, root, 6, 0, v="UPD2")     # v5: kept = {v4, v5}
    dirs = sorted(d for d in os.listdir(root) if d.startswith("v-"))
    # v1 and v2 released (nothing kept references them); v3 survives
    # as the data holder of the carried partition p=2.
    assert dirs == ["v-00003", "v-00004", "v-00005"]
    want = {(6, 0, "UPD2") if k == 6 else (k, p, v) for (k, p, v) in before}
    assert _rows(spark, root) == want


def test_compaction_coalesces_to_one_file_per_partition(spark, tmp_path):
    """Compaction writes each rewritten partition as a single parquet
    file — the small-file half of OPTIMIZE."""
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import snapshot_compact

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)
    _merge(spark, root, 4, 1)
    _merge(spark, root, 5, 2)               # refs {v1,v2,v3} > bound
    v = snapshot_compact(spark, root)
    for p in (0, 1):  # the carried partitions (v1's p=0, v2's p=1)
        files = _part_files(root, v, p)
        assert len(files) == 1, f"_p={p}: expected 1 file, got {sorted(files)}"


def test_compaction_clusters_rewritten_partitions(spark, tmp_path):
    """`cluster_by` (linear OPTIMIZE-ZORDER) must leave content
    untouched while making every rewritten partition's file MONOTONE in
    the cluster column — the property parquet row-group min/max pruning
    needs to skip most of a file on a range predicate."""
    import pyarrow.parquet as pq

    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        snapshot_compact,
    )

    root = str(tmp_path / "snap")
    _seed = _seed_partitioned(spark, root)  # k = 0..29, p = k % 3
    _merge(spark, root, 4, 1)
    _merge(spark, root, 5, 2)
    before = _rows(spark, root)
    v = snapshot_compact(spark, root, cluster_by=["k"])
    assert v is not None
    assert _rows(spark, root) == before  # clustering never changes rows

    man = _manifest(root, v)
    rewritten = [p for p, ver in man["entries"].items() if ver == v]
    assert rewritten  # the clustering claim must actually be exercised
    for p in rewritten:
        d = os.path.join(root, v, "data", f"_p={p}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1  # one file per rewritten partition
        ks = pq.read_table(os.path.join(d, files[0]), columns=["k"])[
            "k"
        ].to_pylist()
        assert ks == sorted(ks), f"partition {p} not cluster-sorted: {ks}"
        assert len(ks) >= 5  # monotonicity over a non-trivial run


def test_concurrent_commit_raises_and_preserves_winner(spark, tmp_path):
    """Optimistic concurrency: a commit whose expected_current token is
    stale (another writer published in between) raises
    SnapshotConflictError, leaves the winner's pointer live, and
    removes its own unpublished dir."""
    import pytest

    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        SnapshotConflictError,
        _current_version,
        snapshot_commit,
        snapshot_read,
    )

    root = str(tmp_path / "snap")
    snapshot_commit(spark.range(5), root)                      # v1
    stale = _current_version(root)                             # both writers read v1
    snapshot_commit(spark.range(10), root, expected_current=stale)  # winner → v2
    with pytest.raises(SnapshotConflictError, match="another writer"):
        snapshot_commit(spark.range(99), root, expected_current=stale)
    assert _current_version(root) == "v-00002"
    assert snapshot_read(spark, root).count() == 10
    assert sorted(d for d in os.listdir(root) if d.startswith("v-")) == [
        "v-00001",
        "v-00002",
    ]


def test_conflict_during_write_cleans_loser_but_never_live_dir(spark, tmp_path):
    """The pre-swap check (a swap that happened DURING the data write):
    the loser's unpublished dir is removed — unless the winner published
    that very dir name, which must NOT be deleted (it is live) and the
    error must flag the overlap as corrupting."""
    import pytest

    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        DEFAULT_FS,
        SnapshotConflictError,
        _check_unchanged,
        snapshot_commit,
    )

    root = str(tmp_path / "snap")
    snapshot_commit(spark.range(5), root)                      # v1
    snapshot_commit(spark.range(10), root)                     # v2 (live)

    # Loser had expected=v1 and wrote an orphan v-00003 before noticing.
    orphan = os.path.join(root, "v-00003")
    os.makedirs(orphan)
    with pytest.raises(SnapshotConflictError, match="another writer"):
        _check_unchanged(root, "v-00001", DEFAULT_FS, new="v-00003")
    assert not os.path.exists(orphan), "loser's unpublished dir swept"

    # Loser's target collides with the live dir: never delete it.
    with pytest.raises(SnapshotConflictError, match="recommitted"):
        _check_unchanged(root, "v-00001", DEFAULT_FS, new="v-00002")
    assert os.path.exists(os.path.join(root, "v-00002"))

    # Winner advanced PAST the loser's target (published v2 then v3):
    # the loser's target dir is at/below the live pointer — it is
    # published data (possibly a referenced data holder) and must
    # survive the sweep too.
    snapshot_commit(spark.range(7), root)                      # v3 live
    with pytest.raises(SnapshotConflictError, match="left in\\s+place"):
        _check_unchanged(root, "v-00001", DEFAULT_FS, new="v-00002")
    assert os.path.exists(os.path.join(root, "v-00002"))


def test_concurrent_partitioned_commit_raises(spark, tmp_path):
    """Same token check on the partitioned commit path — the stale
    loser fails BEFORE writing anything (zero footprint)."""
    import pytest

    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        SnapshotConflictError,
        _current_version,
        snapshot_commit_partitioned,
    )

    root = str(tmp_path / "snap")
    df = _seed_partitioned(spark, root)                        # v1
    stale = _current_version(root)
    snapshot_commit_partitioned(df, root, "p", expected_current=stale)  # v2
    with pytest.raises(SnapshotConflictError):
        snapshot_commit_partitioned(df, root, "p", expected_current=stale)
    assert _current_version(root) == "v-00002"
    assert not os.path.exists(os.path.join(root, "v-00003"))


def test_pruned_merge_schema_evolution_null_fills_carried_partitions(spark, tmp_path):
    """Additive evolution through the pruned path: a batch carrying a
    NEW column rewrites only its partition with the widened schema; the
    carried-forward partitions' pre-evolution files null-fill on read
    (the manifest-schema-pinned scan), and time travel to the
    pre-evolution version still shows the narrow schema."""
    from etl_pulumi_aws_snowflake_spark.operators.warehouse import merge_upsert_pruned
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import snapshot_read

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)                             # v1: k, p, v
    batch = spark.createDataFrame(
        [(4, 1, "UPD", False, "feed-x")],
        "k bigint, p bigint, v string, is_delete boolean, feed string",
    )
    merge_upsert_pruned(
        spark, root, batch, ["k"], "p",
        delete_col="is_delete", allow_new_columns=True,
    )
    out = snapshot_read(spark, root)
    assert out.columns == ["k", "p", "v", "feed"]
    rows = {r.k: r.feed for r in out.collect()}
    assert rows[4] == "feed-x"
    # every row outside the rewritten partition came from v1 files
    # that predate `feed` — null-filled, not failed
    assert all(v is None for k, v in rows.items() if k != 4)
    assert len(rows) == 30

    old = snapshot_read(spark, root, version="v-00001")
    assert old.columns == ["k", "p", "v"]


def test_stream_cdc_merge_forwards_schema_evolution(spark, tmp_path):
    """The streaming CDC loop forwards allow_new_columns to the
    per-batch MERGE: a change feed carrying a new column widens the
    snapshot, untouched rows null-fill."""
    from pyspark.sql import types as T

    from etl_pulumi_aws_snowflake_spark.streaming.cdc import stream_cdc_merge
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import snapshot_read

    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, name string"
    ).write.parquet(snap)
    changes = str(tmp_path / "changes")
    os.makedirs(changes)
    with open(os.path.join(changes, "c1.json"), "w") as f:
        f.write('{"k": 2, "name": "b2", "feed": "x"}\n')
        f.write('{"k": 3, "name": "c", "feed": "y"}\n')
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("feed", T.StringType()),
        ]
    )
    stream_cdc_merge(
        spark,
        changes,
        schema,
        snap,
        ["k"],
        str(tmp_path / "ckpt"),
        allow_new_columns=True,
    )
    out = snapshot_read(spark, snap)
    assert out.columns == ["k", "name", "feed"]
    assert {(r.k, r.name, r.feed) for r in out.collect()} == {
        (1, "a", None),
        (2, "b2", "x"),
        (3, "c", "y"),
    }


def test_compact_vs_commit_race_both_orders(spark, tmp_path):
    """Deterministic pin of the compact-vs-commit conflict pair (the
    hypothesis history model also interleaves it randomly): whichever
    of {compaction, pruned MERGE} publishes second off a shared live
    version must lose with SnapshotConflictError and zero footprint,
    and the winner's content survives untouched."""
    import pytest

    import etl_pulumi_aws_snowflake_spark.streaming.snapshot as snap_mod
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        SnapshotConflictError,
        snapshot_commit_partitioned,
        snapshot_compact,
        _current_version,
    )

    # --- order 1: compaction publishes first, stale MERGE loses
    root = str(tmp_path / "compact_first")
    _seed_partitioned(spark, root)
    _merge(spark, root, 4, 1)
    _merge(spark, root, 5, 2)               # fragmented: 3 versions referenced
    stale = _current_version(root, snap_mod.DEFAULT_FS)
    won = snapshot_compact(spark, root, keep=2)
    assert won is not None
    content = _rows(spark, root)
    before = {d for d in os.listdir(root) if d.startswith("v-")}
    batch = spark.createDataFrame(
        [(9, 0, "LOSER", False)],
        "k bigint, p bigint, v string, is_delete boolean",
    )
    with pytest.raises(SnapshotConflictError):
        snapshot_commit_partitioned(
            batch.drop("is_delete"), root, "p",
            changed_values=[0], keep=2, expected_current=stale,
        )
    assert {d for d in os.listdir(root) if d.startswith("v-")} == before
    assert _rows(spark, root) == content

    # --- order 2: pruned commit publishes first, stale compaction loses.
    # Drive the REAL snapshot_compact with only its initial live read
    # patched to the stale capture; its commit-path conflict check sees
    # the true pointer.
    from unittest import mock

    root = str(tmp_path / "commit_first")
    _seed_partitioned(spark, root)
    _merge(spark, root, 4, 1)
    _merge(spark, root, 5, 2)
    stale = _current_version(root, snap_mod.DEFAULT_FS)
    _merge(spark, root, 6, 0)               # the commit that wins
    content = _rows(spark, root)
    before = {d for d in os.listdir(root) if d.startswith("v-")}
    real_cv = snap_mod._current_version
    state = {"first": True}

    def _stale_first(r_, f_):
        if state["first"]:
            state["first"] = False
            return stale
        return real_cv(r_, f_)

    with mock.patch.object(
        snap_mod, "_current_version", side_effect=_stale_first
    ):
        with pytest.raises(SnapshotConflictError):
            snapshot_compact(spark, root, keep=2)
    assert {d for d in os.listdir(root) if d.startswith("v-")} == before
    assert _rows(spark, root) == content


# --------------------------------------------------------------------
# auto-maintenance policy (r16, VERDICT r15 #4): maintain(root)
# --------------------------------------------------------------------

def _policy(**kw):
    from etl_pulumi_aws_snowflake_spark.streaming.maintenance import (
        MaintenancePolicy,
    )

    return MaintenancePolicy(**kw)


def test_maintain_compacts_fragmented_snapshot_then_converges(spark, tmp_path):
    """A bare snapshot spread over many versions by pruned merges:
    maintain() runs snapshot_compact when fragmentation passes the
    policy thresholds, rows are preserved, and the SECOND run is a
    no-op (signals back under threshold) — safe on a schedule."""
    from etl_pulumi_aws_snowflake_spark.streaming.maintenance import maintain

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)
    for i in range(3):
        _merge(spark, root, k=i, p=i % 3, v=f"u{i}")
    before = _rows(spark, root)
    rep = maintain(spark, root, policy=_policy(
        max_versions_referenced=2, max_partitions_carried=1))
    assert rep["kind"] == "snapshot"
    assert [a["action"] for a in rep["actions"]] == ["snapshot_compact"]
    assert _rows(spark, root) == before
    rep2 = maintain(spark, root, policy=_policy(
        max_versions_referenced=2, max_partitions_carried=1))
    assert rep2["actions"] == []
    assert rep2["signals"]["fragmentation"]["versions_referenced"] <= 2


def test_maintain_dry_run_reports_without_acting(spark, tmp_path):
    from etl_pulumi_aws_snowflake_spark.streaming.maintenance import maintain
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        snapshot_fragmentation,
    )

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)
    for i in range(3):
        _merge(spark, root, k=i, p=i % 3, v=f"u{i}")
    frag = snapshot_fragmentation(root)
    rep = maintain(spark, root, dry_run=True, policy=_policy(
        max_versions_referenced=2, max_partitions_carried=1))
    assert rep["actions"] == [
        {"action": "snapshot_compact", "dry_run": True}]
    assert snapshot_fragmentation(root) == frag  # untouched


def test_maintain_folds_mor_backlog_at_threshold(spark, tmp_path):
    """A merge-on-read table with a planted backlog: below the policy
    backlog nothing runs; at it, maintain() folds via mor_compact and
    the pending list clears — the rung that keeps MAX_PENDING_BATCHES
    unreachable."""
    from etl_pulumi_aws_snowflake_spark.streaming import mor
    from etl_pulumi_aws_snowflake_spark.streaming.maintenance import maintain

    root = str(tmp_path / "mor")
    base = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(12)],
        "k bigint, p bigint, v string",
    )
    mor.mor_init(base, root, "p", key=["k"])
    for b in range(3):
        batch = spark.createDataFrame(
            [(b, b % 3, f"u{b}")], "k bigint, p bigint, v string")
        mor.mor_merge(spark, root, batch, key=["k"])
    assert len(mor.mor_pending_batches(root)) == 3
    rep = maintain(spark, root, policy=_policy(mor_backlog=5))
    assert rep["kind"] == "mor" and rep["actions"] == []
    rep = maintain(spark, root, policy=_policy(mor_backlog=3))
    assert [a["action"] for a in rep["actions"]] == ["mor_compact"]
    assert mor.mor_pending_batches(root) == []
    merged = {(r.k, r.v) for r in mor.mor_read(spark, root).collect()}
    assert ("0", "u0") not in merged  # sanity: types are ints
    for b in range(3):
        assert (b, f"u{b}") in merged


def test_maintain_compacts_fragmented_index_and_serves_survive(spark, tmp_path):
    """An IVF index fragmented by appends: maintain() runs
    index_compact over the whole pin, the pin stays valid, and the
    indexed serve returns the same rows after maintenance."""
    from pyspark.sql import functions as F

    from etl_pulumi_aws_snowflake_spark.operators import similarity as S
    from etl_pulumi_aws_snowflake_spark.streaming.maintenance import maintain

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    root = str(tmp_path / "ivf")
    S.ivf_build_index(emb.filter("vec_id < 400"), root, nlists=8)
    # tiny appends: each touches 1-2 of the 8 lists, so most lists
    # stay carried-forward references — genuine fragmentation
    for lo in (400, 403, 406):
        S.ivf_index_append(
            emb.filter(f"vec_id >= {lo} and vec_id < {lo + 3}"), root)
    before = {tuple(r) for r in S.ivf_topk_indexed(
        probes, root, k=3, nprobe=2).collect()}
    rep = maintain(spark, root, policy=_policy(
        max_versions_referenced=1, max_partitions_carried=0))
    assert rep["kind"] == "index"
    assert [a["action"] for a in rep["actions"]] == ["index_compact"]
    after = {tuple(r) for r in S.ivf_topk_indexed(
        probes, root, k=3, nprobe=2).collect()}
    assert after == before
    corpus_frag = rep["signals"]["members"]["corpus"]
    assert corpus_frag["versions_referenced"] > 1  # it WAS fragmented


def test_maintain_recommends_lsh_rebuild_on_saturated_buckets(spark, tmp_path):
    """An LSH index whose mean band-bucket size exceeds the policy's
    routed-read budget gets a REBUILD recommendation (metadata can't
    re-bucket without the corpus), and no compaction runs on an
    unfragmented index."""
    from etl_pulumi_aws_snowflake_spark.operators import dedup as D
    from etl_pulumi_aws_snowflake_spark.streaming.maintenance import maintain

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(60)
    root = str(tmp_path / "lsh")
    D.lsh_build_index(docs, root, n_buckets=2)  # tiny → saturated
    rep = maintain(spark, root, policy=_policy(lsh_max_rows_per_bucket=10))
    assert rep["kind"] == "index"
    assert rep["actions"] == []
    (rec,) = rep["recommendations"]
    assert rec["recommendation"] == "rebuild"
    assert "more than 2 buckets" in rec["reason"]
    stats = rep["signals"]["lsh"]
    assert stats["n_buckets"] == 2
    assert stats["rows_per_bucket_mean"] > 10


def test_maintain_executes_lsh_rebuild_with_corpus_handle(spark, tmp_path):
    """r17 (VERDICT r16 #6): with the corpus handle, saturation is a
    REMEDY, not a recommendation — maintain() rebuilds at the same
    k/num_hashes/bands with enough buckets to bring the mean under
    budget, publishes atomically, and the second run is quiet.  The
    rebuilt index must keep answering checks identically."""
    from etl_pulumi_aws_snowflake_spark.operators import dedup as D
    from etl_pulumi_aws_snowflake_spark.streaming.maintenance import maintain

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(60)
    root = str(tmp_path / "lsh")
    D.lsh_build_index(docs, root, n_buckets=2)  # tiny → saturated
    batch = docs.limit(6)
    before = sorted(
        (r["doc_new"], r["doc_old"])
        for r in D.lsh_index_check(batch, root).collect()
    )  # no coverage cap: the saturated index routes everywhere (warns)
    rep = maintain(spark, root,
                   policy=_policy(lsh_max_rows_per_bucket=10),
                   corpus=docs)
    assert rep["recommendations"] == []
    (action,) = [a for a in rep["actions"] if a["action"] == "lsh_rebuild"]
    assert "error" not in action
    assert action["result"]["n_buckets"] >= 4
    stats = rep["signals"]["lsh"]
    # sizing rule: enough buckets to bring the mean back under budget
    assert stats["band_rows"] / action["result"]["n_buckets"] <= 10
    rep2 = maintain(spark, root,
                    policy=_policy(lsh_max_rows_per_bucket=10),
                    corpus=docs)
    assert rep2["actions"] == [] and rep2["recommendations"] == []
    assert rep2["signals"]["lsh"]["rows_per_bucket_mean"] <= 10
    # same k/num_hashes/bands preserved; only the bucket count moved
    assert (rep2["signals"]["lsh"]["k"], rep2["signals"]["lsh"]["bands"],
            rep2["signals"]["lsh"]["num_hashes"]) == (
        stats["k"], stats["bands"], stats["num_hashes"])
    after = sorted(
        (r["doc_new"], r["doc_old"])
        for r in D.lsh_index_check(batch, root, max_bucket_coverage=1.0)
        .collect()
    )  # post-rebuild the cap holds again: routing is O(batch) once more
    assert after == before  # re-bucketing changes routing, not answers


def test_maintain_dry_run_lists_lsh_rebuild_without_acting(spark, tmp_path):
    from etl_pulumi_aws_snowflake_spark.operators import dedup as D
    from etl_pulumi_aws_snowflake_spark.streaming.maintenance import maintain
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        index_current,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(60)
    root = str(tmp_path / "lsh")
    D.lsh_build_index(docs, root, n_buckets=2)
    pin = index_current(root)
    rep = maintain(spark, root,
                   policy=_policy(lsh_max_rows_per_bucket=10),
                   corpus=docs, dry_run=True)
    assert {"action": "lsh_rebuild", "dry_run": True} in rep["actions"]
    assert index_current(root) == pin  # nothing moved


def test_maintain_isolates_a_raising_remedy(spark, tmp_path, monkeypatch):
    """r17 (VERDICT r16): one raising remedy is recorded on its action
    row and the root's REMAINING due actions still run — the nightly
    log is self-sufficient about partial failure."""
    from pyspark.sql import functions as F

    from etl_pulumi_aws_snowflake_spark.operators import dedup as D
    from etl_pulumi_aws_snowflake_spark.streaming import maintenance as M

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(60)
    root = str(tmp_path / "lsh")
    D.lsh_build_index(docs, root, n_buckets=2)
    # fragment the sets member so index_compact is due alongside the
    # rebuild: a ONE-doc append touches one dbucket partition and
    # carries the other (a multi-doc batch would rewrite both)
    D.lsh_index_append(docs.limit(1).withColumn(
        "doc_id", F.col("doc_id") + 1000), root)

    def boom(*a, **kw):
        raise RuntimeError("planted compaction failure")

    monkeypatch.setattr(M, "index_compact", boom)
    rep = M.maintain(spark, root,
                     policy=_policy(max_versions_referenced=1,
                                    max_partitions_carried=0,
                                    lsh_max_rows_per_bucket=10),
                     corpus=docs)
    names = [a["action"] for a in rep["actions"]]
    assert "index_compact" in names and "lsh_rebuild" in names
    (failed,) = [a for a in rep["actions"] if a["action"] == "index_compact"]
    assert "RuntimeError: planted compaction failure" in failed["error"]
    (rebuilt,) = [a for a in rep["actions"] if a["action"] == "lsh_rebuild"]
    assert "error" not in rebuilt


def _multi_file_partitions(spark, root):
    """A snapshot whose partitions each hold rows from several tasks: a
    4-task frame with its keys scattered across tasks is committed
    whole (one file per partition), then once per partition as a
    single-partition commit, which keeps the input's parallelism — one
    file per task.  Returns the live rows."""
    from pyspark.sql import functions as F

    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
        snapshot_commit_partitioned,
    )

    k = (F.col("id") * 7) % 30  # each task's keys interleave the others'
    seed = spark.range(0, 30, numPartitions=4).select(
        k.alias("k"), (k % 3).alias("p"), F.lit("r").alias("v")
    )
    v = snapshot_commit_partitioned(seed, root, "p")
    assert all(len(_part_files(root, v, p)) == 1 for p in (0, 1, 2))
    for p in (0, 1, 2):
        rows = seed.filter(F.col("p") == p).withColumn("v", F.lit("UPD"))
        v = snapshot_commit_partitioned(rows, root, "p", changed_values=[p])
        assert len(_part_files(root, v, p)) >= 2
    return _rows(spark, root)


def test_compaction_clusters_rewritten_partitions_from_many_tasks(spark, tmp_path):
    """The multi-task case of the clustering test above: each rewritten
    partition's rows arrive from two or more tasks, so the cluster sort
    must run after the write distribution, not before it — both for a
    one-partition compaction and for one that rewrites several."""
    import pyarrow.parquet as pq

    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import snapshot_compact

    root = str(tmp_path / "snap")
    before = _multi_file_partitions(spark, root)
    for scope, want in (([0], ["0"]), (None, ["1", "2"])):
        v = snapshot_compact(spark, root, partition_values=scope, cluster_by=["k"])
        assert v is not None
        assert _rows(spark, root) == before

        man = _manifest(root, v)
        rewritten = sorted(p for p, ver in man["entries"].items() if ver == v)
        assert rewritten == want
        for p in rewritten:
            d = os.path.join(root, v, "data", f"_p={p}")
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1
            ks = pq.read_table(os.path.join(d, files[0]), columns=["k"])[
                "k"
            ].to_pylist()
            assert ks == sorted(ks), f"partition {p} not cluster-sorted: {ks}"
            assert len(ks) >= 5


def test_multi_partition_merge_writes_one_file_per_partition(spark, tmp_path):
    """A pruned MERGE that rewrites several partitions distributes its
    rows by partition: each rewritten partition lands as one file even
    when the merge's key-hashed join leaves its output in many tasks
    (as it does at scale; here AQE coalescing is off to get there)."""
    from etl_pulumi_aws_snowflake_spark.operators.warehouse import merge_upsert_pruned

    root = str(tmp_path / "snap")
    _seed_partitioned(spark, root)
    batch = spark.createDataFrame(
        [(3, 0, "U3", False), (4, 1, "U4", False), (31, 1, "NEW", False)],
        "k bigint, p bigint, v string, is_delete boolean",
    )
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        v = merge_upsert_pruned(
            spark, root, batch, ["k"], "p", delete_col="is_delete"
        )
    finally:
        spark.conf.set(conf, prev)
    man = _manifest(root, v)
    assert sorted(p for p, ver in man["entries"].items() if ver == v) == ["0", "1"]
    for p in (0, 1):
        assert len(_part_files(root, v, p)) == 1
    rows = _rows(spark, root)
    assert (3, 0, "U3") in rows and (4, 1, "U4") in rows and (31, 1, "NEW") in rows
    assert len(rows) == 31
