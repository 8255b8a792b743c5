"""Root-level index pointer (VERDICT r11 #7): every index family's
member snapshots (seeds/corpus, postings/meta, meta/sets/bands) are
published as ONE atomic {member → version} pin, and serves read the
pinned set — so the old documented torn window (a serve catching one
member's new version with another's old one, e.g. mid-rebuild) is
closed, and concurrent publishes to the same index root CAS-conflict
through the commit-log store.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from etl_pulumi_aws_snowflake_spark.operators import dedup as D
from etl_pulumi_aws_snowflake_spark.operators import pq as PQ
from etl_pulumi_aws_snowflake_spark.operators import search as SR
from etl_pulumi_aws_snowflake_spark.operators import similarity as S
from etl_pulumi_aws_snowflake_spark.streaming import mor as MOR
from etl_pulumi_aws_snowflake_spark.streaming import snapshot as SN
from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
    CommitLogPointer,
    SnapshotConflictError,
    index_current,
    index_publish,
    index_republish,
)


class _Interrupted(RuntimeError):
    pass


def test_index_publish_roundtrip_and_gc(tmp_path):
    """Publish pins the exact member set; republish advances the index
    version; GC keeps the pin-dir count bounded."""
    root = str(tmp_path / "ix")
    v1 = index_publish(root, {"a": "v-00001", "b": "v-00003"})
    assert index_current(root) == {"a": "v-00001", "b": "v-00003"}
    v2 = index_publish(root, {"a": "v-00002", "b": "v-00003"})
    assert v2 > v1
    assert index_current(root) == {"a": "v-00002", "b": "v-00003"}
    for _ in range(5):
        index_publish(root, {"a": "v-00002", "b": "v-00003"})
    dirs = [d for d in os.listdir(root) if d.startswith("v-")]
    assert len(dirs) <= 2  # keep=2 trims old pin dirs


def test_index_publish_cas_conflict(tmp_path):
    """Two writers racing to publish the same next index version: the
    loser gets SnapshotConflictError — true CAS through the commit-log
    store, optimistic detection through the rename store."""
    clp = CommitLogPointer()
    root = str(tmp_path / "ix")
    index_publish(root, {"m": "v-00001"}, fs=clp)
    cur = SN._current_version(root, clp)
    index_publish(root, {"m": "v-00002"}, fs=clp, expected_current=cur)
    with pytest.raises(SnapshotConflictError):
        # a second writer derived from the same starting version
        index_publish(root, {"m": "v-00099"}, fs=clp, expected_current=cur)
    assert index_current(root, fs=clp) == {"m": "v-00002"}

    # republish on a root missing a member fails loudly
    with pytest.raises(ValueError, match="no live snapshot"):
        index_republish(str(tmp_path / "empty"), ("corpus",))


def test_concurrent_index_publishes_serialize_per_root(tmp_path):
    """Two in-process publishes against the same token: publish B starts
    while publish A is writing its pin file.  Index publishes take the
    per-root commit lock, so A finishes first and B conflicts; without
    the lock B published the same version dir, A overwrote B's pin file
    and then raised, so the live pin held the members of the publish
    that reported failure (a lost update)."""
    root = str(tmp_path / "ix")
    base = index_publish(root, {"m": "v-00001"})
    pins = {"a": {"m": "v-00011"}, "b": {"m": "v-00022"}}
    outcome: dict = {}

    def publish(name):
        try:
            outcome[name] = index_publish(
                root, pins[name], fs=fs, expected_current=base
            )
        except SnapshotConflictError as exc:
            outcome[name] = exc

    class _RacingFS(SN.LocalFilesystem):
        racer = None

        def write_text(self, path, text):
            if self.racer is None and path.endswith(SN._INDEX_JSON):
                self.racer = threading.Thread(target=publish, args=("b",))
                self.racer.start()
                self.racer.join(timeout=1.0)
            super().write_text(path, text)

    fs = _RacingFS()
    publish("a")
    fs.racer.join(timeout=30)
    assert not fs.racer.is_alive()
    won = [n for n, out in outcome.items() if isinstance(out, str)]
    lost = [
        n for n, out in outcome.items()
        if isinstance(out, SnapshotConflictError)
    ]
    assert len(won) == 1 and len(lost) == 1, outcome
    assert index_current(root) == pins[won[0]]


def _emb(spark):
    rows = [
        (i, [float(((i + 1) * (d + 3) * 37) % 100 - 50) / 25.0 for d in range(4)])
        for i in range(120)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_rebuild_crash_between_members_serves_old_pair(
    spark, tmp_path, monkeypatch
):
    """IVF torn window: an in-place rebuild that dies after committing
    NEW seeds but before the corpus commit must leave serves reading
    the OLD pinned (seeds, corpus) pair — bit-identical to pre-crash —
    never new seeds routing over the old corpus."""
    emb = _emb(spark)
    probes = emb.filter(F.col("vec_id") % 40 == 0)
    root = str(tmp_path / "ivf")
    S.ivf_build_index(emb, root, nlists=6)
    before = sorted(
        map(tuple, S.ivf_topk_indexed(probes, root, k=3, nprobe=2).collect())
    )

    orig = SN.snapshot_commit_partitioned

    def boom(*a, **kw):
        raise _Interrupted("corpus commit died")

    monkeypatch.setattr(SN, "snapshot_commit_partitioned", boom)
    with pytest.raises(_Interrupted):
        # different seeding -> the NEW seeds member differs from the old
        S.ivf_build_index(emb, root, nlists=3)
    monkeypatch.setattr(SN, "snapshot_commit_partitioned", orig)

    # the seeds MEMBER pointer moved, but the INDEX pin did not
    after = sorted(
        map(tuple, S.ivf_topk_indexed(probes, root, k=3, nprobe=2).collect())
    )
    assert after == before and after


def test_bm25_rebuild_crash_between_members_serves_old_pair(
    spark, tmp_path, monkeypatch
):
    """BM25 torn window: a rebuild that dies after committing the NEW
    meta (corpus stats) but before the postings commit must leave
    queries scoring the OLD pinned (postings, meta) pair — never new
    stats against old postings."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common body{i}") for i in range(30)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "bm25")
    SR.bm25_build_index(docs, root, n_buckets=4)
    terms = ("common", "w1")
    before = [
        tuple(r) for r in SR.bm25_topk_indexed(spark, root, terms, k=10).collect()
    ]

    orig = SN.snapshot_commit_partitioned
    monkeypatch.setattr(
        SN, "snapshot_commit_partitioned", lambda *a, **kw: (_ for _ in ()).throw(
            _Interrupted("postings commit died")
        )
    )
    with pytest.raises(_Interrupted):
        # rebuild over HALF the docs: meta (n, sum_dl) changes a lot
        SR.bm25_build_index(docs.filter(F.col("doc_id") < 10), root, n_buckets=4)
    monkeypatch.setattr(SN, "snapshot_commit_partitioned", orig)

    after = [
        tuple(r) for r in SR.bm25_topk_indexed(spark, root, terms, k=10).collect()
    ]
    assert after == before and after


def test_lsh_rebuild_crash_between_members_serves_old_trio(
    spark, tmp_path, monkeypatch
):
    """LSH torn window: a rebuild that dies after committing the NEW
    meta (banding parameters!) but before sets/bands must leave checks
    reading the OLD pinned trio — mixing parameterizations silently
    finds nothing, which is exactly what the pin prevents."""
    docs = spark.createDataFrame(
        [
            (i, "alpha beta gamma delta epsilon zeta eta theta " * 3)
            for i in range(10)
        ]
        + [(50, "totally different words here nothing shared at all")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta " * 3)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "lsh")
    D.lsh_build_index(docs, root, k=3, num_hashes=16, bands=8)
    before = sorted(
        map(tuple, D.lsh_index_check(batch, root, threshold=0.8).collect())
    )
    assert before  # the planted near-dups ARE found pre-crash

    orig = SN.snapshot_commit_partitioned
    monkeypatch.setattr(
        SN, "snapshot_commit_partitioned", lambda *a, **kw: (_ for _ in ()).throw(
            _Interrupted("sets commit died")
        )
    )
    with pytest.raises(_Interrupted):
        # different k -> different shingles -> different band keys
        D.lsh_build_index(docs, root, k=5, num_hashes=16, bands=8)
    monkeypatch.setattr(SN, "snapshot_commit_partitioned", orig)

    after = sorted(
        map(tuple, D.lsh_index_check(batch, root, threshold=0.8).collect())
    )
    assert after == before


def _int8_rerank_rebuild(spark):
    emb = _emb(spark)
    probes = emb.filter(F.col("vec_id") % 40 == 0)
    return (
        lambda root, nlists: S.ivf_build_index_quantized(
            emb, root, nlists=nlists, rerank_payload=True
        ),
        lambda root: S.ivf_topk_indexed_quantized_rerank(
            probes, root, k=3, nprobe=2, m=3
        ),
    )


def _pq_rerank_rebuild(spark):
    emb = _emb(spark)
    probes = emb.filter(F.col("vec_id") % 40 == 0)
    return (
        lambda root, nlists: PQ.ivf_build_index_pq(
            emb, root, nlists=nlists, m=2, codes=4, rerank_payload=True
        ),
        lambda root: PQ.ivf_topk_indexed_pq_rerank(
            probes, root, k=3, nprobe=2, m=3
        ),
    )


def _mor_reinit(spark):
    rows = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(40)],
        "id long, part long, val double",
    )
    return (
        # the rebuild re-seeds the live root from a third of the rows
        lambda root, nlists: MOR.mor_init(
            rows.filter(F.col("id") % nlists == 0), root, "part", key=["id"]
        ),
        lambda root: MOR.mor_read(spark, root),
    )


_REBUILDS = {
    # case: (member whose commit dies, case factory)
    "int8_rerank": ("corpus_q", _int8_rerank_rebuild),
    "pq_rerank": ("corpus_pq", _pq_rerank_rebuild),
    "mor_reinit": ("dv", _mor_reinit),
}


@pytest.mark.parametrize("case", sorted(_REBUILDS))
def test_rebuild_crash_between_members_serves_old_pin(
    spark, tmp_path, monkeypatch, case
):
    """The builds without a family-specific torn-window test: a rebuild
    in place whose partitioned member commit dies while the other
    members commit must leave serves (or ``mor_read``) on exactly the
    pre-crash rows — the pin still names the old member set."""
    dies, factory = _REBUILDS[case]
    build, serve = factory(spark)
    root = str(tmp_path / case)
    build(root, 1)
    before = sorted(map(tuple, serve(root).collect()))
    pin = index_current(root)

    orig = SN.snapshot_commit_partitioned

    def boom(df, path, *a, **kw):
        if os.path.basename(path) == dies:
            raise _Interrupted(f"{dies} commit died")
        return orig(df, path, *a, **kw)

    monkeypatch.setattr(SN, "snapshot_commit_partitioned", boom)
    with pytest.raises(_Interrupted):
        build(root, 3)
    monkeypatch.setattr(SN, "snapshot_commit_partitioned", orig)

    assert index_current(root) == pin
    after = sorted(map(tuple, serve(root).collect()))
    assert after == before and after


def test_maintenance_republishes_and_prepointer_roots_still_serve(
    spark, tmp_path
):
    """(a) append/delete advance the root pin (serves see maintenance
    atomically); (b) a root built BEFORE the pointer existed — no
    root-level pin — falls back to live member pointers and still
    serves (back-compat)."""
    emb = _emb(spark)
    probes = emb.filter(F.col("vec_id") % 40 == 0)
    root = str(tmp_path / "ivf")
    S.ivf_build_index(emb.filter(F.col("vec_id") < 100), root, nlists=6)
    pin0 = index_current(root)
    assert set(pin0) == {"seeds", "corpus"}
    S.ivf_index_append(emb.filter(F.col("vec_id") >= 100), root)
    pin1 = index_current(root)
    assert pin1["corpus"] > pin0["corpus"]
    assert pin1["seeds"] == pin0["seeds"]  # frozen seeds never move

    # pre-pointer root: nuke the root-level pin, serve must fall back
    for d in os.listdir(root):
        if d.startswith("v-") or d == "_CURRENT":
            p = os.path.join(root, d)
            if os.path.isdir(p):
                import shutil

                shutil.rmtree(p)
            else:
                os.remove(p)
    assert index_current(root) is None
    got = S.ivf_topk_indexed(probes, root, k=3, nprobe=2).collect()
    assert got


def test_index_compact_republishes_and_serves_stay_identical(spark, tmp_path):
    """Maintenance closure for published indexes: appends fragment the
    corpus member; index_compact rewrites it AND republishes the pin,
    so pinned serves (a) stay bit-identical and (b) never dangle on a
    GC'd member version no matter how many maintenance cycles run.
    Without the republish, the pin would keep naming pre-compaction
    versions until member GC reclaimed them."""
    from etl_pulumi_aws_snowflake_spark.streaming.snapshot import index_compact

    emb = _emb(spark)
    probes = emb.filter(F.col("vec_id") % 40 == 0)
    root = str(tmp_path / "ivf")
    # a ONE-vector append touches one list; the other lists carry
    # forward by reference -> the fragmented state compaction exists for
    S.ivf_build_index(emb.filter(F.col("vec_id") < 119), root, nlists=8)
    S.ivf_index_append(emb.filter(F.col("vec_id") == 119), root)
    before = sorted(
        map(tuple, S.ivf_topk_indexed(probes, root, k=3, nprobe=2).collect())
    )
    pin0 = index_current(root)

    out = index_compact(spark, root, max_versions_referenced=1)
    assert out["corpus"] is not None  # the fragmented member rewrote
    assert out["seeds"] is None  # unpartitioned member skipped
    pin1 = index_current(root)
    assert pin1["corpus"] == out["corpus"] != pin0["corpus"]

    # several more maintenance cycles: pinned serves keep working and
    # stay bit-identical (the no-republish failure mode would be a
    # time-travel ValueError here once GC reclaims pin0's version)
    for _ in range(3):
        S.ivf_index_append(emb.filter(F.col("vec_id") < 20), root)
        index_compact(spark, root, max_versions_referenced=1)
    after = sorted(
        map(tuple, S.ivf_topk_indexed(probes, root, k=3, nprobe=2).collect())
    )
    assert after == before and after

    # bare (unpublished) roots are snapshot_compact's job, loudly
    with pytest.raises(ValueError, match="no published index version"):
        index_compact(spark, str(tmp_path / "nothing"))


def test_has_member_consults_pin_not_stale_dirs(spark, tmp_path):
    """Review r12: an in-place rebuild float -> non-rerank-quantized
    leaves a live-but-STALE <root>/corpus dir behind; the quantized
    lifecycle must detect the rerank payload from the PUBLISHED pin
    (which no longer names it), never from dir liveness — else appends
    would merge into pre-rebuild vectors and republish them into the
    index."""
    emb = _emb(spark)
    root = str(tmp_path / "ivf")
    S.ivf_build_index(emb.filter(F.col("vec_id") < 100), root, nlists=4)
    stale_corpus_v = SN._current_version(os.path.join(root, "corpus"), SN.DEFAULT_FS)
    assert stale_corpus_v is not None
    # rebuild in place WITHOUT the rerank payload
    S.ivf_build_index_quantized(
        emb.filter(F.col("vec_id") < 100), root, nlists=4
    )
    assert "corpus" not in index_current(root)
    S.ivf_index_append_quantized(emb.filter(F.col("vec_id") >= 100), root)
    # the stale float member was neither merged into nor re-pinned
    assert (
        SN._current_version(os.path.join(root, "corpus"), SN.DEFAULT_FS)
        == stale_corpus_v
    )
    assert "corpus" not in index_current(root)


def test_index_current_raises_on_corrupt_pin_never_degrades(tmp_path):
    """Review r12: a resolved pointer whose pin file is missing must
    RAISE, not return None — silently degrading a pinned serve to
    unpinned member reads reopens the torn window the pin closes."""
    import shutil

    root = str(tmp_path / "ix")
    index_publish(root, {"m": "v-00001"})
    v = SN._current_version(root, SN.DEFAULT_FS)
    os.remove(os.path.join(root, v, SN._INDEX_JSON))
    with pytest.raises(ValueError, match="corrupt"):
        index_current(root)
    # a root with NO pointer at all still returns None (pre-pointer)
    shutil.rmtree(root)
    assert index_current(root) is None
