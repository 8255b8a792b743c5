"""Multi-writer optimistic rebase-and-retry
(streaming/snapshot.py::snapshot_commit_partitioned_retry): the
interleavings the single-callable driver entry cannot stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pulumi_aws_snowflake_spark.streaming.snapshot import (
    SnapshotConflictError,
    snapshot_commit,
    snapshot_commit_partitioned,
    snapshot_commit_partitioned_retry,
    snapshot_read,
)


@pytest.fixture()
def seeded(spark, tmp_path):
    root = str(tmp_path / "snap")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(40)],
        "id long, part long, val double",
    )
    v1 = snapshot_commit_partitioned(df, root, "part")
    return root, df, v1


def _bump(df, parts, delta):
    return df.filter(F.col("part").isin(parts)).withColumn(
        "val", F.col("val") + F.lit(float(delta))
    )


def test_disjoint_racer_rebases_without_remerge(spark, seeded):
    root, df, v1 = seeded
    snapshot_commit_partitioned(
        _bump(df, [2, 3], 50), root, "part",
        changed_values=[2, 3], expected_current=v1,
    )
    v3 = snapshot_commit_partitioned_retry(
        _bump(df, [0, 1], 100), root, "part",
        changed_values=[0, 1], expected_current=v1,
    )
    assert v3 == "v-00003"
    got = {
        (r["id"], r["val"])
        for r in snapshot_read(spark, root).collect()
    }
    want = {
        (i, float(i) + (100 if i % 4 < 2 else 50)) for i in range(40)
    }
    assert got == want, "one writer's work was lost"


def test_overlapping_racer_without_remerge_raises(spark, seeded):
    root, df, v1 = seeded
    snapshot_commit_partitioned(
        _bump(df, [1, 2], 50), root, "part",
        changed_values=[1, 2], expected_current=v1,
    )
    with pytest.raises(SnapshotConflictError, match="touched partitions"):
        snapshot_commit_partitioned_retry(
            _bump(df, [2, 3], 100), root, "part",
            changed_values=[2, 3], expected_current=v1,
        )
    # the loser left no footprint: partition 2 still holds B's +50
    vals = {
        r["id"]: r["val"] for r in snapshot_read(spark, root).collect()
    }
    assert vals[2] == 2.0 + 50


def test_overlapping_racer_with_remerge_rederives(spark, seeded):
    root, df, v1 = seeded
    snapshot_commit_partitioned(
        _bump(df, [1, 2], 50), root, "part",
        changed_values=[1, 2], expected_current=v1,
    )
    calls = []

    def remerge(live_version):
        calls.append(live_version)
        live = snapshot_read(spark, root, version=live_version)
        return live.filter(F.col("part").isin([2, 3])).withColumn(
            "val", F.col("val") + F.lit(100.0)
        )

    v3 = snapshot_commit_partitioned_retry(
        _bump(df, [2, 3], 100), root, "part",
        changed_values=[2, 3], expected_current=v1, remerge=remerge,
    )
    assert calls == ["v-00002"], "remerge must see the refreshed base"
    assert v3 == "v-00003"
    vals = {
        r["id"]: r["val"] for r in snapshot_read(spark, root).collect()
    }
    # part 1: +50 only; part 2: +50 then +100; part 3: +100 only
    assert vals[1] == 1.0 + 50
    assert vals[2] == 2.0 + 150
    assert vals[3] == 3.0 + 100
    assert vals[0] == 0.0


def test_repeated_contention_exhausts_retries(spark, seeded, monkeypatch):
    root, df, v1 = seeded
    from etl_pulumi_aws_snowflake_spark.streaming import snapshot as S

    real = S.snapshot_commit_partitioned
    hits = []

    def always_raced(*args, **kwargs):
        # a fresh disjoint commit lands before every attempt
        hits.append(kwargs.get("expected_current"))
        real(
            _bump(df, [3], len(hits)), root, "part",
            changed_values=[3],
        )
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "snapshot_commit_partitioned", always_raced)
    with pytest.raises(SnapshotConflictError, match="live version moved"):
        S.snapshot_commit_partitioned_retry(
            _bump(df, [0], 100), root, "part",
            changed_values=[0], expected_current=v1, max_retries=2,
        )
    assert len(hits) == 3, "max_retries=2 allows exactly 3 attempts"


def test_eventual_success_under_transient_contention(spark, seeded):
    root, df, v1 = seeded
    from etl_pulumi_aws_snowflake_spark.streaming import snapshot as S

    real = S.snapshot_commit_partitioned
    state = {"raced": False}

    def race_once(*args, **kwargs):
        if not state["raced"]:
            state["raced"] = True
            real(_bump(df, [3], 50), root, "part", changed_values=[3])
        return real(*args, **kwargs)

    orig = S.snapshot_commit_partitioned
    S.snapshot_commit_partitioned = race_once
    try:
        v = S.snapshot_commit_partitioned_retry(
            _bump(df, [0], 100), root, "part",
            changed_values=[0], expected_current=v1, max_retries=2,
        )
    finally:
        S.snapshot_commit_partitioned = orig
    assert v == "v-00003"
    vals = {
        r["id"]: r["val"] for r in snapshot_read(spark, root).collect()
    }
    assert vals[0] == 100.0 and vals[3] == 3.0 + 50


def test_unpartitioned_base_is_conservatively_overlapping(spark, tmp_path):
    root = str(tmp_path / "snap")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(8)],
        "id long, part long, val double",
    )
    v1 = snapshot_commit(df, root)  # UNPARTITIONED seed — no manifest
    snapshot_commit_partitioned(df, root, "part", expected_current=v1)
    with pytest.raises(SnapshotConflictError, match="not rebase-safe"):
        snapshot_commit_partitioned_retry(
            _bump(df, [0], 1), root, "part",
            changed_values=[0], expected_current=v1,
        )


def test_schema_change_is_conservatively_overlapping(spark, seeded):
    root, df, v1 = seeded
    snapshot_commit_partitioned(
        df.withColumn("extra", F.lit(1)), root, "part",
        expected_current=v1,
    )
    with pytest.raises(SnapshotConflictError, match="not rebase-safe"):
        snapshot_commit_partitioned_retry(
            _bump(df, [0], 1), root, "part",
            changed_values=[0], expected_current=v1,
        )


def test_full_rewrite_is_rejected_up_front(spark, seeded):
    root, df, v1 = seeded
    with pytest.raises(ValueError, match="requires changed_values"):
        snapshot_commit_partitioned_retry(
            df, root, "part", changed_values=None, expected_current=v1,
        )
