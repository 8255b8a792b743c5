"""The shared index mutation path (``snapshot.index_mutate``): every
family's append/delete commits its members, then republishes the pin.
A crash after the member commits but before the republish must leave
serves on the pre-mutation answer (they read the old pin), and
re-running the op must heal the index to exactly the answer of an
uncrashed run.  Batch-mode BM25 append and BM25 delete advance the
corpus stats unconditionally, so they are not replay-safe by contract;
BM25 is covered through the epoch-stamped ``bm25_ingest_batch``."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pulumi_aws_snowflake_spark.operators import dedup as D
from etl_pulumi_aws_snowflake_spark.operators import pq as PQ
from etl_pulumi_aws_snowflake_spark.operators import search as SR
from etl_pulumi_aws_snowflake_spark.operators import similarity as S
from etl_pulumi_aws_snowflake_spark.sources import load_table
from etl_pulumi_aws_snowflake_spark.streaming import snapshot as SN
from etl_pulumi_aws_snowflake_spark.streaming.bm25_ingest import bm25_ingest_batch


class _Interrupted(RuntimeError):
    pass


def _ivf(spark, sf, build, mutate, serve, delete=False):
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    base = emb if delete else emb.filter(F.col("vec_id") % 4 != 3)
    rows = emb.filter(F.col("vec_id") % 4 == (1 if delete else 3))
    return (
        lambda root: build(base, root),
        lambda root: mutate(rows, root),
        lambda root: serve(probes, root),
    )


def _lsh(spark, delete):
    dup = "alpha beta gamma delta epsilon zeta eta theta " * 3
    docs = spark.createDataFrame(
        [(i, f"unique{i} words{i} only{i} here{i} now{i}") for i in range(20)]
        + [(100 + i, dup) for i in range(3)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame([(500, dup)], "doc_id long, text string")
    if delete:
        return (
            lambda root: D.lsh_build_index(docs, root),
            lambda root: D.lsh_index_delete(
                docs.filter(F.col("doc_id") >= 101).select("doc_id"), root
            ),
            lambda root: D.lsh_index_check(batch, root, threshold=0.5),
        )
    return (
        lambda root: D.lsh_build_index(docs.filter(F.col("doc_id") < 100), root),
        lambda root: D.lsh_index_append(docs.filter(F.col("doc_id") >= 100), root),
        lambda root: D.lsh_index_check(batch, root, threshold=0.5),
    )


def _bm25_stream(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common body{i}") for i in range(30)],
        "doc_id long, text string",
    )
    return (
        lambda root: SR.bm25_build_index(
            docs.filter(F.col("doc_id") < 20), root, n_buckets=4
        ),
        lambda root: bm25_ingest_batch(
            docs.filter(F.col("doc_id") >= 20), 3, root, stream_id="s"
        ),
        lambda root: SR.bm25_topk_indexed(spark, root, ("common", "w1"), k=10),
    )


_CASES = {
    "ivf_float_append": lambda spark, sf: _ivf(
        spark, sf,
        lambda rows, root: S.ivf_build_index(rows, root, nlists=8),
        S.ivf_index_append,
        lambda p, root: S.ivf_topk_indexed(p, root, k=3, nprobe=2),
    ),
    "ivf_float_delete": lambda spark, sf: _ivf(
        spark, sf,
        lambda rows, root: S.ivf_build_index(rows, root, nlists=8),
        S.ivf_index_delete,
        lambda p, root: S.ivf_topk_indexed(p, root, k=3, nprobe=2),
        delete=True,
    ),
    "ivf_int8_rerank_append": lambda spark, sf: _ivf(
        spark, sf,
        lambda rows, root: S.ivf_build_index_quantized(
            rows, root, nlists=8, rerank_payload=True
        ),
        S.ivf_index_append_quantized,
        lambda p, root: S.ivf_topk_indexed_quantized_rerank(
            p, root, k=3, nprobe=2, m=3
        ),
    ),
    "ivf_pq_rerank_append": lambda spark, sf: _ivf(
        spark, sf,
        lambda rows, root: PQ.ivf_build_index_pq(
            rows, root, nlists=8, m=8, codes=16, rerank_payload=True
        ),
        PQ.ivf_index_append_pq,
        lambda p, root: PQ.ivf_topk_indexed_pq_rerank(
            p, root, k=3, nprobe=2, m=5
        ),
    ),
    "lsh_append": lambda spark, sf: _lsh(spark, delete=False),
    "lsh_delete": lambda spark, sf: _lsh(spark, delete=True),
    "bm25_ingest_batch": lambda spark, sf: _bm25_stream(spark),
}


def _answer(df) -> list:
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("case", sorted(_CASES))
def test_crash_before_publish_serves_old_pin_and_rerun_heals(
    spark, sf_smoke, tmp_path, monkeypatch, case
):
    build, mutate, serve = _CASES[case](spark, sf_smoke)
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    build(clean)
    build(crashed)
    before = _answer(serve(crashed))
    mutate(clean)
    want = _answer(serve(clean))
    assert want != before  # the mutation is visible to the serve

    real = SN.index_republish

    def die_once(*a, **kw):
        monkeypatch.setattr(SN, "index_republish", real)
        raise _Interrupted("died between the member commits and the publish")

    monkeypatch.setattr(SN, "index_republish", die_once)
    with pytest.raises(_Interrupted):
        mutate(crashed)
    assert SN.index_republish is real  # the crash fired exactly once
    assert _answer(serve(crashed)) == before  # serves read the OLD pin
    mutate(crashed)
    assert _answer(serve(crashed)) == want


def test_commit_lock_is_per_root_not_per_spelling(tmp_path):
    """Every spelling of one root shares one commit lock, so ``root``,
    ``root/`` and a relative path cannot get round the per-root commit
    serialization."""
    p = str(tmp_path / "t")
    assert SN._commit_lock(p) is SN._commit_lock(p + "/")
    assert SN._commit_lock(os.path.relpath(p)) is SN._commit_lock(p)
    assert SN._commit_lock(p) is not SN._commit_lock(str(tmp_path / "u"))
