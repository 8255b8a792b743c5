"""The shared IVF serve path (operators/similarity.py ``_routed_read``,
``_rerank``, ``_top_k``): every IVF serve family — int8, PQ, their
re-rank serves and the semantic-decontam serve — opens only the routed
lists, and one ``MAX_RERANK_IDS`` caps both re-rank serves.  The float
serve's pruning test lives in tests/test_llm_ops.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pulumi_aws_snowflake_spark.operators import pq as PQ
from etl_pulumi_aws_snowflake_spark.operators import similarity as S
from etl_pulumi_aws_snowflake_spark.operators.decontam import (
    contamination_semantic_indexed,
)
from etl_pulumi_aws_snowflake_spark.sources import load_table
from etl_pulumi_aws_snowflake_spark.streaming import snapshot as SN

NLISTS, NPROBE = 8, 2


@pytest.fixture(scope="module")
def ivf_roots(spark, sf_smoke, tmp_path_factory):
    """One rerank-enabled int8 index, one rerank-enabled PQ index and one
    float index over the sf0.001 embeddings (500 vectors, 8 lists)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    base = tmp_path_factory.mktemp("ivf_serve")
    roots = {
        "q": str(base / "q"),
        "pq": str(base / "pq"),
        "float": str(base / "float"),
    }
    S.ivf_build_index_quantized(
        emb, roots["q"], nlists=NLISTS, rerank_payload=True
    )
    PQ.ivf_build_index_pq(
        emb, roots["pq"], nlists=NLISTS, m=8, codes=16, rerank_payload=True
    )
    S.ivf_build_index(emb, roots["float"], nlists=NLISTS)
    return emb, roots


#: serve name -> (index root key, serve, payload member, reranks)
_SERVES = {
    "ivf_topk_indexed_quantized": (
        "q", S.ivf_topk_indexed_quantized, "corpus_q", False
    ),
    "ivf_topk_indexed_quantized_rerank": (
        "q", S.ivf_topk_indexed_quantized_rerank, "corpus_q", True
    ),
    "ivf_topk_indexed_pq": ("pq", PQ.ivf_topk_indexed_pq, "corpus_pq", False),
    "ivf_topk_indexed_pq_rerank": (
        "pq", PQ.ivf_topk_indexed_pq_rerank, "corpus_pq", True
    ),
    "contamination_semantic_indexed": (
        "float", contamination_semantic_indexed, "corpus", False
    ),
}


@pytest.mark.parametrize("name", sorted(_SERVES))
def test_every_ivf_serve_reads_only_routed_lists(
    spark, ivf_roots, name, monkeypatch
):
    """One probe, ``nprobe=2`` of 8 lists: the payload member must open
    exactly that probe's two routed lists, and a re-rank serve's float
    ``corpus`` read only lists among them.  Asserted by spying on the
    ``partition_values`` passed to the REAL ``snapshot_read``, as
    test_lsh_check_reads_only_routed_buckets does (the candidate
    subtrees are persisted, so inputFiles() cannot see the pruning)."""
    emb, roots = ivf_roots
    key, serve, member, reranks = _SERVES[name]
    root = roots[key]
    probe = emb.filter(F.col("vec_id") == 0)
    seeds = SN.snapshot_read(spark, os.path.join(root, "seeds"))
    routed = {
        r["list_id"]
        for r in S._route_probes(probe, seeds, NPROBE)
        .select("list_id")
        .collect()
    }
    assert len(routed) == NPROBE

    seen: dict[str, list] = {}
    real = SN.snapshot_read

    def spy(spark_, root_, partition_values=None, **kw):
        seen.setdefault(root_.rsplit("/", 1)[-1], []).append(partition_values)
        return real(spark_, root_, partition_values=partition_values, **kw)

    monkeypatch.setattr(SN, "snapshot_read", spy)
    assert serve(probe, root, nprobe=NPROBE).collect()
    monkeypatch.undo()

    assert [set(pv) for pv in seen[member]] == [routed], seen
    if reranks:
        # the float tier opens only the lists its survivors came from
        (float_lists,) = seen["corpus"]
        assert float_lists and set(float_lists) <= routed, seen


@pytest.mark.parametrize(
    "name", ["ivf_topk_indexed_quantized_rerank", "ivf_topk_indexed_pq_rerank"]
)
def test_one_max_rerank_ids_caps_both_rerank_serves(
    spark, ivf_roots, name, monkeypatch
):
    """``similarity.MAX_RERANK_IDS`` is THE survivor cap: lowering it
    must make every re-rank serve refuse a survivor set above it,
    naming the serve that was called."""
    emb, roots = ivf_roots
    key, serve, _, _ = _SERVES[name]
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    monkeypatch.setattr(S, "MAX_RERANK_IDS", 1)
    with pytest.raises(ValueError, match=f"^{name}: more than 1 re-rank"):
        serve(probes, roots[key], k=3, nprobe=NPROBE)
