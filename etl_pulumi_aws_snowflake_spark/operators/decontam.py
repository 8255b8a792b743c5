"""Benchmark decontamination (training-data pipeline): flag training
documents that share word-k-gram shingles with an evaluation/benchmark
set — the standard guard against test-set leakage into pretraining
corpora.

Scale shape: the TRAIN side (the 100 TB one) is an inverted-index
projection that never shuffles document text — only (doc_id, shingle
hash) pairs.  The BENCH side is an eval suite: thousands of documents,
not billions — its exploded shingle list is broadcast, so the whole
check is a broadcast hash join against the train-side stream followed
by a partial+final aggregate on doc_id.  No sort-merge, no corpus
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_sets


def contamination(
    train: DataFrame,
    bench: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per contaminated train document: (doc_id, n_eval_docs,
    n_shared_shingles) — how many benchmark docs it collides with and
    how many distinct k-gram shingles it shares.  Documents with no
    overlap are absent (anti-join against this result = the clean set).

    ``k`` trades recall for precision: small k flags common phrases,
    large k only verbatim spans ≥ k words.  k=5 is a usual middle
    ground for contamination auditing.
    """
    ti = shingle_sets(train, k, text_col, id_col).select(
        F.col(id_col), F.explode("shingles").alias("sh")
    )
    bi = shingle_sets(bench, k, text_col, id_col).select(
        F.col(id_col).alias("bench_id"), F.explode("shingles").alias("sh")
    )
    return (
        ti.join(F.broadcast(bi), "sh")
        .groupBy(id_col)
        .agg(
            F.countDistinct("bench_id").alias("n_eval_docs"),
            F.countDistinct("sh").alias("n_shared_shingles"),
        )
    )


def contamination_semantic_indexed(
    eval_probes: DataFrame,
    root: str,
    threshold: float = 0.35,
    nprobe: int = 2,
    fs=None,
) -> DataFrame:
    """EMBEDDING-space decontamination (VERDICT r14 #5 / r15 #3): flag
    every train vector whose cosine to ANY eval embedding reaches
    ``threshold`` — the arm that catches PARAPHRASED benchmark
    contamination the verbatim-shingle check cannot see (a reworded
    eval question shares no 5-gram but sits next to the original in
    embedding space).

    Serving shape is the ``lsh_index_check`` / ``ivf_topk_indexed``
    one — O(batch), never O(corpus): the eval set (thousands of rows,
    not billions) routes through the persisted IVF index's frozen seed
    table, ONLY its ``nprobe`` routed lists' files are opened
    (manifest-level partition pruning, both members pinned to one
    published index version), and the threshold + per-vector aggregate
    run over that pruned candidate set.  Output: (vec_id, n_eval_hits,
    max_cos) per flagged TRAIN vector — anti-join against this result
    = the decontaminated corpus.  Like every IVF serve, recall < 1 by
    design (a contaminated vector in an unrouted list is missed);
    SCALE.md records the measured recall vs the exact brute-force
    threshold set alongside the shingle arm's blind spot.

    Unlike top-k search there is NO self-exclusion: an eval probe that
    IS a corpus member is the definition of verbatim contamination and
    must flag itself (cos 1.0)."""
    from .similarity import ARROW_SCORE_MIN_ROUTED, _routed_read, _score_pairs

    _, _, probe_lists, assigned, n_routed = _routed_read(
        eval_probes, root, nprobe, "corpus", fs
    )
    pa, ca = probe_lists.alias("a"), assigned.alias("b")
    hits = _score_pairs(
        F.broadcast(pa).join(ca, F.col("a.list_id") == F.col("b.list_id")),
        [F.col("a.probe_id").alias("probe_id"), F.col("b.vec_id").alias("vec_id")],
        use_arrow=n_routed >= ARROW_SCORE_MIN_ROUTED,
    ).filter(F.col("cos") >= threshold)
    return hits.groupBy("vec_id").agg(
        F.countDistinct("probe_id").alias("n_eval_hits"),
        F.max("cos").alias("max_cos"),
    )
