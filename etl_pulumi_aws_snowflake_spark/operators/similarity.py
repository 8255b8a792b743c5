"""Embedding similarity search (SURVEY.md §2.10).

Three tiers, correctness-first then scale:

- **brute-force top-k** — probes × corpus cosine via a broadcast join;
  exact, the recall baseline.  At 100 TB the corpus side stays
  partitioned and only the (small) probe set is broadcast, so the scan
  is embarrassingly parallel with no shuffle of the corpus.
- **threshold pairs** (embedding-space near-dup) — same broadcast
  shape, filter instead of top-k.
- **IVF (seeded)** — coarse quantization: corpus vectors are assigned
  to their nearest seed centroid once (narrow after a broadcast of the
  seed list), probes search only the ``nprobe`` closest inverted lists.
  Seeds are deterministic corpus members — the scale default is the
  ``nlists`` members with the smallest :func:`seed_rank_hash` (FIXED
  list count, the knob an ANN index must hold constant in corpus
  size), the legacy ``seed_stride`` mode keeps every stride-th member
  (list count grows with the corpus — O(n²/stride) assignment, only
  for fixed corpora).  Both are reproducible and oracle-checkable;
  swapping in trained centroids changes recall, not the plan shape.
  At scale: repartition corpus by ``list_id`` → probe-to-list join
  prunes ~(1 - nprobe/nlists) of the corpus.

Cosine math is the strict-left-fold double expression from
functions/vectors.py — JVM-side, no Python, engine-reproducible.
**Norms are precomputed once per ROW, not once per PAIR**: cosine(a,b)
= dot(a,b) / (‖a‖·‖b‖), and ‖·‖ depends on one side only, so a
probes×corpus join that inlines the norms does 3 array folds per pair
where one is enough — at n probes × 100 TB corpus that is a 3× waste
of the dominant cost.  The precomputed value sqrt(fold(v·v)) performs
the identical IEEE operation sequence as the inlined form, so results
stay bit-for-bit equal to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import deferred_persist
from ..functions import vectors as V

#: dot over pre-cast double arrays — the only per-pair fold.
_DOT_AB = V.dot_cols("a.v", "b.v")


def _prep(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, v: double[], nrm) — cast + norm computed once per row."""
    v = V.as_double("embedding").spark
    return df.select(
        F.col(id_col),
        F.expr(v).alias("v"),
    ).withColumn("nrm", F.expr(f"sqrt({V.dot_cols('v', 'v')})"))


def _cos_ab() -> F.Column:
    return (F.expr(_DOT_AB) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos")


def _fold_dots(a_mat, b_mat):
    """Row-paired strict-fold dot products: dims accumulate in
    ascending order from 0.0, so every element undergoes the IDENTICAL
    correctly-rounded IEEE multiply/add sequence as the JVM
    ``aggregate(zip_with(...))`` fold and the DuckDB ``list_reduce``
    mirror — bit-identical doubles (the `_assign_arrow` precedent)."""
    import numpy as np

    acc = np.zeros(len(a_mat))
    for d in range(a_mat.shape[1]):
        acc += a_mat[:, d] * b_mat[:, d]
    return acc


def _inner_null_rows(col):
    """Row indices of an Arrow list column whose LIST VALUES contain a
    null element (rare; the expression fold yields a null dot there).
    Cheap common path: zero inner nulls short-circuits."""
    import numpy as np

    if col.values.null_count == 0:
        return None
    return np.array(
        [
            i
            for i in range(len(col))
            if col[i].is_valid and None in col[i].as_py()
        ],
        dtype=np.int64,
    )


def _fold_cos_arrow(
    joined: DataFrame,
    cols: list,
    b_vec: str = "b.v",
    b_nrm: str = "b.nrm",
    cos_name: str = "cos",
) -> DataFrame:
    """Per-pair cosine as ONE vectorized Arrow pass (guide §4.2).

    Spark evaluates higher-order ``aggregate``/``zip_with`` folds as
    CodegenFallback — per element, interpreted, boxed — and the r18
    profile measured the per-pair dot dominating every candidate-
    scoring stage (~2.5M fold steps/s).  This kernel computes the SAME
    strict left fold vectorized (:func:`_fold_dots` — identical IEEE
    sequence per element), then ONE divide by the precomputed norm
    product: ``cos`` is bit-identical to the expression form, judged
    exactly by the oracle.

    ``cols`` are the passthrough output columns (aliased over the
    join's ``a.``/``b.`` sides); the four fold inputs are appended
    internally and dropped from the output.  Implemented over
    ``mapInArrow`` (NOT ``mapInPandas``) because the pandas boundary
    rewrites computed NaN doubles to null on the way back — a zero-norm
    pair's ``0/0`` must stay NaN exactly as the expression leaves it.
    Null inputs (null vector/norm cell, or a null ELEMENT inside a
    vector) yield a null cosine, matching the expression's null
    propagation.  Int vector columns (the int8 tier) are promoted
    element-wise to double — exact, like the expression's cast."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    base = joined.select(
        *cols,
        F.col("a.v").alias("_av"),
        F.col("a.nrm").alias("_an"),
        F.col(b_vec).alias("_bv"),
        F.col(b_nrm).alias("_bn"),
    )
    pass_fields = list(base.schema.fields[:-4])
    pass_names = [f.name for f in pass_fields]
    out_schema = StructType(pass_fields + [StructField(cos_name, DoubleType())])

    def score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            idx = {nm: i for i, nm in enumerate(batch.schema.names)}
            av = batch.column(idx["_av"])
            bv = batch.column(idx["_bv"])
            an = batch.column(idx["_an"])
            bn = batch.column(idx["_bn"])
            null = np.zeros(n, dtype=bool)
            for c in (av, bv, an, bn):
                if c.null_count:
                    null |= np.asarray(c.is_null())
            for c in (av, bv):
                rows = _inner_null_rows(c)
                if rows is not None and len(rows):
                    null[rows] = True
            valid = ~null
            vals = np.zeros(n, dtype=np.float64)
            if valid.any():
                avp = av.to_pandas()
                bvp = bv.to_pandas()
                vi = np.flatnonzero(valid)
                a_mat = np.vstack(avp.iloc[vi].to_numpy()).astype(
                    np.float64, copy=False
                )
                b_mat = np.vstack(bvp.iloc[vi].to_numpy()).astype(
                    np.float64, copy=False
                )
                anv = an.to_numpy(zero_copy_only=False)[vi]
                bnv = bn.to_numpy(zero_copy_only=False)[vi]
                vals[vi] = _fold_dots(a_mat, b_mat) / (anv * bnv)
            cos = (
                pa.array(vals, mask=null)
                if null.any()
                else pa.array(vals, from_pandas=False)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(idx[nm]) for nm in pass_names] + [cos],
                names=pass_names + [cos_name],
            )

    return base.mapInArrow(score, out_schema)


#: Routed-probe-row threshold above which candidate SCORING switches
#: from the expression fold to :func:`_fold_cos_arrow`.  Measured on
#: the r18 A/B (sf0.1, local[32]): at ~16k candidate pairs the
#: expression form wins by ~0.1 s (the kernel pays Arrow transfer of
#: the per-pair probe vectors + worker round-trips), at ~200k pairs
#: the kernel wins 2× (0.94 s vs 1.86 s) and the gap grows linearly
#: with pair volume.  Candidate pairs ≈ routed probe rows × |list|,
#: and the IVF contract holds |list| ~ corpus/nlists at hundreds+, so
#: 512 routed rows ≈ ≥100k pairs — past the crossover.  Both forms
#: are bit-identical (tests/test_arrow_folds.py), so the tier can
#: never change results, only cost.
ARROW_SCORE_MIN_ROUTED = 512


def _routed_lists(probe_lists: DataFrame) -> tuple[list, int]:
    """``(wanted_list_ids, n_routed_rows)`` from ONE driver job: the
    same collect that names the pruned partitions also returns
    per-list routed-row counts, so the scoring-tier switch
    (:data:`ARROW_SCORE_MIN_ROUTED`) costs no extra job."""
    rows = probe_lists.groupBy("list_id").count().collect()
    return sorted(r["list_id"] for r in rows), sum(r["count"] for r in rows)


def _routed_read(
    probes: DataFrame, root: str, nprobe: int, member: str, fs, pin=None
):
    """The one routed read of every IVF serve (float, int8, PQ,
    semantic decontam): resolve the index pin once (unless the caller
    already holds it), route the probes against the PINNED frozen seed
    table, collect the routed list ids, and open ONLY those lists'
    partitions of the payload ``member`` at its pinned version —
    ``(pin, seeds, probe_lists, pruned_member, n_routed)``.  Each
    caller keeps its own candidate join and picks its scoring tier
    from ``n_routed`` (:data:`ARROW_SCORE_MIN_ROUTED`)."""
    import os

    from ..streaming.snapshot import index_current, snapshot_read

    spark = probes.sparkSession
    if pin is None:
        pin = index_current(root, fs=fs) or {}
    seeds = snapshot_read(
        spark, os.path.join(root, "seeds"), fs=fs, version=pin.get("seeds")
    )
    probe_lists = deferred_persist(_route_probes(probes, seeds, nprobe))
    wanted, n_routed = _routed_lists(probe_lists)
    pruned = snapshot_read(
        spark,
        os.path.join(root, member),
        partition_values=wanted,
        fs=fs,
        version=pin.get(member),
    )
    return pin, seeds, probe_lists, pruned, n_routed


def _score_pairs(
    joined: DataFrame,
    cols: list,
    b_vec: str = "b.v",
    b_nrm: str = "b.nrm",
    cos_name: str = "cos",
    use_arrow: bool = False,
) -> DataFrame:
    """Candidate-pair cosine, tiered: the vectorized Arrow kernel when
    the caller knows the pair volume is past the crossover
    (:data:`ARROW_SCORE_MIN_ROUTED`), the codegen-resident expression
    fold otherwise.  Bit-identical either way — INCLUDING the
    zero-norm edge (VERDICT r18 #2): a zero-norm pair's ``0/0`` is NaN
    in the kernel (numpy — the DuckDB oracle's value), and the ANSI
    expression divide would RAISE DIVIDE_BY_ZERO instead, so the
    expression arm guards the zero product explicitly.  Tier selection
    is volume-dependent, so without the guard the same query over the
    same data could error below the threshold and succeed above it.
    Non-zero products take the identical divide as before (the guard
    is a branch, not a rewrite)."""
    if use_arrow:
        return _fold_cos_arrow(
            joined, cols, b_vec=b_vec, b_nrm=b_nrm, cos_name=cos_name
        )
    dot = (
        _DOT_AQ
        if b_vec == "b.qv"
        else V.dot_cols("a.v", b_vec)
    )
    prod = F.col("a.nrm") * F.col(b_nrm)
    return joined.select(
        *cols,
        F.when(prod == 0.0, F.lit(float("nan")))
        .otherwise(F.expr(dot) / prod)
        .alias(cos_name),
    )


def _pairs(probes: DataFrame, corpus: DataFrame) -> DataFrame:
    """(probe_id, vec_id, cos) for every probe×corpus pair, probe side
    broadcast.  One dot fold per pair; norms come precomputed from
    :func:`_prep`.  Ties are broken by id downstream."""
    a = _prep(probes).withColumnRenamed("vec_id", "probe_id").alias("a")
    b = _prep(corpus).alias("b")
    return _fold_cos_arrow(
        F.broadcast(a).join(b, F.col("a.probe_id") != F.col("b.vec_id")),
        [F.col("a.probe_id").alias("probe_id"), F.col("b.vec_id").alias("vec_id")],
    )


def _top_k(
    df: DataFrame, score: str, k: int, rank: str = "rank", keep=None
) -> DataFrame:
    """Per-probe top-``k`` by ``score`` desc, ties to the lower vec_id —
    the one ranking rule of every exact and IVF serve, so every result
    is total-ordered and oracle-replayable.  Returns (probe_id,
    ``rank``, vec_id, ``score``) unless ``keep`` names the columns."""
    w = Window.partitionBy("probe_id").orderBy(F.desc(score), F.asc("vec_id"))
    return (
        df.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .select(*(keep or ("probe_id", rank, "vec_id", score)))
    )


def cosine_topk(probes: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k nearest (cosine) corpus rows per probe:
    (probe_id, rank, vec_id, cos).  Ties broken by vec_id so the result
    is total-ordered; the window partitions by probe (few probes ⇒
    map-side partial top-k via AQE/codegen, final per-probe sort tiny).
    """
    return _top_k(_pairs(probes, corpus), "cos", k)


#: cosine_topk_blas collects the probe set to the driver and ships it
#: inside every task's closure — fine for a probe SET (queries against
#: a corpus), catastrophic if a caller passes a corpus as probes.  At
#: the default cap a 1k-dim float64 probe matrix is ~80 MB in-closure.
MAX_BLAS_PROBES = 10_000


def cosine_topk_blas(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    max_probes: int = MAX_BLAS_PROBES,
) -> DataFrame:
    """Exact top-k nearest (cosine), BLAS path: Arrow-batched
    ``mapInPandas`` computes each corpus batch's probe similarities as
    ONE numpy matmul (B×d @ d×P) and emits only its per-probe partial
    top-k — (probe_id, rank, vec_id, cos).

    Same semantics as :func:`cosine_topk`; different engine trade:
    the JVM fold evaluates the dot per pair inside codegen but
    element-at-a-time, while the matmul runs vectorized SIMD/BLAS over
    the whole batch.  Shuffle is k rows per (probe, batch) — the final
    window sorts a few hundred candidates per probe, not the corpus.
    Float summation order differs from the strict left fold, so cos can
    differ from :func:`cosine_topk` in the last ulps — ranks are stable
    whenever true gaps exceed ~1e-12 (tested equal at sf0.01/sf0.1);
    the oracle-checked entry therefore compares ids/ranks, with cos
    verified against the fold form in tests.
    """
    rows = probes.select("vec_id", "embedding").limit(max_probes + 1).collect()
    if len(rows) > max_probes:
        raise ValueError(
            f"cosine_topk_blas broadcasts the probe set to every task; got "
            f"more than max_probes={max_probes} probe rows. For corpus-sized "
            "probe sets use cosine_topk (distributed join) or ivf_topk "
            "(bucketed ANN) instead, or raise max_probes explicitly."
        )
    import numpy as np

    pids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    pm = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pnrm = np.linalg.norm(pm, axis=1)

    def part(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cos = (m @ pm.T) / np.outer(np.linalg.norm(m, axis=1), pnrm)
            # self-pairs excluded, mirroring cosine_topk's probe_id != vec_id
            cos[vid[:, None] == pids[None, :]] = -np.inf
            kk = min(k, len(vid))
            # per-probe partial top-k within this batch (argpartition is
            # O(B) per probe vs O(B log B) for a full sort)
            idx = np.argpartition(-cos, kk - 1, axis=0)[:kk, :]
            out = {
                "probe_id": np.repeat(pids[None, :], kk, axis=0).ravel(),
                "vec_id": vid[idx].ravel(),
                "cos": np.take_along_axis(cos, idx, axis=0).ravel(),
            }
            pdf_out = pd.DataFrame(out)
            yield pdf_out[np.isfinite(pdf_out["cos"])]

    partial = corpus.mapInPandas(part, "probe_id long, vec_id long, cos double")
    return _top_k(partial, "cos", k)


def cosine_near_pairs(
    probes: DataFrame, corpus: DataFrame, threshold: float = 0.35
) -> DataFrame:
    """Embedding-space near-duplicates: probe/corpus pairs with cosine
    ≥ threshold — (probe_id, vec_id, cos)."""
    return _pairs(probes, corpus).filter(F.col("cos") >= threshold)


#: Seed-chunk width for the Arrow assignment tier: the per-chunk cosine
#: block is (batch_rows × chunk) doubles, so 256 bounds it at ~20 MB
#: for 10k-row Arrow batches regardless of total seed count.  (A
#: greatest()-of-literal-structs third form was measured and rejected:
#: nlists nested HOF folds in one projection disable whole-stage
#: codegen entirely — 3× SLOWER than a join.)
MAX_LITERAL_SEEDS = 256

#: Hard cap on seeds collected into the task closure.  16384 seeds of
#: 1k-dim float64 is ~130 MB in every task — past that the centroid
#: table is no longer "small" and assignment falls back to the
#: broadcast-join + map-side max_by form (one corpus shuffle), with a
#: LOUD warning: crossing this cap used to cost a silent 65× (the
#: r09 scale curve's measured cliff — the old fallback evaluated the
#: per-pair cosine on Spark's interpreted HOF path).
MAX_CLOSURE_SEEDS = 16_384

#: Modulus for the hash-rank seed picker (same prime as
#: functions/hashing.py — keeps every intermediate < 2.66e18, inside
#: int64 for BOTH engines; Spark wraps on overflow while DuckDB raises,
#: so staying in range is what makes the expression dialect-shared).
SEED_HASH_P = 1_000_000_007


def seed_rank_hash(id_col: str = "vec_id") -> str:
    """Deterministic per-id rank key for fixed-``nlists`` seeding —
    ONE string valid in both Spark SQL and DuckDB (pure int64
    arithmetic, Knuth multiplicative mix).  Engine-stable: no RNG, no
    engine-internal hash seeds, so the oracle replays it exactly."""
    return f"(({id_col} % {SEED_HASH_P}) * 2654435761 + 12345) % {SEED_HASH_P}"


def _seed_frame(
    corpus: DataFrame,
    seed_stride: int,
    centroids: list | None,
    nlists: int | None = None,
) -> DataFrame:
    """(seed_id, v, nrm) — the coarse centroid table, three flavors:

    - ``nlists`` (the **100 TB default**): the ``nlists`` corpus members
      with the smallest :func:`seed_rank_hash` (ties by vec_id) —
      deterministic, oracle-checkable, and **constant cardinality in
      corpus size**, which is the knob an ANN index must hold fixed
      (the r09 scale curve measured the stride default going quadratic:
      nlists ∝ corpus ⇒ O(n²/stride) assignment work, 65× at x10 data).
      The pick compiles to TakeOrderedAndProject — per-partition
      partial top-``nlists``, never a global sort.
    - ``seed_stride``: every ``stride``-th corpus member — the original
      correctness-first mode; nlists grows with the corpus, so it is
      for fixed-size corpora only.
    - ``centroids`` (list of ``(list_id, [float, ...])`` — e.g. from
      :func:`train_ivf_centroids`): a local-relation frame.

    Norms are computed by the same JVM fold in every flavor, so all
    three feed the identical assignment code paths."""
    if centroids is not None:
        from ..functions.localrel import local_frame

        spark = corpus.sparkSession
        rows = [(int(i), [float(x) for x in v]) for i, v in centroids]
        return local_frame(
            spark, rows, "seed_id long, v array<double>"
        ).withColumn("nrm", F.expr(f"sqrt({V.dot_cols('v', 'v')})"))
    if nlists is not None:
        if nlists < 1:
            raise ValueError(f"nlists must be >= 1, got {nlists}")
        return (
            _prep(corpus)
            .orderBy(F.expr(seed_rank_hash("vec_id")), F.col("vec_id"))
            .limit(nlists)
            .withColumnRenamed("vec_id", "seed_id")
        )
    return _prep(corpus).filter(
        F.col("vec_id") % seed_stride == 0
    ).withColumnRenamed("vec_id", "seed_id")


def train_ivf_centroids(
    corpus: DataFrame, nlists: int = 16, seed: int = 7, max_iter: int = 20
) -> list[tuple[int, list[float]]]:
    """KMeans-trained coarse centroids for the IVF index — the
    quality-over-reproducibility alternative to the seeded default:
    ``ivf_assign(corpus, centroids=train_ivf_centroids(corpus, 16))``.

    Runs ``pyspark.ml.clustering.KMeans`` (k-means|| init, distributed
    Lloyd iterations — the corpus never leaves the executors; only the
    k centroid vectors come back).  Deterministic for a fixed (data,
    seed, partitioning); across engines/partitionings k-means is NOT
    reproducible, which is exactly why the driver-hashed entries keep
    the seeded assignment and the trained path is pytest-verified
    (matches reference file: none — pure EXT, BASELINE.json:6)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = _prep(corpus).select(array_to_vector(F.col("v")).alias("features"))
    model = KMeans(k=nlists, seed=seed, maxIter=max_iter).fit(feats)
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


def _collect_seeds(seeds: DataFrame) -> list | None:
    """Collect the seed table for the zero-exchange Arrow tier, sorted
    by seed_id.  Returns ``None`` when the Arrow tier cannot run: an
    EMPTY seed table (the join fallback degrades to an empty result,
    matching the old contract) or more than :data:`MAX_CLOSURE_SEEDS`
    seeds — the latter with a LOUD warning, because the r09 scale curve
    measured the silent version of this tier switch at 65× (the old
    256-seed cap dropped straight onto an interpreted per-pair fold)."""
    rows = sorted(
        seeds.limit(MAX_CLOSURE_SEEDS + 1).collect(), key=lambda r: r["seed_id"]
    )
    if 0 < len(rows) <= MAX_CLOSURE_SEEDS:
        return rows
    if len(rows) > MAX_CLOSURE_SEEDS:
        import warnings

        warnings.warn(
            f"IVF seed table exceeds MAX_CLOSURE_SEEDS={MAX_CLOSURE_SEEDS}; "
            "assignment falls back to the broadcast-join tier (one corpus "
            "shuffle, max_by aggregate). With stride seeding this usually "
            "means the corpus grew — pass nlists=<fixed count> instead: "
            "an ANN index's coarse-list count must not scale with data "
            "(O(n*nlists) assignment work goes quadratic when it does).",
            RuntimeWarning,
            stacklevel=3,
        )
    return None


def _assign_arrow(prepped: DataFrame, seed_rows: list, nn: int) -> DataFrame:
    """Zero-exchange assignment: the seed matrix ships in the task
    closure; each Arrow batch's cosines are computed chunk-of-256-seeds
    at a time (bounding the per-chunk block at ~20 MB for 10k-row
    batches) and each vector keeps its running top-``nn`` lists by
    (cos desc, seed_id asc).

    Bit-identity with the JVM ``zip_with``+``aggregate`` fold (and so
    with the DuckDB oracle) is preserved exactly as in the old
    single-chunk tier: dims accumulate in a strict ascending left fold
    (the loop below is dim-major — ``acc += outer(m[:,d], sv[:,d])``
    performs the same IEEE add sequence per element as the old
    seed-major spelling, multiplication being exactly commutative),
    and ties resolve via two stable sorts == the (cos desc, seed_id
    asc) rule.  Chunking changes neither: per-pair summation order is
    within-pair, and the running-best merge re-sorts by the same rule.
    """
    import numpy as np

    sid = np.array([r["seed_id"] for r in seed_rows], dtype=np.int64)
    sv = np.array([r["v"] for r in seed_rows], dtype=np.float64)
    snrm = np.array([r["nrm"] for r in seed_rows], dtype=np.float64)
    nn = min(nn, len(sid))

    def assign_parts(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            best_cos = best_sid = None
            for lo in range(0, len(sid), MAX_LITERAL_SEEDS):
                svc = sv[lo : lo + MAX_LITERAL_SEEDS]
                sidc = sid[lo : lo + MAX_LITERAL_SEEDS]
                acc = np.zeros((len(m), len(svc)))
                for d in range(m.shape[1]):
                    acc += np.outer(m[:, d], svc[:, d])
                cos = acc / np.outer(nrm, snrm[lo : lo + MAX_LITERAL_SEEDS])
                sids = np.broadcast_to(sidc, cos.shape)
                if best_cos is None:
                    cand_cos, cand_sid = cos, sids
                else:
                    cand_cos = np.concatenate([best_cos, cos], axis=1)
                    cand_sid = np.concatenate([best_sid, sids], axis=1)
                # top-nn by (cos desc, seed_id asc): stable sort by sid
                # asc, then stable sort by cos desc — equal-cos entries
                # keep ascending-sid order (rowwise lexsort)
                o1 = np.argsort(cand_sid, axis=1, kind="stable")
                cs = np.take_along_axis(cand_cos, o1, axis=1)
                o2 = np.argsort(-cs, axis=1, kind="stable")[:, :nn]
                keep = np.take_along_axis(o1, o2, axis=1)
                best_cos = np.take_along_axis(cand_cos, keep, axis=1)
                best_sid = np.take_along_axis(cand_sid, keep, axis=1)
            k = best_sid.shape[1]
            out = pdf.loc[pdf.index.repeat(k)].reset_index(drop=True)
            out["list_id"] = best_sid.ravel()
            yield out[["vec_id", "v", "nrm", "list_id"]]

    return prepped.mapInPandas(
        assign_parts, "vec_id long, v array<double>, nrm double, list_id long"
    )


def ivf_assign(
    corpus: DataFrame,
    seed_stride: int = 50,
    centroids: list | None = None,
    nlists: int | None = None,
) -> DataFrame:
    """Assign every vector to its nearest seed centroid (vec_id %
    stride = 0 rows): (vec_id, v, nrm, list_id).  Deterministic argmax:
    highest cosine, then lowest seed id.

    **Eager seed collection**: the literal tier runs a Spark job at
    DataFrame-CONSTRUCTION time to collect the seed set, freezing the
    centroids then — rows appended to ``corpus``'s source between plan
    construction and the action are assigned against those frozen
    centroids (the fallback tier re-reads seeds at action time).  This
    matches the static-corpus IVF contract (an index is built once);
    don't embed ``ivf_assign`` in long-lived lazy plans over mutable
    sources.

    Plan shape — two tiers, bit-identical results (verified by a
    property test):

    - **≤ MAX_CLOSURE_SEEDS** (the IVF contract — coarse lists are few
      by construction): the seed matrix is collected once and shipped
      in the task closure; an Arrow ``mapInPandas`` computes each
      batch's cosines as numpy vector ops and takes the argmax —
      ZERO exchanges, the corpus never leaves its partitions.  This is
      how real IVF broadcasts its centroid table.  Seeds are processed
      in 256-wide chunks (:func:`_assign_arrow`), so crossing 256 lists
      no longer changes tier — the r09 scale curve measured that old
      silent switch at 65×.  Bit-identity with the JVM fold is
      preserved by summing dims in a strict ascending left fold and
      the stable-sort (cos desc, seed_id asc) tie rule.
    - **fallback** (> MAX_CLOSURE_SEEDS, entered with a LOUD
      RuntimeWarning): a ``max_by`` hash aggregate over (vec_id,
      seed_id, seed_cos) triples — the broadcast join emits each corpus
      row's nlists candidates inside one partition, map-side partial
      ``max_by`` collapses them to ONE 24-byte row per vector before
      anything shuffles, then vectors rejoin by id (corpus crosses the
      wire once, vs. zero for the pandas tier).

    ``centroids`` swaps the seeded centroid table for trained ones
    (:func:`train_ivf_centroids`); ``nlists`` swaps in the fixed-count
    hash-rank seeding (:func:`_seed_frame` — the 100 TB default, the
    r09 scale curve measured stride seeding going quadratic) — same
    two assignment tiers, same argmax rule in every mode."""
    prepped = _prep(corpus)
    seeds = _seed_frame(corpus, seed_stride, centroids, nlists)

    seed_rows = _collect_seeds(seeds)
    if seed_rows is not None:
        return _assign_arrow(prepped, seed_rows, 1)

    a, b = seeds.alias("a"), prepped.alias("b")
    # max over (cos, -seed_id) == highest cosine, then lowest seed id —
    # identical pick to the ORDER BY cos DESC, seed_id ASC window rule.
    assign = (
        F.broadcast(a)
        .join(b)
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.seed_id").alias("seed_id"),
            (F.expr(_DOT_AB) / (F.col("a.nrm") * F.col("b.nrm"))).alias("seed_cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "seed_id", F.struct(F.col("seed_cos"), (-F.col("seed_id")).alias("nid"))
            ).alias("list_id")
        )
    )
    return prepped.join(assign, "vec_id").select("vec_id", "v", "nrm", "list_id")


def ivf_assign_topn(
    corpus: DataFrame,
    seed_stride: int = 50,
    n_assign: int = 2,
    centroids: list | None = None,
    nlists: int | None = None,
) -> DataFrame:
    """Multi-assignment variant of :func:`ivf_assign`: each vector maps
    to its ``n_assign`` nearest coarse lists (by cos desc, seed_id asc
    — the same deterministic ordering rule), up to ``n_assign`` rows
    per vector: (vec_id, v, nrm, list_id).  ``n_assign=1`` reproduces
    the single-assign rows exactly (the top-1 list is always among the
    top-n), which is what makes multi-assign candidates a strict
    SUPERSET of single-assign ones downstream.

    Same two tiers as :func:`ivf_assign`: ≤ MAX_CLOSURE_SEEDS collected
    seeds → in-closure chunked numpy top-n per Arrow batch
    (:func:`_assign_arrow`), ZERO exchanges, ties resolving to the
    (cos desc, seed_id asc) rule; above the cap (loud warning) →
    broadcast-join candidates ranked by a per-vector window over narrow
    (vec_id, seed_id, cos) triples — one shuffle of 24-byte rows,
    vectors rejoin by id."""
    prepped = _prep(corpus)
    seeds = _seed_frame(corpus, seed_stride, centroids, nlists)

    seed_rows = _collect_seeds(seeds)
    if seed_rows is not None:
        return _assign_arrow(prepped, seed_rows, n_assign)

    a, b = seeds.alias("a"), prepped.alias("b")
    wl = Window.partitionBy("vec_id").orderBy(F.desc("seed_cos"), F.asc("list_id"))
    cand = (
        F.broadcast(a)
        .join(b)
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.seed_id").alias("list_id"),
            (F.expr(_DOT_AB) / (F.col("a.nrm") * F.col("b.nrm"))).alias("seed_cos"),
        )
        .withColumn("_r", F.row_number().over(wl))
        .filter(F.col("_r") <= n_assign)
        .select("vec_id", "list_id")
    )
    return prepped.join(cand, "vec_id").select("vec_id", "v", "nrm", "list_id")


def _seed_rows_frame(spark, seed_rows: list) -> DataFrame:
    """The collected seed table as a LOCAL frame — the exact rows
    :func:`_collect_seeds` pulled, re-emitted as a local relation so a
    build can commit/broadcast the seed table WITHOUT re-running the
    corpus-wide hash-rank pick one more time per consumer (the r18
    profile measured the pick re-running once per seed-table consumer:
    the assignment collect, the member commit, the probe routing — at
    100 TB each re-run is a full corpus scan).

    Arrow-backed (:func:`~..functions.localrel.local_frame`, r19 —
    VERDICT r18 #1): the list-of-tuples ``createDataFrame`` spelling
    compiles to a pickled Python RDD whose ``Scan ExistingRDD`` node
    re-enters Python workers on EVERY action — measured ~0.5 s per
    serve, the whole r18 ``sim_ivf_topk``/``_nlists`` regression.  The
    Arrow path is a pure JVM ``LocalTableScan``; same rows, same
    doubles, no Python at execution."""
    from ..functions.localrel import local_frame

    return local_frame(
        spark,
        [(r["seed_id"], list(r["v"]), r["nrm"]) for r in seed_rows],
        "seed_id long, v array<double>, nrm double",
    )


def _seeds_assigned_once(
    corpus: DataFrame,
    seed_stride: int = 50,
    centroids: list | None = None,
    nlists: int | None = None,
):
    """One corpus seed pass for a whole index build: ``(seeds,
    seed_rows, assigned)`` where ``seeds`` is the frame to commit /
    route against and ``assigned`` the assigned corpus.

    In the closure tier (the IVF contract) the seed pick runs ONCE —
    collected for the Arrow closure, then reused as a local frame for
    every other consumer.  Values are bit-identical to the per-consumer
    recomputation (same rows, same doubles); only the number of corpus
    scans changes.  The over-cap fallback (loud, see
    :func:`_collect_seeds`) keeps the lazy seed plan and the join-tier
    assignment unchanged — there the seed table is too big to localize
    by definition."""
    seeds = _seed_frame(corpus, seed_stride, centroids, nlists)
    seed_rows = _collect_seeds(seeds)
    if seed_rows is None:
        return seeds, None, ivf_assign(corpus, seed_stride, centroids, nlists)
    return (
        _seed_rows_frame(corpus.sparkSession, seed_rows),
        seed_rows,
        _assign_arrow(_prep(corpus), seed_rows, 1),
    )


def semantic_near_pairs(
    corpus: DataFrame,
    threshold: float = 0.35,
    seed_stride: int = 50,
    n_assign: int = 1,
    nlists: int | None = None,
) -> DataFrame:
    """SemDeDup-shaped embedding near-dup candidates: vectors can pair
    only if they share an IVF coarse list — (doc_a, doc_b, cos) with
    cosine ≥ threshold and doc_a < doc_b.

    This is the corpus-scale answer to "embedding-cosine near-dup":
    an all-pairs self-join is O(n²) over 100 TB, while clustering
    first (here: nearest-seed coarse quantization, the reproducible
    stand-in for k-means) makes candidate generation an equi-join on
    ``list_id`` — each list pairs only within itself, so the work is
    Σ|list|², bounded by the coarse partitioning, and the join
    shuffles each side once by list id.  Recall < 1 across list
    boundaries by design (same trade as IVF search).

    ``n_assign > 1`` tightens that recall gap: every vector joins its
    top-``n_assign`` coarse lists (:func:`ivf_assign_topn`), so a pair
    split across list boundaries is caught whenever ANY list is shared.
    Candidates stay bounded by the same Σ|list|² (lists are ~n_assign×
    larger) and duplicates from multiple shared lists collapse on
    (doc_a, doc_b).  The result is a SUPERSET of the single-assign
    pairs (top-1 is always among top-n) at ≤ n_assign²× the join work —
    the standard IVF multi-probe trade.  Single-assign stays the
    default (and the oracle-checked entry's shape).

    The assignment subtree is persisted for the duration of the plan:
    both sides of the self-join read it, and without the persist Spark
    computes the (broadcast × corpus) argmax twice.  The persist sits
    in the deferred pool (``cache.deferred_persist``) and is released
    automatically at the next query-registry boundary — after the
    caller has materialized this plan in any sequential run."""
    if n_assign <= 1:
        assigned = deferred_persist(ivf_assign(corpus, seed_stride, nlists=nlists))
    else:
        assigned = deferred_persist(
            ivf_assign_topn(corpus, seed_stride, n_assign, nlists=nlists)
        )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = _fold_cos_arrow(
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ),
        [F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b")],
    ).filter(F.col("cos") >= threshold)
    if n_assign > 1:
        # a pair sharing several of its lists would emit once per
        # shared list — identical rows (cos is a pure function of the
        # vectors), collapsed here
        pairs = pairs.dropDuplicates(["doc_a", "doc_b"])
    return pairs


def semantic_near_pairs_indexed(
    corpus: DataFrame,
    root: str,
    threshold: float = 0.35,
    nprobe: int = 2,
    fs=None,
    symmetric: bool = False,
) -> DataFrame:
    """SemDeDup candidate pairs against a PERSISTED IVF index (VERDICT
    r16 #3 — the semantic-DEDUP leg beside the semantic-decontam one):
    every corpus vector routes through the index's frozen seed table
    to its ``nprobe`` nearest lists and pairs with the index's
    ASSIGNED members of those lists at cosine ≥ ``threshold`` —
    (doc_a, doc_b, cos) with doc_a < doc_b, self-pairs excluded.

    This is the corpus-vs-itself form of the
    :func:`~..operators.decontam.contamination_semantic_indexed`
    serve: same frozen seeds, same routing rule, same version-pinned
    member reads.  Two differences, both forced by the workload: the
    probe side is the 100 TB corpus itself — so routing goes through
    the SAME Arrow/numpy top-n assignment tier :func:`ivf_assign`
    uses against the collected frozen seed table (ZERO exchanges; the
    few-probes window form ``_route_probes`` uses would shuffle
    n·nlists rows, which the r17 scale curve measured at 60× for 10×
    data once nlists grows with the corpus), and the only driver
    collect is the seed table itself (bounded by nlists, the
    ``_frozen_seeds`` contract); and no list subset is pruned — every
    list is some vector's home, so the serve reads the whole index
    once (the point is Σ|list|·nprobe candidate work instead of the
    O(n²) all-pairs join; hold |list| constant by growing ``nlists``
    with the corpus and the pass is ~linear — the curve row measures
    exactly that).  A pair is caught when EITHER endpoint's routed
    lists contain the other's assigned list (assigned = routed top-1
    by construction, so this is the n_assign trade of
    :func:`semantic_near_pairs` with the index as the single-assign
    side); recall < 1 across unrouted list boundaries by design — the
    measured sweep (recall vs nprobe vs candidate work, both modes)
    lives in SCALE.md beside the decontam arm's.

    ``symmetric=True`` switches to the WITHIN-CLUSTER (SemDeDup) form:
    candidates are CO-ROUTED corpus pairs — two vectors pair when any
    of their ``nprobe`` routed lists coincide — via a self-join of the
    routed assignment on ``list_id``.  Higher recall at the same
    nprobe (a pair is caught when the routed sets INTERSECT, not only
    when one side's top-1 is in the other's routed set: measured
    0.638 vs 0.535 at nprobe=2, 0.985 vs 0.849 at nprobe=4, sf0.01),
    and the serve never reads the index members at all — only the
    frozen seed table routes.  Candidate work is Σ_lists |routed(l)|²
    instead of Σ nprobe·|l|; both stay corpus-linear by holding |l|
    constant (nlists ∝ corpus).  The production ≥0.8-recall configs
    this sweep certifies: asymmetric nprobe=4 (0.849) and symmetric
    nprobe=4 (0.985)."""
    import os

    from ..streaming.snapshot import index_current, snapshot_read

    spark = corpus.sparkSession
    pin = index_current(root, fs=fs) or {}
    cent = _frozen_seeds(
        spark, root, fs, "semantic_near_pairs_indexed",
        version=pin.get("seeds"),
    )
    if symmetric:
        # Repartition the routed assignment on list_id BEFORE the
        # self-join and pin a shuffle join: without it Catalyst
        # broadcasts one side and the probe side keeps the parquet
        # FILE partitioning, so the within-list pair work runs at
        # file-count parallelism (measured 2 tasks / 72 s at the x10
        # curve point; the repartitioned shuffle-hash form is 10.3 s
        # on all 32 cores — the r18 curve-row fix).  The exchange also
        # gives both join branches the same list_id co-partitioning,
        # so no further shuffle precedes the pair scan.
        pl = ivf_assign_topn(
            corpus, n_assign=nprobe, centroids=cent
        ).repartition("list_id")
        pa, ca = pl.alias("a"), pl.alias("b")
        return (
            _fold_cos_arrow(
                pa.join(
                    ca.hint("shuffle_hash"),
                    (F.col("a.list_id") == F.col("b.list_id"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")),
                ),
                [
                    F.col("a.vec_id").alias("doc_a"),
                    F.col("b.vec_id").alias("doc_b"),
                ],
            )
            .filter(F.col("cos") >= threshold)
            .dropDuplicates(["doc_a", "doc_b"])
        )
    probe_lists = ivf_assign_topn(
        corpus, n_assign=nprobe, centroids=cent
    ).withColumnRenamed("vec_id", "probe_id")
    assigned = snapshot_read(
        spark, os.path.join(root, "corpus"), fs=fs,
        version=pin.get("corpus"),
    )
    pa, ca = probe_lists.alias("a"), assigned.alias("b")
    return (
        _fold_cos_arrow(
            pa.join(
                ca,
                (F.col("a.list_id") == F.col("b.list_id"))
                & (F.col("a.probe_id") != F.col("b.vec_id")),
            ),
            [
                F.least("a.probe_id", "b.vec_id").alias("doc_a"),
                F.greatest("a.probe_id", "b.vec_id").alias("doc_b"),
            ],
        )
        .filter(F.col("cos") >= threshold)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def ivf_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    seed_stride: int = 50,
    centroids: list | None = None,
    nlists: int | None = None,
) -> DataFrame:
    """ANN top-k via inverted lists: each probe searches only its
    ``nprobe`` nearest lists — (probe_id, rank, vec_id, cos).

    Recall < 1 by design (that is the ANN trade); precision within the
    searched lists is exact.  The probe→list assignment reuses
    :func:`ivf_assign`'s ordering rule, so results are deterministic.
    ``centroids`` uses trained centroids for BOTH the corpus assignment
    and the probe→list routing (they must agree or recall craters);
    ``nlists`` likewise routes probes against the same fixed-count
    hash-rank seed table the corpus was assigned with.  **At scale pass
    ``nlists``**: it is the one knob that keeps assignment work
    O(n·nlists) linear in the corpus — the stride default grows the
    list count with the data (r09 scale curve: 65× at x10).

    Scoring is tiered like the indexed serves (VERDICT r18 #5): the
    routed probe table is persisted and counted — the count is the
    action that materializes the cache the ranking join's broadcast
    then reads, so the tier costs one cheap cached-read job (measured
    +~0.03-0.05 s at sf0.1, interleaved) — and candidate scoring
    switches to the vectorized Arrow kernel past
    :data:`ARROW_SCORE_MIN_ROUTED` routed rows, where the expression
    fold's interpreted per-pair cost dominates the serve.  Below the
    threshold the codegen expression plan runs unchanged.  Both forms
    are bit-identical (tests/test_arrow_folds.py).
    """
    seeds, _, assigned = _seeds_assigned_once(
        corpus, seed_stride, centroids, nlists
    )
    probe_lists = deferred_persist(_route_probes(probes, seeds, nprobe))
    n_routed = probe_lists.count()
    return _rank_candidates(
        probe_lists, assigned, k,
        use_arrow=n_routed >= ARROW_SCORE_MIN_ROUTED,
    )


def _route_probes(probes: DataFrame, seeds: DataFrame, nprobe: int) -> DataFrame:
    """nprobe nearest lists per probe — (probe_id, v, nrm, list_id).
    The probe may be a corpus member of another list: search is over
    lists, membership is irrelevant.  Seeds broadcast; the window sorts
    nlists candidates per probe (probes are few by contract)."""
    a = _prep(probes).withColumnRenamed("vec_id", "probe_id").alias("a")
    b = seeds.alias("b")
    wl = Window.partitionBy("probe_id").orderBy(F.desc("list_cos"), F.asc("list_id"))
    return (
        a.join(F.broadcast(b))
        .select(
            "probe_id",
            F.col("a.v").alias("v"),
            F.col("a.nrm").alias("nrm"),
            F.col("b.seed_id").alias("list_id"),
            (F.expr(_DOT_AB) / (F.col("a.nrm") * F.col("b.nrm"))).alias("list_cos"),
        )
        .withColumn("lr", F.row_number().over(wl))
        .filter(F.col("lr") <= nprobe)
        .select("probe_id", "v", "nrm", "list_id")
    )


def _rank_candidates(
    probe_lists: DataFrame,
    assigned: DataFrame,
    k: int,
    use_arrow: bool = False,
) -> DataFrame:
    """Exact cosine + per-probe top-k over the pruned candidate set —
    (probe_id, rank, vec_id, cos).  Probe side broadcast; the assigned
    corpus never shuffles (the equi-join on list_id runs map-side).
    ``use_arrow`` picks the vectorized scoring tier when the caller
    knows the routed volume (:data:`ARROW_SCORE_MIN_ROUTED`)."""
    pa, ca = probe_lists.alias("a"), assigned.alias("b")
    scored = _score_pairs(
        F.broadcast(pa).join(
            ca,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.probe_id") != F.col("b.vec_id")),
        ),
        [F.col("a.probe_id").alias("probe_id"), F.col("b.vec_id").alias("vec_id")],
        use_arrow=use_arrow,
    )
    return _top_k(scored, "cos", k)


def ivf_build_index(
    corpus: DataFrame,
    root: str,
    nlists: int | None = None,
    seed_stride: int = 50,
    centroids: list | None = None,
    fs=None,
) -> str:
    """Persist the IVF index: the assigned corpus lands as a versioned
    snapshot PARTITIONED BY ``list_id`` (``<root>/corpus``), and the
    exact centroid table it was assigned with lands beside it
    (``<root>/seeds``) so search routes probes against the same
    centroids by construction.  Returns the corpus snapshot version.

    This is the 100 TB serving path: building once turns every
    subsequent :func:`ivf_topk_indexed` search into a
    PARTITION-PRUNED read — only the ``nprobe`` lists' FILES are
    opened (manifest-level pruning, zero IO spent on the other
    ~(1 - nprobe/nlists) of the corpus), where the un-indexed
    :func:`ivf_topk` must re-assign and scan the full corpus per
    query.  Pass ``nlists`` (the fixed-count seeding) so the index's
    list count — and each search's file count — is a constant knob.

    Member writes are each atomic, and the PAIR is published as one
    root-level index version (``snapshot.index_publish`` — VERDICT r11
    #7): serves resolve the pinned {seeds, corpus} set once and read
    both members at those exact versions, so a rebuild or append
    landing mid-serve can never mix one member's new version with the
    other's old one."""
    from ..streaming.snapshot import index_build

    seeds, _, assigned = _seeds_assigned_once(
        corpus, seed_stride, centroids, nlists
    )
    members = index_build(
        root, {"seeds": seeds, "corpus": (assigned, "list_id")}, fs=fs
    )
    return members["corpus"]


def _frozen_seeds(spark, root: str, fs, op: str, version=None) -> list:
    """Collect a persisted index's FROZEN seed table as the
    ``centroids=`` list (an index's centroids are fixed at build time —
    the FAISS ``add()``/``remove_ids`` contract; re-seeding would
    silently reassign the whole existing corpus).  Shared by every
    incremental-maintenance path, float and quantized alike, so the
    cap and the routing rule cannot drift between payload types.  The
    collect is ``limit(cap + 1)``-bounded BEFORE materializing — an
    oversized seed table raises on row count instead of OOMing the
    driver first."""
    import os

    from ..streaming.snapshot import snapshot_read

    seeds = snapshot_read(
        spark, os.path.join(root, "seeds"), fs=fs, version=version
    )
    cent = [
        (r["seed_id"], r["v"])
        for r in seeds.limit(MAX_CLOSURE_SEEDS + 1).collect()
    ]
    if len(cent) > MAX_CLOSURE_SEEDS:
        raise ValueError(
            f"index at {root!r} has more than MAX_CLOSURE_SEEDS="
            f"{MAX_CLOSURE_SEEDS} seeds — {op} assigns against the "
            "frozen seed table in-closure; rebuild with a bounded nlists"
        )
    return cent


def _ivf_mutate(
    rows: DataFrame,
    root: str,
    fs,
    delete: bool,
    payload: str = "corpus",
    pin=("seeds", "corpus"),
    encode=None,
) -> str:
    """The one append/delete router of every IVF payload (float, int8,
    PQ — they differ only in how the ``payload`` member encodes the
    assigned rows): assign ``rows`` against the FROZEN live seed table,
    then one :func:`~..streaming.snapshot.index_mutate` over the
    payload member — preceded, on a rerank-enabled non-float index, by
    the full-precision ``corpus`` member in lockstep (:func:`_has_member`
    is the one rerank rule).  Returns the payload member's version."""
    from ..streaming.snapshot import index_mutate

    cent = _frozen_seeds(
        rows.sparkSession, root, fs, "delete" if delete else "append"
    )
    assigned = ivf_assign(rows, centroids=cent)
    members, pin = {}, list(pin)
    if payload != "corpus" and _has_member(root, "corpus", fs):
        assigned = deferred_persist(assigned)
        members["corpus"] = (assigned, ["vec_id"], "list_id")
        pin.append("corpus")
    members[payload] = (
        encode(assigned) if encode else assigned, ["vec_id"], "list_id"
    )
    return index_mutate(root, members, pin, delete=delete, fs=fs)[payload]


def ivf_index_append(new_rows: DataFrame, root: str, fs=None) -> str:
    """Append vectors to a persisted index WITHOUT rebuild: assign them
    against the index's FROZEN seed table (an index's centroids are
    fixed at build time — the FAISS ``add()`` contract; re-seeding
    would silently reassign the whole existing corpus), then
    partition-pruned MERGE into the corpus snapshot — only the lists
    that actually received new vectors are rewritten, every other list
    carries forward by manifest reference with zero data movement.
    Returns the new corpus snapshot version; searches see the appended
    vectors atomically (pointer swap).

    ``new_rows`` is (vec_id, embedding) like the build input.  An
    existing ``vec_id`` UPSERTS (re-embedding a changed document) —
    with the pruned-MERGE contract that the new embedding still
    assigns to the SAME list; a re-embedding that crosses lists would
    strand the old copy in an unread partition (the standard
    partition-stability precondition).  Cross-list re-embedding is the
    two-step: :func:`ivf_index_delete` with the OLD embedding (which
    routes to the old list — pruned, property-tested equal to
    never-ingested), then append the new one.

    Daily cost at 100 TB: O(lists touched by the batch), not O(index)
    — the same unit of work as the pruned CDC MERGE this reuses."""
    return _ivf_mutate(new_rows, root, fs, delete=False)


def ivf_topk_indexed(
    probes: DataFrame, root: str, k: int = 3, nprobe: int = 2, fs=None
) -> DataFrame:
    """ANN top-k against a PERSISTED index (:func:`ivf_build_index`):
    (probe_id, rank, vec_id, cos) — bit-identical to :func:`ivf_topk`
    with the same seeding (same routing rule, same fold, same
    tiebreaks; property-tested), but the corpus side is a
    partition-pruned snapshot read of ONLY the union of the probes'
    ``nprobe`` lists.

    The routed list ids are collected to the driver to name the
    partitions — bounded by probes × nprobe ids (a probe SET, not a
    corpus; the collect is the same scalar class as the exact-quota
    count pass).  At 100 TB this is the entire point: the scan
    relation is built over nprobe/nlists of the files, so pruning
    happens before any task launches, not as a post-scan filter.

    Both member reads are pinned to the root's published index version
    (one ``index_current`` resolve), so a concurrent rebuild/append
    landing mid-serve can never pair new seeds with an old corpus or
    vice versa."""
    _, _, probe_lists, assigned, n_routed = _routed_read(
        probes, root, nprobe, "corpus", fs
    )
    return _rank_candidates(
        probe_lists, assigned, k, use_arrow=n_routed >= ARROW_SCORE_MIN_ROUTED
    )


def ivf_index_delete(rows: DataFrame, root: str, fs=None) -> str:
    """Remove vectors from a persisted index WITHOUT rebuild — the
    tested deletion path (VERDICT r10 #6).  ``rows`` is (vec_id,
    embedding) EXACTLY as indexed: the vectors re-assign against the
    FROZEN seed table to route the pruned MERGE (same mechanism as
    :func:`ivf_index_append`), so only the lists that actually held
    them rewrite.  A re-embedded vector that would now route to a
    DIFFERENT list cannot be deleted this way — the old copy lives in
    a list this routing never opens (the same partition-stability
    contract as append); that workload is delete-by-rebuild.

    Vec_ids absent from the index are no-ops (MERGE drops unmatched
    delete rows instead of inserting them).  Seeds are centroids, not
    corpus rows — deleting the vector a seed was picked from leaves
    the seed table untouched, exactly like FAISS ``remove_ids`` never
    moves centroids.  Property-tested: search over build+delete equals
    search over an index built WITHOUT those vectors under the same
    frozen seeds.  Returns the new corpus snapshot version."""
    return _ivf_mutate(rows, root, fs, delete=True)


# ---------------------------------------------------------------------------
# int8-quantized IVF serving path — the IO knob a 100 TB ANN deployment
# actually turns: the index's vector payload shrinks ~4x (int8 vs
# float32, ~8x vs the double working form) while routing stays
# full-precision.  Scalar max-abs quantization per vector:
#   q_i = floor(127 * v_i / max|v| + 0.5)        (ints in [-127, 127])
# and the crucial identity that makes serving exact-replayable with NO
# dequantization state: cosine against the dequantized vector equals
# cosine against the raw int vector —
#   cos(p, scale*q) = dot(p,q)·scale / (‖p‖·scale·‖q‖) = cos(p, q)
# so the index stores only (qv, ‖q‖); the scale cancels and never
# needs to be persisted.  floor(x + 0.5) is spelled identically in both
# dialects (engine round() half-rule differences never enter).
# ---------------------------------------------------------------------------

#: Spark-side quantization expressions (dual-dialect mirrors live in
#: the oracle builders, queries/llm_similarity.py::_ivf_q_ctes).
_QMAX = "array_max(transform(v, x -> abs(x)))"
_QV = "transform(v, x -> cast(floor(127.0D * x / qmax + 0.5D) as int))"
_QNRM = (
    "sqrt(aggregate(qv, 0D, (acc, q) -> acc + cast(q as double) * "
    "cast(q as double)))"
)
#: dot(probe double[], corpus int8[]) promoted element-wise — same
#: strict left fold as V.dot_cols.
_DOT_AQ = (
    "aggregate(zip_with(a.v, b.qv, (x, q) -> x * cast(q as double)), 0D, "
    "(acc, v) -> acc + v)"
)


def quantize_assigned(assigned: DataFrame) -> DataFrame:
    """(vec_id, v, nrm, list_id) → (vec_id, qv, qnrm, list_id): the
    int8 payload the quantized index persists.  Zero vectors are
    dropped (max|v| = 0 has no quantization and no cosine)."""
    return (
        assigned.withColumn("qmax", F.expr(_QMAX))
        .filter(F.col("qmax") > 0)
        .withColumn("qv", F.expr(_QV))
        .withColumn("qnrm", F.expr(_QNRM))
        .select("vec_id", "qv", "qnrm", "list_id")
    )


def ivf_build_index_quantized(
    corpus: DataFrame,
    root: str,
    nlists: int | None = None,
    seed_stride: int = 50,
    centroids: list | None = None,
    fs=None,
    rerank_payload: bool = False,
) -> str:
    """Persist the QUANTIZED IVF index: full-precision seed table
    (routing quality is not worth quantizing — it is nlists rows) +
    the int8 corpus partitioned by ``list_id``.  Assignment runs on
    full-precision vectors (build-time cost, paid once), so list
    membership is identical to :func:`ivf_build_index`'s — only the
    serving payload is quantized.  Same atomic-publish contract as the
    full-precision build: all members land, then ONE root-level index
    version pins them together.

    ``rerank_payload=True`` additionally lands the FULL-PRECISION
    assigned corpus beside the int8 one (``<root>/corpus``, identical
    layout to :func:`ivf_build_index`) — the re-score tier of the
    IVF-ADC serving shape (:func:`ivf_topk_indexed_quantized_rerank`):
    the int8 payload does the candidate scan, the float payload is
    touched only for the ``m·k`` survivors per probe (row-group-pruned
    by a pushed ``vec_id IN`` filter), so routed IO stays ~int8-sized
    while final scores are full-precision."""
    from ..streaming.snapshot import index_build

    seeds, _, assigned = _seeds_assigned_once(
        corpus, seed_stride, centroids, nlists
    )
    if rerank_payload:
        assigned = deferred_persist(assigned)
    members = {
        "seeds": seeds,
        "corpus_q": (quantize_assigned(assigned), "list_id"),
    }
    if rerank_payload:
        members["corpus"] = (assigned, "list_id")
    return index_build(root, members, fs=fs)["corpus_q"]


def _has_member(root: str, name: str, fs) -> bool:
    """True when the PUBLISHED index version names member ``name`` —
    how the quantized lifecycle detects a rerank payload to maintain.
    The pin is authoritative, not raw member-dir liveness: a root
    rebuilt in place without the member (e.g. float → non-rerank
    quantized) can leave a STALE live member dir behind, and
    dir-liveness detection would merge new batches into it and
    republish pre-rebuild vectors into the index (review r12).  Only
    a pre-pointer root (no pin at all) falls back to dir liveness."""
    import os

    from ..streaming.snapshot import DEFAULT_FS, _current_version, index_current

    pin = index_current(root, fs=fs)
    if pin is not None:
        return name in pin
    return _current_version(os.path.join(root, name), fs or DEFAULT_FS) is not None


#: The int8 payload for :func:`_ivf_mutate`.
_QUANTIZED_PAYLOAD = dict(
    payload="corpus_q", pin=("seeds", "corpus_q"), encode=quantize_assigned
)


def ivf_index_append_quantized(new_rows: DataFrame, root: str, fs=None) -> str:
    """Append vectors to a persisted QUANTIZED index WITHOUT rebuild —
    lifecycle parity with :func:`ivf_index_append` (VERDICT r11 #1):
    assign against the index's FROZEN seed table, quantize the assigned
    rows with the same max-abs rule the build used, then partition-
    pruned MERGE into the int8 corpus — only the lists that actually
    received new vectors rewrite.  A rerank-enabled index
    (``rerank_payload=True`` at build) has its full-precision payload
    MERGEd too, so both tiers stay in lockstep.  Same contracts as the
    float path: upserts must be list-stable; cross-list re-embedding is
    delete-with-old-embedding then append.  Zero vectors are dropped
    (never indexed — the build's own rule).  Property-tested equal to
    rebuild-over-the-union under the same frozen seeds.  Returns the
    new int8-corpus snapshot version."""
    return _ivf_mutate(
        new_rows, root, fs, delete=False, **_QUANTIZED_PAYLOAD
    )


def ivf_index_delete_quantized(rows: DataFrame, root: str, fs=None) -> str:
    """Remove vectors from a persisted QUANTIZED index WITHOUT rebuild
    — lifecycle parity with :func:`ivf_index_delete` (VERDICT r11 #1).
    ``rows`` is (vec_id, embedding) EXACTLY as indexed: re-assigning
    against the frozen seeds routes the pruned MERGE to the lists that
    hold them (delete needs only the routing and the key, but the rows
    go through the same :func:`quantize_assigned` as build/append so a
    zero vector — never indexed — is a no-op here too).  A
    rerank-enabled index has its full-precision payload pruned-MERGEd
    in lockstep.  Property-tested: search over build+delete equals
    search over an index built WITHOUT those vectors under the same
    frozen seeds.  Returns the new int8-corpus snapshot version."""
    return _ivf_mutate(rows, root, fs, delete=True, **_QUANTIZED_PAYLOAD)


def ivf_topk_indexed_quantized(
    probes: DataFrame, root: str, k: int = 3, nprobe: int = 2, fs=None
) -> DataFrame:
    """ANN top-k against the QUANTIZED index — (probe_id, rank, vec_id,
    qcos).  Routing is full-precision (probes × seed table, identical
    to the float path), the pruned corpus read moves ~4x fewer vector
    bytes, and candidate scoring is the asymmetric form: full-precision
    probe against int8 corpus (``cos(p, q)`` — the scale cancelled,
    module note above).  ``qcos`` is deterministic (strict left fold
    over exact-integer-valued doubles), so the oracle judges it
    EXACTLY; ranking quality vs the float path is the recall entry's
    job (`sim_ivf_recall_quantized`)."""
    return _top_k(_q_candidates(probes, root, nprobe, fs), "qcos", k)


def _q_candidates(
    probes: DataFrame, root: str, nprobe: int, fs, pin: dict | None = None
) -> DataFrame:
    """The int8 candidate function of the pure-int8 serve and of the
    shared re-rank (:func:`_rerank`): the shared routed read
    (:func:`_routed_read`) of the ``corpus_q`` member, then the
    asymmetric cosine — (probe_id, v, nrm, vec_id, list_id, qcos),
    probe vector and norm carried through for a re-score phase.
    ``pin`` is the serve's resolved index version (member → snapshot
    version), shared so every member read is consistent."""
    _, _, probe_lists, qcorpus, n_routed = _routed_read(
        probes, root, nprobe, "corpus_q", fs, pin
    )
    pa, ca = probe_lists.alias("a"), qcorpus.alias("b")
    # qcos tiered (ARROW_SCORE_MIN_ROUTED): the Arrow kernel promotes
    # the int8 payload to double element-wise (exact, like the
    # expression's cast) and folds vectorized — bit-identical qcos
    # either way (tests/test_arrow_folds.py).
    return _score_pairs(
        F.broadcast(pa).join(
            ca,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.probe_id") != F.col("b.vec_id")),
        ),
        [
            F.col("a.probe_id").alias("probe_id"),
            F.col("a.v").alias("v"),
            F.col("a.nrm").alias("nrm"),
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.list_id").alias("list_id"),
        ],
        b_vec="b.qv",
        b_nrm="b.qnrm",
        cos_name="qcos",
        use_arrow=n_routed >= ARROW_SCORE_MIN_ROUTED,
    )


#: Hard cap on the re-rank survivor set collected to name the float
#: read's pushed-down id filter: |probes|·m·k ids.  Far above any
#: sane probe set; crossing it means someone passed a corpus as
#: probes, which is cosine_topk's workload.
MAX_RERANK_IDS = 100_000


def ivf_topk_indexed_quantized_rerank(
    probes: DataFrame,
    root: str,
    k: int = 3,
    nprobe: int = 2,
    m: int = 3,
    fs=None,
) -> DataFrame:
    """ANN top-k via the IVF-ADC two-tier serve (VERDICT r11 #2):
    the INT8 payload scans the routed lists and cuts candidates to the
    per-probe top-``m·k`` by quantized score, then ONLY those survivors
    re-score against the FULL-PRECISION payload — (probe_id, rank,
    vec_id, cos) ranked by the exact cosine.  Requires a
    ``rerank_payload=True`` build.

    Why this holds recall at 100 TB where pure-int8 serving only
    measures it: int8 rounding perturbs scores by ~1/127 of the vector
    scale, so two candidates closer than that can swap ranks — at
    fixture scale gaps are huge and recall is identically the float
    path's, but nothing enforces that as corpora densify.  The re-rank
    makes the mechanism structural: quantization now only has to get
    the top-``m·k`` SET roughly right (a much looser ask than exact
    order), and the final order is full-precision.

    IO shape: the candidate scan — the volume term — reads the ~4x
    smaller int8 lists; the float read is partition-pruned to the
    routed lists AND filtered to the ``|probes|·m·k`` survivor ids
    (collected — the same bounded-scalar class as the routing
    collect, capped at :data:`MAX_RERANK_IDS`), which parquet prunes
    at row-group granularity.  So routed IO stays ~int8-sized and the
    float tier costs O(survivors), the classic ADC + refine split.

    Determinism: both phases are strict-left-fold doubles (qcos over
    exact-integer values, cos the same fold as :func:`cosine_topk`),
    both tiebreaks by vec_id — the oracle replays phase 1's cut and
    phase 2's re-rank exactly."""
    return _rerank(
        probes, root, k, nprobe, m, fs,
        _q_candidates, "qcos", "ivf_topk_indexed_quantized", "int8",
    )


def _rerank(
    probes: DataFrame,
    root: str,
    k: int,
    nprobe: int,
    m: int,
    fs,
    candidates,
    score: str,
    serve: str,
    payload: str,
) -> DataFrame:
    """The one ADC + refine re-rank of the int8 and PQ payloads: the
    ``candidates`` function (:func:`_q_candidates` /
    ``pq._pq_candidates``) scans the routed compressed lists, the
    per-probe top-``m·k`` by its ``score`` survive, and ONLY those
    re-score against the pinned full-precision ``corpus`` member —
    (probe_id, rank, vec_id, cos).  ``serve`` is the compressed-only
    serve's name and ``payload`` its label, both for the errors."""
    import os

    from ..streaming.snapshot import index_current, snapshot_read

    spark = probes.sparkSession
    pin = index_current(root, fs=fs) or {}
    # The build-shape guard comes FIRST (pure metadata): a
    # compressed-only build must raise even when the probe set routes
    # to empty lists — the empty-survivors early return below must
    # never mask it (review r13).
    if pin and "corpus" not in pin:
        raise ValueError(
            f"{serve}_rerank: the index pin at {root!r} has no 'corpus' "
            "member — this is not a rerank_payload=True build; rebuild "
            f"with rerank_payload=True or serve via {serve} "
            f"({payload}-only)"
        )
    cand = deferred_persist(
        _top_k(
            candidates(probes, root, nprobe, fs, pin=pin),
            score,
            m * k,
            rank="qrank",
            keep=("probe_id", "v", "nrm", "vec_id", "list_id"),
        )
    )
    # ONE driver job yields both routing scalars: the survivor ids
    # (pushed-down filter) and their list_ids (partition pruning) —
    # survivors carry list_id from the compressed scan, so the float
    # read prunes to exactly the lists that hold them (≤ the routed
    # set) with zero extra IO
    rows = (
        cand.select("vec_id", "list_id")
        .distinct()
        .limit(MAX_RERANK_IDS + 1)
        .collect()
    )
    if len(rows) > MAX_RERANK_IDS:
        raise ValueError(
            f"{serve}_rerank: more than {MAX_RERANK_IDS} re-rank "
            "survivors — the probe set is corpus-sized; use cosine_topk "
            "(distributed join) instead"
        )
    if not rows:
        return cand.select(
            "probe_id", F.lit(1).alias("rank"), "vec_id", F.lit(0.0).alias("cos")
        ).filter(F.lit(False))
    ids = sorted({r["vec_id"] for r in rows})
    lists = sorted({r["list_id"] for r in rows})
    # The pin is AUTHORITATIVE for the float tier too (ADVICE r12,
    # medium — guard raised above, before any job): a published pin
    # that lacks the 'corpus' member means the root was rebuilt
    # WITHOUT rerank_payload — falling back to version=None would
    # silently re-score survivors against whatever stale live member
    # dir remains from an older build (wrong cos, silently dropped
    # vec_ids), the exact hazard the pin exists to close.
    full = snapshot_read(
        spark,
        os.path.join(root, "corpus"),
        partition_values=lists,
        fs=fs,
        version=pin.get("corpus"),
    ).filter(F.col("vec_id").isin(ids))
    a, b = cand.alias("a"), full.alias("b")
    scored = _score_pairs(
        F.broadcast(a).join(b, F.col("a.vec_id") == F.col("b.vec_id")),
        [F.col("a.probe_id").alias("probe_id"), F.col("b.vec_id").alias("vec_id")],
        # len(rows) is the survivor count already collected above —
        # the re-score pair volume, so it picks the tier for free
        use_arrow=len(rows) >= ARROW_SCORE_MIN_ROUTED,
    )
    return _top_k(scored, "cos", k)
