"""IVF-PQ: product-quantized ANN serving (VERDICT r12 #7) — the
compression rung below int8 max-abs on the 100 TB memory-budget curve.

A d-dim vector is split into ``m`` subvectors of ``d/m`` dims; each
subspace has a tiny codebook of ``codes`` centroid subvectors, and the
index stores per vector only the ``m`` nearest-codeword ids (one small
int each) plus the true norm — ``m + 1`` values instead of ``d``
(int8) or ``d`` floats (full precision).  At the repo's 64-dim
embeddings with m=8 that is an ~8x smaller routed payload than int8;
at production dims the ratio is d/m.

Scoring is ADC (asymmetric distance computation, the FAISS IVFPQ
shape): the probe stays full-precision and the candidate's dot product
is assembled per subspace against the CODEWORD — a strict left fold
over ``j = 1..m`` of strict-fold subvector dots, so the estimate
``pcos = Σ_j dot(p_j, cb[j][code_j]) / (‖p‖·‖v‖)`` is a deterministic
double both engines replay bit-for-bit (the oracle re-derives
codebooks, codes, and the fold from the base table).  In the classic
formulation the per-probe LUT holds exactly these subvector dots;
expressing the fold directly against the broadcast codebook array is
the same arithmetic with the lookup fused into codegen — no Python,
no shuffle, the codebooks cross-join as ONE broadcast row.

Approximation quality is the recall entry's job; like int8, PQ holds
recall structurally only through the re-rank tier
(:func:`ivf_topk_indexed_pq_rerank` — same survivor-pruned float
re-score as the int8 ADC path, ``similarity.MAX_RERANK_IDS`` cap and
pushed ``vec_id IN`` filter included).

Judged entries freeze DETERMINISTIC codebooks (the same hash-rank pick
as the coarse seeds, truncated per subspace) so the oracle can replay
them.  Two trained alternatives: :func:`train_pq_codebooks`
(pyspark.ml per-subspace KMeans — quality-over-reproducibility,
pytest-verified) and :func:`train_pq_codebooks_fold` (r14 — hash-rank
init + Lloyd steps whose member means are strict folds over
vec_id-SORTED members, making the float means bit-exact on any
partitioning and SQL-replayable, so the trained path is ALSO
driver-judged).

``residual=True`` (r14) adds the FAISS-default residual form: codes
quantize ``v − centroid(list)`` and serving adds the exact
probe·centroid dot — see :func:`ivf_build_index_pq` for when it wins
(clustered corpora) and when raw measures better (this repo's
near-uniform fixture), both regimes test-pinned.

Reference anchor: none (pure EXT, BASELINE.json:6 — the ANN family the
reference's warehouse lacks entirely).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import deferred_persist
from ..functions.localrel import local_frame
from .similarity import (
    ARROW_SCORE_MIN_ROUTED,
    MAX_RERANK_IDS,
    _ivf_mutate,
    _prep,
    _route_probes,
    _routed_lists,
    _seeds_assigned_once,
    seed_rank_hash,
)


def _subdim(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(
            f"PQ needs the embedding dim ({dim}) divisible by m ({m})"
        )
    return dim // m


def _codebooks_hashrank_from(
    frame: DataFrame, m: int, codes: int, vcol: str, dim: int | None = None
) -> DataFrame:
    """Hash-rank codebook pick over an already-prepped frame: the
    ``codes`` rows with the smallest :func:`seed_rank_hash` (ties by
    vec_id), ``vcol`` split into ``m`` subvectors — (sub_id, code_id,
    cv), ids 1-based, code_id in hash-rank order.  ``dim`` skips the
    1-row dim probe when the caller already knows it (the build does,
    from its collected seed table — the probe was a whole extra pass
    over the assignment pipeline per build)."""
    # TakeOrderedAndProject pick (the _seed_frame pattern — per-partition
    # partial top-`codes`, never a global sort/window over the corpus),
    # THEN rank the tiny surviving set; the trailing window exchanges
    # `codes` rows, not the table.
    w = Window.orderBy(F.expr(seed_rank_hash("vec_id")), F.col("vec_id"))
    picked = (
        frame.orderBy(F.expr(seed_rank_hash("vec_id")), F.col("vec_id"))
        .limit(codes)
        .withColumn("code_id", F.row_number().over(w))
    )
    if dim is None:
        dim = len(picked.select(vcol).first()[vcol])
    sd = _subdim(dim, m)
    return picked.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, {m}), j -> "
                f"named_struct('sub_id', j, 'cv', slice({vcol}, (j-1)*{sd}+1, {sd})))"
            )
        ).alias("s"),
        "code_id",
    ).select(F.col("s.sub_id").alias("sub_id"), "code_id", F.col("s.cv").alias("cv"))


def pq_codebooks_hashrank(corpus: DataFrame, m: int, codes: int) -> DataFrame:
    """Deterministic codebooks for the judged path: the ``codes``
    corpus vectors with the smallest :func:`seed_rank_hash` (ties by
    vec_id — the exact pick the coarse seeds use), split into ``m``
    subvectors: (sub_id, code_id, cv), both ids 1-based, code_id in
    hash-rank order.  Oracle-replayable verbatim; constant cardinality
    in corpus size (m·codes rows)."""
    return _codebooks_hashrank_from(_prep(corpus), m, codes, "v")


def _residualize(assigned: DataFrame, seeds: DataFrame) -> DataFrame:
    """Add ``rv = v − centroid(list_id)`` to an assigned frame — the
    FAISS-default residual the PQ codebooks then quantize.  Seeds are
    the coarse centroid table (nlists rows, broadcast); the
    subtraction is an exact per-element double op, so residual folds
    stay oracle-replayable."""
    sv = seeds.select(
        F.col("seed_id").alias("_rl"), F.col("v").alias("_sv")
    )
    return (
        assigned.join(
            F.broadcast(sv), F.col("list_id") == F.col("_rl"), "inner"
        )
        .withColumn("rv", F.expr("zip_with(v, _sv, (x, y) -> x - y)"))
        .drop("_rl", "_sv")
    )


def train_pq_codebooks(
    corpus: DataFrame, m: int, codes: int, seed: int = 7, max_iter: int = 10
) -> list[tuple[int, int, list[float]]]:
    """Lloyd-trained per-subspace codebooks — the quality alternative
    to the hash-rank pick: ``m`` independent ``pyspark.ml`` KMeans fits
    over the corpus's subvectors (k-means|| init; the corpus never
    leaves the executors, only m·codes codeword subvectors return).
    Deterministic for fixed (data, seed, partitioning); NOT
    engine-reproducible, which is why judged entries freeze the
    hash-rank codebooks instead (same split as train_ivf_centroids).
    Returns [(sub_id, code_id, [float, ...])], ids 1-based."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    prepped = _prep(corpus)
    dim = len(prepped.select("v").first()["v"])
    sd = _subdim(dim, m)
    out: list[tuple[int, int, list[float]]] = []
    for j in range(1, m + 1):
        feats = prepped.select(
            array_to_vector(
                F.expr(f"slice(v, {(j - 1) * sd + 1}, {sd})")
            ).alias("features")
        )
        model = KMeans(k=codes, seed=seed + j, maxIter=max_iter).fit(feats)
        out += [
            (j, c + 1, [float(x) for x in cv])
            for c, cv in enumerate(model.clusterCenters())
        ]
    return out


def train_pq_codebooks_fold(
    corpus: DataFrame,
    m: int,
    codes: int,
    n_iter: int = 2,
    max_fold_members: int = 250_000,
) -> list[tuple[int, int, list[float]]]:
    """Deterministic, ORACLE-REPLAYABLE per-subspace Lloyd training
    (r14, VERDICT r13 #6): hash-rank init (the judged pick), then
    ``n_iter`` Lloyd steps — reassign every subvector to its nearest
    codeword (argmin-L2², ties to the smallest code_id: the engine's
    array_sort struct rule), move each codeword to its member MEAN
    computed as a strict fold over members sorted by vec_id, divided
    by the count.  Pinning the summation order makes the mean
    bit-exact on any partitioning AND replayable as the same
    vec_id-ordered fold in SQL — the property ``pyspark.ml`` KMeans
    (:func:`train_pq_codebooks`, k-means|| init, unordered
    aggregation) cannot give.  Empty codewords keep their previous
    position.  Each iteration is one Spark job collecting m·codes
    rows; the corpus never reaches the driver.

    SIZE BOUND (review r14): the ordered fold materializes one
    codeword's FULL membership as a single aggregation-buffer array,
    so the worst case (every subvector in one codeword) is O(corpus)
    in one executor row.  The corpus size is therefore capped loudly
    at ``max_fold_members`` — this trainer is the bit-exact,
    SQL-replayable quality path for judged-scale corpora; train big
    corpora with :func:`train_pq_codebooks` (pyspark.ml KMeans,
    unordered distributed aggregation) and accept that its means are
    not partition-invariant.  Returns
    [(sub_id, code_id, [float, ...])], ids 1-based."""
    spark = corpus.sparkSession
    prepped = deferred_persist(_prep(corpus))
    n = prepped.count()
    if n > max_fold_members:
        raise ValueError(
            f"train_pq_codebooks_fold: corpus has {n} vectors, above the "
            f"{max_fold_members} bound on the ordered fold's worst-case "
            "single-codeword membership buffer — use train_pq_codebooks "
            "for corpora this size, or raise max_fold_members knowingly"
        )
    dim = len(prepped.select("v").first()["v"])
    sd = _subdim(dim, m)
    # One collect, validated locally (review r14: routing the init
    # through _cb_frame_validate re-wrapped already-local rows in a
    # throwaway frame just to collect them again).
    init_rows = _codebooks_hashrank_from(prepped, m, codes, "v").collect()
    got = {(r["sub_id"], r["code_id"]) for r in init_rows}
    want = {(j, c) for j in range(1, m + 1) for c in range(1, codes + 1)}
    if got != want:
        raise ValueError(
            f"PQ codebooks must hold exactly one entry per (sub_id 1..{m}, "
            f"code_id 1..{codes}); got {len(got)} of {len(want)} — a corpus "
            "smaller than `codes` cannot seed hash-rank codebooks (lower "
            "`codes`)"
        )
    cb_rows = [(r["sub_id"], r["code_id"], list(r["cv"])) for r in init_rows]
    subs = prepped.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, {m}), j -> "
                f"named_struct('sub_id', j, 'sv2', slice(v, (j-1)*{sd}+1, {sd})))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.sub_id").alias("sub_id"), F.col("s.sv2").alias("sv2"))
    subs = deferred_persist(subs)
    d2 = (
        f"aggregate(zip_with(sv2, element_at(element_at(cbv, sub_id), c), "
        f"(x, y) -> (x-y)*(x-y)), 0D, (acc, e) -> acc + e)"
    )
    argmin = (
        f"element_at(array_sort(zip_with("
        f"transform(sequence(1, {codes}), c -> {d2}), "
        f"sequence(1, {codes}), (d, c) -> named_struct('d', d, 'c', c))"
        f"), 1).c"
    )
    for _ in range(n_iter):
        cbdf = local_frame(
            spark, cb_rows, "sub_id int, code_id int, cv array<double>"
        )
        moved = (
            subs.crossJoin(F.broadcast(_cbv_one_row(cbdf, m, codes)))
            .withColumn("code_id", F.expr(argmin))
            .groupBy("sub_id", "code_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("vec_id", "sv2"))).alias(
                    "mem"
                )
            )
            .select(
                "sub_id",
                "code_id",
                F.expr(
                    f"transform(aggregate(mem, array_repeat(0D, {sd}), "
                    f"(acc, e) -> zip_with(acc, e.sv2, (x, y) -> x + y)), "
                    f"x -> x / cast(size(mem) as double))"
                ).alias("cv"),
            )
            .collect()
        )
        new = {(r["sub_id"], r["code_id"]): list(r["cv"]) for r in moved}
        cb_rows = [
            (j, c, new.get((j, c), cv)) for j, c, cv in cb_rows
        ]
    return [(j, c, [float(x) for x in cv]) for j, c, cv in cb_rows]


def pq_distortion(
    frame: DataFrame, cb: DataFrame, m: int, codes: int, vec_col: str = "v"
) -> float:
    """Mean PQ reconstruction error ``E[‖x − codeword(x)‖²]`` over the
    frame — THE quality metric a PQ variant is chosen by (recall@k on
    a small probe set is noisier).  Codegen folds end-to-end; returns
    one driver double.

    Measured context for the r14 residual tier (tests/test_pq.py pins
    both regimes): on a CLUSTERED corpus residual serving wins recall
    at identical geometry — the probe·centroid term carries the
    cluster identity EXACTLY and quantization error is confined to the
    small residual — while on a near-uniform corpus (this repo's
    synthetic embeddings) with sample-picked centroids the residual
    ``v − c`` is a difference of two ~independent draws (~2x the raw
    variance), distortion comes out WORSE than raw, and raw encoding
    is the right pick.  Choose per corpus by measuring, not by
    default."""
    sd = len(cb.select("cv").first()["cv"])
    err = (
        frame.crossJoin(F.broadcast(_cbv_one_row(cb, m, codes)))
        .withColumn("pq", F.expr(_encode_expr(m, codes, sd, vec_col)))
        .withColumn(
            "err",
            F.expr(
                f"aggregate(sequence(1, {m}), 0D, (acc, j) -> acc + "
                f"aggregate(zip_with(slice({vec_col}, (j-1)*{sd}+1, {sd}), "
                f"element_at(element_at(cbv, j), element_at(pq, j)), "
                f"(x, y) -> (x-y)*(x-y)), 0D, (a, e) -> a + e))"
            ),
        )
    )
    return float(err.agg(F.avg("err")).first()[0])


def _cb_frame_validate(cb: DataFrame, spark, m: int, codes: int) -> DataFrame:
    # _cbv_one_row indexes flat[(j-1)*codes + c]: anything but EXACTLY
    # one entry per (sub_id 1..m, code_id 1..codes) silently misaligns
    # the lookup table — e.g. a corpus smaller than `codes` yields a
    # short pick whose positions mostly resolve to the WRONG subspace's
    # codewords with no error (review r13).  Validate loudly; the
    # collected rows (m·codes, bounded) also become a LOCAL frame so
    # the build's three codebook consumers (this check, the member
    # commit, the encode) run the hash-rank corpus pick exactly once.
    rows = cb.collect()
    got = {(r["sub_id"], r["code_id"]) for r in rows}
    want = {(j, c) for j in range(1, m + 1) for c in range(1, codes + 1)}
    if got != want:
        raise ValueError(
            f"PQ codebooks must hold exactly one entry per (sub_id 1..{m}, "
            f"code_id 1..{codes}); got {len(got)} of {len(want)} — a corpus "
            "smaller than `codes` cannot seed hash-rank codebooks (lower "
            "`codes`), and custom codebooks must be complete"
        )
    return local_frame(
        spark,
        [(r["sub_id"], r["code_id"], list(r["cv"])) for r in rows],
        "sub_id int, code_id int, cv array<double>",
    )


def _cb_frame(corpus: DataFrame, m: int, codes: int, codebooks) -> DataFrame:
    if codebooks is None:
        cb = pq_codebooks_hashrank(corpus, m, codes)
    else:
        spark = corpus.sparkSession
        rows = [
            (int(j), int(c), [float(x) for x in cv]) for j, c, cv in codebooks
        ]
        cb = local_frame(
            spark, rows, "sub_id int, code_id int, cv array<double>"
        )
    return _cb_frame_validate(cb, corpus.sparkSession, m, codes)


def _cbv_one_row(cb: DataFrame, m: int, codes: int) -> DataFrame:
    """The codebook table as ONE broadcastable row holding the nested
    ``cbv[sub_id][code_id] -> subvector`` array (deterministic order
    via array_sort over (sub_id, code_id) structs) — the fused form of
    the classic ADC lookup table, sized m·codes·(d/m) doubles."""
    return cb.select(
        F.struct("sub_id", "code_id", "cv").alias("s")
    ).agg(F.array_sort(F.collect_list("s")).alias("flat")).select(
        F.expr(
            f"transform(sequence(1, {m}), j -> "
            f"transform(sequence(1, {codes}), c -> "
            f"element_at(flat, (j-1)*{codes} + c).cv))"
        ).alias("cbv")
    )


def _encode_expr(m: int, codes: int, sd: int, vcol: str = "v") -> str:
    """codes array (1-based codeword ids): per subspace the argmin-L2²
    codeword, distances as strict folds, ties to the smallest code_id
    (array_sort over (d, c) structs)."""
    d2 = (
        f"aggregate(zip_with(slice({vcol}, (j-1)*{sd}+1, {sd}), "
        f"element_at(element_at(cbv, j), c), (x, y) -> (x-y)*(x-y)), "
        f"0D, (acc, e) -> acc + e)"
    )
    return (
        f"transform(sequence(1, {m}), j -> element_at(array_sort("
        f"zip_with(transform(sequence(1, {codes}), c -> {d2}), "
        f"sequence(1, {codes}), (d, c) -> named_struct('d', d, 'c', c))"
        f"), 1).c)"
    )


def _adc_expr(m: int, sd: int, vcol: str, pqcol: str) -> str:
    """ADC dot estimate: left fold over subspaces of strict-fold
    subvector·codeword dots — the LUT sum, fused."""
    return (
        f"aggregate(sequence(1, {m}), 0D, (acc, j) -> acc + "
        f"aggregate(zip_with(slice({vcol}, (j-1)*{sd}+1, {sd}), "
        f"element_at(element_at(cbv, j), element_at({pqcol}, j)), "
        f"(x, y) -> x * y), 0D, (a, e) -> a + e))"
    )


def _cb_matrix(cb: DataFrame, m: int, codes: int):
    """The codebook table as a local ``(m, codes, sd)`` float64 array —
    ONE bounded collect (m·codes rows; usually of an already-local
    frame), shipped in the encode/ADC task closures exactly like the
    seed matrix in ``similarity._assign_arrow``."""
    import numpy as np

    rows = cb.collect()
    if not rows:
        # Mirror _cb_frame_validate's loud completeness contract: an
        # empty/stale pq_codebooks snapshot otherwise surfaced as a
        # bare IndexError on the driver (ADVICE r18).
        raise ValueError(
            f"PQ codebook table is empty — expected one entry per "
            f"(sub_id 1..{m}, code_id 1..{codes}); the index's "
            "pq_codebooks member is missing or stale (rebuild the index)"
        )
    sd = len(rows[0]["cv"])
    cbm = np.zeros((m, codes, sd), dtype=np.float64)
    for r in rows:
        cbm[r["sub_id"] - 1, r["code_id"] - 1] = r["cv"]
    return cbm


def _encode_codes(v_mat, cbm):
    """Per-subspace argmin-L2² codeword ids (1-based) for a batch of
    vectors — the vectorized twin of :func:`_encode_expr`, bit-exact:
    each d² accumulates dims in ascending order from 0.0 (the same
    correctly-rounded IEEE sequence as the expression's strict fold),
    and ``argmin`` resolves ties to the FIRST (= smallest) code id,
    the expression's array_sort struct rule.  NaN distances (a NaN
    vector poisons every code's fold equally) map to +inf so the tie
    rule still picks code 1, as the expression's NaN-sorts-last does."""
    import numpy as np

    m, codes, sd = cbm.shape
    n = len(v_mat)
    out = np.empty((n, m), dtype=np.int32)
    for j in range(m):
        sub = v_mat[:, j * sd : (j + 1) * sd]
        acc = np.zeros((n, codes))
        for d in range(sd):
            diff = sub[:, d][:, None] - cbm[j, :, d][None, :]
            acc += diff * diff
        np.nan_to_num(acc, copy=False, nan=np.inf)
        out[:, j] = np.argmin(acc, axis=1) + 1
    return out


def pq_encode(
    assigned: DataFrame,
    cb: DataFrame,
    m: int,
    codes: int,
    sub_dim: int | None = None,
    vec_col: str = "v",
    use_arrow: bool = True,
) -> DataFrame:
    """(vec_id, v, nrm, list_id) → (vec_id, pq, nrm, list_id): the PQ
    payload — m codeword ids + the TRUE vector norm (the denominator
    of the cosine estimate; quantizing it would add error for 8 bytes
    saved).  Zero vectors are dropped (no cosine), matching the int8
    rule.  ``sub_dim`` skips the 1-row dim probe when the caller
    already knows it (build/append/delete all do — review r13: the
    probe re-ran part of the assignment pipeline per call).
    ``vec_col`` is what gets quantized: ``v`` for raw encoding, ``rv``
    for the residual tier (the codebooks must have been built over the
    same choice).

    Default path (r18, guide §4.2): ONE Arrow pass per partition with
    the codebook matrix in the task closure — the expression form's
    nested ``aggregate``/``zip_with``/``array_sort`` folds are
    CodegenFallback (interpreted per element; the r18 profile measured
    the encode at ~1.6 s for 2 000 rows) while :func:`_encode_codes`
    runs the SAME IEEE operation sequence vectorized.  Bit-identical
    codes (property-tested against ``use_arrow=False``, which keeps
    the original expression plan).  The ``nrm > 0`` filter runs before
    the kernel, so every surviving row has a non-null fixed-dim
    vector (a null/NaN-poisoned vector has null/NaN norm and is
    dropped by the same filter in both paths)."""
    if sub_dim is None:
        sub_dim = _subdim(len(assigned.select(vec_col).first()[vec_col]), m)
    live = assigned.filter(F.col("nrm") > 0)
    if not use_arrow:
        return (
            live.crossJoin(F.broadcast(_cbv_one_row(cb, m, codes)))
            .withColumn("pq", F.expr(_encode_expr(m, codes, sub_dim, vec_col)))
            .select("vec_id", "pq", "nrm", "list_id")
        )
    cbm = _cb_matrix(cb, m, codes)

    def encode(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            idx = {nm: i for i, nm in enumerate(batch.schema.names)}
            v_mat = np.vstack(
                batch.column(idx["_v"]).to_pandas().to_numpy()
            ).astype(np.float64, copy=False)
            pq_mat = _encode_codes(v_mat, cbm)
            offsets = pa.array(
                np.arange(0, (n + 1) * cbm.shape[0], cbm.shape[0], dtype=np.int32)
            )
            pq_col = pa.ListArray.from_arrays(
                offsets, pa.array(pq_mat.ravel(), type=pa.int32())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(idx["vec_id"]),
                    pq_col,
                    batch.column(idx["nrm"]),
                    batch.column(idx["list_id"]),
                ],
                names=["vec_id", "pq", "nrm", "list_id"],
            )

    return live.select(
        "vec_id", F.col(vec_col).alias("_v"), "nrm", "list_id"
    ).mapInArrow(
        encode, "vec_id long, pq array<int>, nrm double, list_id long"
    )


def ivf_build_index_pq(
    corpus: DataFrame,
    root: str,
    nlists: int | None = None,
    m: int = 8,
    codes: int = 16,
    seed_stride: int = 50,
    centroids: list | None = None,
    codebooks: list | None = None,
    rerank_payload: bool = False,
    residual: bool = False,
    fs=None,
) -> str:
    """Persist the IVF-PQ index: full-precision coarse seeds (routing),
    the frozen per-subspace codebooks, a 1-row meta (m, codes, sub_dim,
    residual), and the PQ-encoded corpus partitioned by ``list_id`` —
    all pinned as ONE atomic index version.  ``rerank_payload=True``
    additionally lands the full-precision assigned corpus for the
    ADC+refine serve, identical layout to the int8 family's.

    ``residual=True`` is the FAISS-default IVF-PQ form (r14, VERDICT
    r13 #3): codebooks are built over (and codes encode) the residual
    ``v − centroid(list)`` instead of the raw vector.  When the coarse
    centroids capture real cluster structure this wins recall at the
    same (m, codes) budget — the probe·centroid term is EXACT and only
    the small residual is quantized (tests pin the win on a clustered
    corpus); on a corpus WITHOUT that structure the residual is a
    difference of two ~independent draws (~2x the variance) and raw
    encoding measures better (tests pin the inverse on the uniform
    fixture via :func:`pq_distortion`) — pick per corpus by measuring.
    Serving adds the exact probe·centroid dot per routed
    list (nlists-bounded, already broadcast for routing): ``pcos =
    (dot(p, cent) + adc) / norms`` — still a pure codegen fold chain
    the oracle replays bit-for-bit.  Custom ``codebooks`` with
    ``residual=True`` must have been trained over residuals against
    THESE seeds.  Returns the PQ-corpus snapshot version."""
    from ..streaming.snapshot import index_build

    spark = corpus.sparkSession
    seeds, seed_rows, assigned = _seeds_assigned_once(
        corpus, seed_stride, centroids, nlists
    )
    enc_col = "v"
    if residual:
        assigned = _residualize(assigned, seeds)
        enc_col = "rv"
    # The assigned corpus feeds the codebook pick AND one or two member
    # writes below — persist it so the assignment (and the residual
    # join) run once per build, not once per consumer (r18 profile:
    # the codebook collect re-ran the whole assignment pipeline that
    # the corpus write then repeated).
    assigned = deferred_persist(assigned)
    # dim from the already-collected seed table (full-precision corpus
    # vectors; residuals have the same dim) — no dim-probe job.
    dim = len(seed_rows[0]["v"]) if seed_rows else None
    if codebooks is None:
        # Hash-rank pick over the PERSISTED assigned frame: identical
        # rows to the raw-corpus pick (assignment preserves vec_id and
        # v; the residual tier picks rv by design), zero extra corpus
        # scans.
        cb = _cb_frame_validate(
            _codebooks_hashrank_from(assigned, m, codes, enc_col, dim=dim),
            corpus.sparkSession,
            m,
            codes,
        )
    else:
        cb = _cb_frame(corpus, m, codes, codebooks)
    # sub_dim from the validated LOCAL codebook frame — no extra
    # corpus scan (cb subvectors are dim/m long by construction)
    sd = len(cb.first()["cv"])
    if codebooks is not None:
        # custom codebooks: their subvector length must tile the
        # corpus dim exactly, or encode's slice/zip_with would
        # silently truncate against mis-sized codewords
        if dim is None:
            dim = len(_prep(corpus).select("v").first()["v"])
        if sd * m != dim:
            raise ValueError(
                f"custom PQ codebooks have sub_dim={sd} over m={m} "
                f"subspaces ({sd * m} dims) but the corpus is {dim}-dim"
            )
    members = {
        "seeds": seeds,
        "pq_meta": local_frame(
            spark,
            [(m, codes, sd, bool(residual))],
            "m int, codes int, sub_dim int, residual boolean",
        ),
        "pq_codebooks": cb,
        "corpus_pq": (
            pq_encode(assigned, cb, m, codes, sub_dim=sd, vec_col=enc_col),
            "list_id",
        ),
    }
    if rerank_payload:
        members["corpus"] = (
            assigned.select("vec_id", "v", "nrm", "list_id"),
            "list_id",
        )
    return index_build(root, members, fs=fs)["corpus_pq"]


def _pq_meta(spark, root: str, fs, pin: dict) -> tuple[int, int, int, bool]:
    from ..streaming.snapshot import snapshot_read

    r = snapshot_read(
        spark, os.path.join(root, "pq_meta"), fs=fs, version=pin.get("pq_meta")
    ).collect()[0]
    d = r.asDict()
    return r["m"], r["codes"], r["sub_dim"], bool(d.get("residual", False))


def _pq_candidates(
    probes: DataFrame, root: str, nprobe: int, fs, pin: dict | None = None
) -> DataFrame:
    """Shared ADC candidate scoring — (probe_id, v, nrm, vec_id,
    list_id, pcos): full-precision probe routing, partition-pruned PQ
    corpus read, codebooks cross-joined as one broadcast row, the
    whole score inside codegen."""
    from ..streaming.snapshot import index_current, snapshot_read

    spark = probes.sparkSession
    if pin is None:
        pin = index_current(root, fs=fs) or {}
    m, codes, sd, residual = _pq_meta(spark, root, fs, pin)
    seeds = snapshot_read(
        spark, os.path.join(root, "seeds"), fs=fs, version=pin.get("seeds")
    )
    cb = snapshot_read(
        spark,
        os.path.join(root, "pq_codebooks"),
        fs=fs,
        version=pin.get("pq_codebooks"),
    )
    probe_lists = deferred_persist(_route_probes(probes, seeds, nprobe))
    wanted, n_routed = _routed_lists(probe_lists)
    pq_corpus = snapshot_read(
        spark,
        os.path.join(root, "corpus_pq"),
        partition_values=wanted,
        fs=fs,
        version=pin.get("corpus_pq"),
    )
    # Residual tier: codes reconstruct v̂ = centroid + Σ codewords, so
    # the dot estimate gains the exact probe·centroid term.  It
    # depends only on (probe_id, list_id), so it is computed ONCE per
    # routed (probe, list) pair on the tiny broadcast side — never per
    # corpus candidate (review r14) — seeds are already here
    # (routing), nlists-bounded and broadcast.
    if residual:
        cents = seeds.select(
            F.col("seed_id").alias("_cl"), F.col("v").alias("_cv2")
        )
        probe_lists = (
            probe_lists.join(
                F.broadcast(cents), F.col("list_id") == F.col("_cl")
            )
            .withColumn(
                "_cdot",
                F.expr(
                    "aggregate(zip_with(v, _cv2, (x, y) -> x * y), 0D, "
                    "(acc, e) -> acc + e)"
                ),
            )
            .drop("_cl", "_cv2")
        )
    pa, ca = probe_lists.alias("a"), pq_corpus.alias("b")
    joined = F.broadcast(pa).join(
        ca,
        (F.col("a.list_id") == F.col("b.list_id"))
        & (F.col("a.probe_id") != F.col("b.vec_id")),
    )
    # ADC scoring, tiered on routed volume (the similarity module's
    # ARROW_SCORE_MIN_ROUTED crossover): below it, the original
    # expression fold — codegen-resident, no Python boundary — wins;
    # above it, ONE Arrow pass per partition with the codebook matrix
    # in the task closure (m·codes rows — the bounded `_cb_matrix`
    # collect).  The Arrow pass builds the CLASSIC per-probe LUT —
    # lut[p, j, c] = dot(p_j, cb[j][c]), dims accumulated in ascending
    # order from 0.0 — then assembles every candidate's estimate as
    # the ascending-j fold of LUT lookups: the IDENTICAL IEEE sequence
    # the `_adc_expr` strict folds perform per pair (the LUT only
    # caches the per-probe subvector dots the expression recomputes
    # per candidate), so pcos is bit-exact either way
    # (tests/test_arrow_folds.py) and the tier can only change cost.
    if n_routed < ARROW_SCORE_MIN_ROUTED:
        dot = F.expr(_adc_expr(m, sd, "a.v", "b.pq"))
        if residual:
            dot = F.col("a._cdot") + dot
        return joined.crossJoin(
            F.broadcast(_cbv_one_row(cb, m, codes))
        ).select(
            "probe_id",
            F.col("a.v").alias("v"),
            F.col("a.nrm").alias("nrm"),
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.list_id").alias("list_id"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("pcos"),
        )
    cbm = _cb_matrix(cb, m, codes)
    sel = [
        F.col("a.probe_id").alias("probe_id"),
        F.col("a.v").alias("v"),
        F.col("a.nrm").alias("nrm"),
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.list_id").alias("list_id"),
        F.col("b.pq").alias("_pq"),
        F.col("b.nrm").alias("_bn"),
    ]
    if residual:
        sel.append(F.col("a._cdot").alias("_cdot"))
    base = joined.select(*sel)

    def adc(batches):
        import numpy as np
        import pyarrow as paw

        from .similarity import _inner_null_rows

        mm, cc = cbm.shape[0], cbm.shape[1]
        sdd = cbm.shape[2]
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            idx = {nm: i for i, nm in enumerate(batch.schema.names)}
            pid = batch.column(idx["probe_id"]).to_numpy(zero_copy_only=False)
            # Null masking (ADVICE r18, medium): the expression tier
            # propagates a null pcos for a null probe vector / code /
            # norm, and a `_fold_cos_arrow`-style mask keeps the
            # kernel identical — without it the np.vstack below dies
            # on the None cell, and ONLY past the tier switch (i.e. at
            # scale, never on the small fixture).  Zero-null batches
            # take the mask-free math unchanged.
            null = np.zeros(n, dtype=bool)
            fold_cols = ["v", "_pq", "nrm", "_bn"]
            if "_cdot" in idx:
                fold_cols.append("_cdot")
            for cname in fold_cols:
                col = batch.column(idx[cname])
                if col.null_count:
                    null |= np.asarray(col.is_null())
                if cname in ("v", "_pq"):
                    rows = _inner_null_rows(col)
                    if rows is not None and len(rows):
                        null[rows] = True
            vi = np.flatnonzero(~null)
            pcos = np.zeros(n, dtype=np.float64)
            if len(vi):
                v_cells = batch.column(idx["v"]).to_pandas().to_numpy()
                pq_cells = batch.column(idx["_pq"]).to_pandas().to_numpy()
                an = batch.column(idx["nrm"]).to_numpy(zero_copy_only=False)
                bn = batch.column(idx["_bn"]).to_numpy(zero_copy_only=False)
                pid_v = pid[vi]
                pq_mat = np.vstack(pq_cells[vi]).astype(np.int64, copy=False)
                uniq, first, uidx = np.unique(
                    pid_v, return_index=True, return_inverse=True
                )
                p_mat = np.vstack(v_cells[vi][first]).astype(
                    np.float64, copy=False
                )
                lut = np.zeros((len(uniq), mm, cc))
                for j in range(mm):
                    psub = p_mat[:, j * sdd : (j + 1) * sdd]
                    acc = np.zeros((len(uniq), cc))
                    for d in range(sdd):
                        acc += np.outer(psub[:, d], cbm[j, :, d])
                    lut[:, j, :] = acc
                dot = np.zeros(len(vi))
                for j in range(mm):
                    dot += lut[uidx, j, pq_mat[:, j] - 1]
                if "_cdot" in idx:
                    dot = (
                        batch.column(idx["_cdot"]).to_numpy(
                            zero_copy_only=False
                        )[vi]
                        + dot
                    )
                pcos[vi] = dot / (an[vi] * bn[vi])
            out = (
                paw.array(pcos, mask=null)
                if null.any()
                else paw.array(pcos, from_pandas=False)
            )
            yield paw.RecordBatch.from_arrays(
                [
                    batch.column(idx["probe_id"]),
                    batch.column(idx["v"]),
                    batch.column(idx["nrm"]),
                    batch.column(idx["vec_id"]),
                    batch.column(idx["list_id"]),
                    out,
                ],
                names=["probe_id", "v", "nrm", "vec_id", "list_id", "pcos"],
            )

    return base.mapInArrow(
        adc,
        "probe_id long, v array<double>, nrm double, vec_id long, "
        "list_id long, pcos double",
    )


def ivf_topk_indexed_pq(
    probes: DataFrame, root: str, k: int = 3, nprobe: int = 2, fs=None
) -> DataFrame:
    """ANN top-k against the PQ index — (probe_id, rank, vec_id, pcos).
    Routing is full-precision; the pruned corpus read moves the m-byte
    codes instead of vectors; scoring is the deterministic ADC fold, so
    the oracle judges pcos EXACTLY (ranking quality vs exact is the
    recall entry's job, held structurally by the re-rank serve)."""
    cand = _pq_candidates(probes, root, nprobe, fs)
    w = Window.partitionBy("probe_id").orderBy(F.desc("pcos"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "vec_id", "pcos")
    )


def ivf_topk_indexed_pq_rerank(
    probes: DataFrame,
    root: str,
    k: int = 3,
    nprobe: int = 2,
    m: int = 3,
    fs=None,
) -> DataFrame:
    """PQ-ADC two-tier serve: the PQ payload cuts candidates to the
    per-probe top-``m·k`` by ADC estimate, then ONLY those survivors
    re-score against the full-precision payload — (probe_id, rank,
    vec_id, cos) by exact cosine.  Requires ``rerank_payload=True`` at
    build; same survivor-collect bound (:data:`MAX_RERANK_IDS`),
    pushed ``vec_id IN`` filter, list-pruned float read, and
    pin-authoritative stale-dir guard as the int8 rerank serve."""
    from ..streaming.snapshot import index_current, snapshot_read
    from .similarity import _score_pairs

    spark = probes.sparkSession
    pin = index_current(root, fs=fs) or {}
    # The build-shape guard comes FIRST (pure metadata): an ADC-only
    # build must raise even when the probe set routes to empty lists —
    # the empty-survivors early return below must never mask it
    # (review r13).
    if pin and "corpus" not in pin:
        raise ValueError(
            f"ivf_topk_indexed_pq_rerank: the index pin at {root!r} has "
            "no 'corpus' member — this is not a rerank_payload=True "
            "build; rebuild with rerank_payload=True or serve via "
            "ivf_topk_indexed_pq (ADC-only)"
        )
    wq = Window.partitionBy("probe_id").orderBy(F.desc("pcos"), F.asc("vec_id"))
    cand = deferred_persist(
        _pq_candidates(probes, root, nprobe, fs, pin=pin)
        .withColumn("qrank", F.row_number().over(wq))
        .filter(F.col("qrank") <= m * k)
        .select("probe_id", "v", "nrm", "vec_id", "list_id")
    )
    rows = (
        cand.select("vec_id", "list_id")
        .distinct()
        .limit(MAX_RERANK_IDS + 1)
        .collect()
    )
    if len(rows) > MAX_RERANK_IDS:
        raise ValueError(
            f"ivf_topk_indexed_pq_rerank: more than {MAX_RERANK_IDS} "
            "re-rank survivors — the probe set is corpus-sized; use "
            "cosine_topk (distributed join) instead"
        )
    if not rows:
        return cand.select(
            "probe_id", F.lit(1).alias("rank"), "vec_id", F.lit(0.0).alias("cos")
        ).filter(F.lit(False))
    ids = sorted({r["vec_id"] for r in rows})
    lists = sorted({r["list_id"] for r in rows})
    full = snapshot_read(
        spark,
        os.path.join(root, "corpus"),
        partition_values=lists,
        fs=fs,
        version=pin.get("corpus"),
    ).filter(F.col("vec_id").isin(ids))
    a, b = cand.alias("a"), full.alias("b")
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        _score_pairs(
            F.broadcast(a).join(b, F.col("a.vec_id") == F.col("b.vec_id")),
            [
                F.col("a.probe_id").alias("probe_id"),
                F.col("b.vec_id").alias("vec_id"),
            ],
            # the survivor count already collected above picks the tier
            use_arrow=len(rows) >= ARROW_SCORE_MIN_ROUTED,
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "vec_id", "cos")
    )


def ivf_index_append_pq(new_rows: DataFrame, root: str, fs=None) -> str:
    """Append vectors to a persisted PQ index WITHOUT rebuild: assign
    against the frozen seeds, encode with the frozen codebooks (pure
    per-vector functions, so append-then-serve equals
    rebuild-over-the-union under the same freezes), partition-pruned
    MERGE into the PQ corpus; a rerank-enabled index merges its float
    payload in lockstep.  Same list-stability contract as every IVF
    append.  Returns the new PQ-corpus version."""
    return _pq_mutate(new_rows, root, fs, delete=False)


def ivf_index_delete_pq(rows: DataFrame, root: str, fs=None) -> str:
    """Remove vectors from a persisted PQ index WITHOUT rebuild —
    frozen-seed routing to the holding lists, pruned MERGE with a
    delete flag on the PQ payload (and the float payload in lockstep
    on a rerank build).  Returns the new PQ-corpus version."""
    return _pq_mutate(rows, root, fs, delete=True)


def _pq_mutate(rows: DataFrame, root: str, fs, delete: bool) -> str:
    """The PQ payload of the shared IVF router
    (:func:`~.similarity._ivf_mutate`): encode with the PINNED frozen
    codebooks — residualized against the PINNED seeds on a residual
    index, so encoding stays the same pure per-vector function the
    build used."""
    from ..streaming.snapshot import index_current, snapshot_read

    spark = rows.sparkSession
    pin = index_current(root, fs=fs) or {}
    m, codes, sd, residual = _pq_meta(spark, root, fs, pin)
    cb = snapshot_read(
        spark,
        os.path.join(root, "pq_codebooks"),
        fs=fs,
        version=pin.get("pq_codebooks"),
    )

    def encode(assigned):
        if residual:
            seeds = snapshot_read(
                spark, os.path.join(root, "seeds"), fs=fs,
                version=pin.get("seeds"),
            )
            assigned = _residualize(assigned, seeds)
        return pq_encode(
            assigned, cb, m, codes, sub_dim=sd,
            vec_col="rv" if residual else "v",
        )

    return _ivf_mutate(
        rows, root, fs, delete,
        payload="corpus_pq",
        pin=("seeds", "pq_meta", "pq_codebooks", "corpus_pq"),
        encode=encode,
    )
