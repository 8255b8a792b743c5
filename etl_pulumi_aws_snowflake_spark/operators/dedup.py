"""Deduplication operators for training-data pipelines (SURVEY.md §2.10).

Four families, all DataFrame-native (no Python in the hot path):

- **exact**: group by content hash (``sha2``) — the shuffle key is the
  32-byte digest, never the document body, so a 100 TB corpus shuffles
  ~rowcount × 32 B, not the corpus.
- **n-gram Jaccard**: inverted-index self-join on shingle hashes —
  the classic all-pairs candidate generator; at scale, hot shingles
  (boilerplate) are the skew risk → AQE skew-join handles it, and
  `max_doc_freq` drops degenerate shingles entirely (a shingle in 10 %
  of a 100 TB corpus generates ~n²/100 pairs — dropping it is both a
  correctness choice (it carries no signal) and the thing that keeps
  the join bounded).
- **MinHash + LSH banding**: signatures via explode + codegen'd
  min-aggregate (shuffle = num_hashes int64 per doc) → band keys →
  equi-join on (band, key) → verify candidates with exact Jaccard.
  Signature math is deterministic (no RNG), so results are
  reproducible across engines — see functions/hashing.py.
- **SimHash**: one 32-bit code per document, computed in a single
  narrow projection; near-dup candidates = equal codes (or small
  Hamming distance via band rotation).

Embedding-space near-dup lives in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import deferred_persist
from ..functions import hashing as H
from ..functions.localrel import local_frame


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One surviving row per distinct content: (keep_id, n_copies).

    Deterministic survivor = min id.  ``sha2(text, 256)`` is computed
    map-side; the groupBy shuffles only (digest, id) pairs.
    """
    return (
        docs.select(
            F.sha2(F.col(text_col), 256).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """(id, distinct k-gram shingle hashes, set size) per document —
    one narrow per-row pass, shared by the Jaccard / MinHash / LSH /
    decontamination paths.

    Default path (r18, guide §4.2): ONE Arrow ``mapInPandas`` pass
    computing the identical integer pipeline vectorized — the
    expression form's per-code-point ``aggregate`` fold and per-gram
    ``transform`` are CodegenFallback (interpreted per element; ~0.5 s
    of the ~1 s shingle pass at sf0.1 on ONE core, since a
    single-row-group fixture gives the scan one split).  Exact
    arithmetic twin: token hashes via the same ``(acc*31 + codepoint)
    % P`` fold over Python code points (Java's split-per-code-point +
    ``ascii`` semantics — unicode-pinned in tests/test_arrow_folds.py),
    k-gram combine as the same ``(… * B + h) % P`` int64 chain,
    distinct keeping FIRST-OCCURRENCE order like ``array_distinct``,
    null text → empty set like the expression's null collapse.  Token
    hashes are memoized per task (vocabulary ≪ token stream).  No
    exchange — the plan guard pinning text/shingle arrays out of every
    shuffle is untouched.  ``use_arrow=False`` keeps the original
    expression plan (the property test compares the two)."""
    if not use_arrow:
        sh = H.shingle_hashes(H.word_hashes(text_col), k)
        return docs.select(
            F.col(id_col),
            F.array_distinct(F.expr(sh.spark)).alias("shingles"),
        ).withColumn("n_shingles", F.size("shingles"))

    P, B = H.P, H.B

    def shingle(batches):
        import numpy as np
        import pandas as pd

        cache: dict = {}

        def doc_shingles(text):
            if text is None:
                return np.empty(0, dtype=np.int64)
            hs = []
            if len(cache) > 1_000_000:
                # bound the per-task memo (ADVICE r18): an adversarial
                # vocabulary (every token unique) would otherwise grow
                # it with the token stream; a reset only costs re-
                # hashing, never correctness.
                cache.clear()
            for w in text.split(" "):
                if not w:
                    continue
                h = cache.get(w)
                if h is None:
                    h = 0
                    for c in w:
                        h = (h * 31 + ord(c)) % P
                    cache[w] = h
                hs.append(h)
            n = len(hs) - k + 1
            if n <= 0:
                return np.empty(0, dtype=np.int64)
            arr = np.array(hs, dtype=np.int64)
            sh = arr[:n].copy()
            for j in range(1, k):
                sh = (sh * B + arr[j : j + n]) % P
            return pd.unique(sh)

        for pdf in batches:
            if not len(pdf):
                continue
            sets = [doc_shingles(t) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "shingles": sets,
                    "n_shingles": np.array(
                        [len(s) for s in sets], dtype=np.int32
                    ),
                }
            )

    # Derive the id field's type from the input (ADVICE r18): the
    # expression path preserves it, so a hardcoded `long` here would
    # break (or silently coerce) non-bigint id columns only when
    # use_arrow=True.
    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        shingle,
        f"{id_col} {id_type}, shingles array<bigint>, n_shingles int",
    )


def jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold:
    (doc_a, doc_b, n_shared, jaccard).

    Plan shape: shingle sets → explode to inverted index → self-join on
    shingle hash (equi-join, Catalyst picks shuffled hash join; AQE
    splits skewed shingles) → per-pair shared count → rejoin set sizes.
    ``max_doc_freq`` drops shingles appearing in more than that many
    docs before the self-join — the standard guard against boilerplate
    blowing up candidate generation at scale.

    The (hash-heavy) shingle subtree feeds the inverted index AND both
    size rejoins — persisted so the corpus is shingled once, not three
    times (same discipline as :func:`minhash_lsh_pairs`).  The persist
    is registered in the deferred pool (``cache.deferred_persist``):
    the query registry releases it at the next query boundary, so it
    cannot leak in a long-lived session.
    """
    sets = deferred_persist(shingle_sets(docs, k, text_col, id_col))
    inv = sets.select(F.col(id_col), F.explode("shingles").alias("sh"))
    if max_doc_freq is not None:
        freq = inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        inv = inv.join(freq.filter(F.col("df") <= max_doc_freq), "sh").drop("df")
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = sets.select(F.col(id_col), "n_shingles")
    return (
        shared.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


def _banded_keys(
    sets: DataFrame, num_hashes: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band, key) LSH band rows from shingle-set frames — shared
    by the one-shot :func:`minhash_lsh_pairs` and the persisted-index
    lifecycle so both paths band with IDENTICAL math.

    MinHash signatures via explode + codegen hash-aggregate: one
    (doc, shingle) row per shingle, then num_hashes `min` aggregates
    over the universal-hash family.  Identical values to
    functions/hashing.minhash_signature (same arithmetic, same
    family), but the per-element math runs inside whole-stage codegen
    with map-side partial min — the nested-transform form is
    interpreted per element and was the measured bottleneck.  The
    shuffle carries only num_hashes int64 per doc.  Band keys combine
    each band's ``rows`` signature slots into one int64 (base P, same
    combine as functions/hashing.band_keys), then unpivot to
    (doc, band, key) rows with stack().

    Rejects rows > 2 loudly, same contract (and reason) as
    functions/hashing.band_keys: the base-P fold overflows int64 at
    r=3, and Spark's non-ANSI wrap would silently diverge from every
    other engine while baking collision-prone keys into any persisted
    index built from them (ADVICE r10)."""
    rows = num_hashes // bands
    if rows > 2:
        raise ValueError(
            f"_banded_keys: num_hashes/bands = {rows} signature rows "
            "per band overflows the base-P int64 key combine "
            f"(P^{rows} > int64 max) — use num_hashes <= 2 * bands"
        )
    # Measured and REJECTED (r18): spreading the exploded (id, sh)
    # rows up to the core count before this aggregate (the multimodal
    # `_spread` pattern).  Interleaved A/B on the bench fixture read
    # the spread variant ~15% SLOWER end-to-end — the extra round-robin
    # exchange costs more than parallelizing the 16-way partial min
    # saves at ~80k exploded rows — and at scale the scan already has
    # ≥ cores splits, so the spread would never fire there either.
    inv = sets.select(F.col(id_col), F.explode("shingles").alias("sh"))
    mins = []
    for i in range(num_hashes):
        a_i = ((i + 1) * 2654435761) % H.P
        b_i = (((i + 1) * 40503) + 12345) % H.P
        mins.append(
            F.min((F.lit(a_i) * F.col("sh") + F.lit(b_i)) % F.lit(H.P)).alias(f"s{i}")
        )
    sig = inv.groupBy(id_col).agg(*mins)
    keyed = [F.col(f"s{b * rows}") for b in range(bands)]
    for b in range(bands):
        for j in range(1, rows):
            keyed[b] = keyed[b] * F.lit(H.P) + F.col(f"s{b * rows + j}")
    stack_args = ", ".join(f"{b}, k{b}" for b in range(bands))
    return sig.select(
        F.col(id_col), *[e.alias(f"k{b}") for b, e in enumerate(keyed)]
    ).select(F.col(id_col), F.expr(f"stack({bands}, {stack_args}) as (band, key)"))


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs via MinHash signatures + LSH banding, then exact
    Jaccard verification of the candidates:
    (doc_a, doc_b, jaccard).

    vs. :func:`jaccard_pairs`: the band join touches ``bands`` keys per
    doc instead of every shingle — at 100 TB this is the difference
    between joining ~50 rows/doc and 8 rows/doc, and band keys are
    near-uniform (hash values) so the join does not skew.  Candidates
    are a superset filter; the verify join recomputes true Jaccard so
    precision is exact (recall is the probabilistic part: ~1-(1-t^r)^b).

    The shingle subtree is persisted for the duration of the plan (it
    feeds candidate generation AND both sides of the verify join);
    the persist sits in the deferred pool (``cache.deferred_persist``),
    released automatically at the next query-registry boundary — after
    the caller has materialized this plan in any sequential run.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing signature slots would be silently ignored, weakening "
            "the advertised recall ~1-(1-t^r)^b"
        )
    rows = num_hashes // bands

    # The shingle-set subtree feeds candidate generation AND both sides
    # of the verify join; without persist, Spark computes the (hash-
    # heavy) subtree three times — persist makes it once.  At 100 TB
    # this is the difference between one corpus-wide hashing pass and
    # three; MEMORY_AND_DISK spills instead of recomputing.
    sets = deferred_persist(
        shingle_sets(docs, k, text_col, id_col).filter(F.col("n_shingles") > 0)
    )

    banded = _banded_keys(sets, num_hashes, bands, id_col)
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_codes(
    docs: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) — one narrow projection per document, no shuffle.

    Measured note: the explode + per-bit sum-aggregate rewrite (the
    shape that beat interpreted folds for MinHash signatures) is ~2×
    SLOWER here — ``bits`` separate aggregation buffers per exploded
    row cost more than the fold saves, and unlike MinHash there is no
    downstream reuse to amortize a shuffle.  The single projection is
    also the better 100 TB plan: embarrassingly parallel, zero
    exchange."""
    code = H.simhash(H.word_hashes(text_col), bits)
    return docs.select(F.col(id_col), F.expr(code.spark).alias("simhash"))


def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup candidate pairs via min-label
    propagation: (id, label) where label = smallest doc id reachable.

    Iterative DataFrame loop (label_i+1 = min(label_i, neighbors'
    labels)) — converges in O(component diameter) rounds, and near-dup
    components are tiny by construction (a giant component would mean
    the threshold is wrong), so 2-4 rounds in practice.  Each round
    ``localCheckpoint``s to truncate lineage — without it the plan
    doubles every iteration and the driver, not the data, becomes the
    bottleneck.  The driver-side ``count()`` per round is the
    convergence check, not a data collect.

    Checkpoints go through ``cache.tracked_local_checkpoint`` so their
    raw-RDD storage is registered for the query-boundary sweep (a plain
    ``localCheckpoint`` is invisible to CacheManager and would leak).
    """
    from pyspark.storagelevel import StorageLevel

    from ..cache import tracked_local_checkpoint

    # Materialize the pair list ONCE before the symmetric union: the
    # union's two branches both scan the `pairs` subtree, and for LSH
    # candidates that subtree is the whole shingle→signature→band-join
    # pipeline — without this checkpoint the first action computes it
    # twice (measured: dedup_survivors carried a full duplicate LSH
    # pass at sf0.1).  localCheckpoint is eager, so downstream plans
    # (including every loop round) read materialized blocks.
    base = tracked_local_checkpoint(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    # No distinct on the edge list: duplicate edges are absorbed by the
    # per-round min aggregate (min over duplicates is the min), and for
    # the canonical a<b pair lists the two union branches are disjoint
    # anyway — a distinct here would be a full extra shuffle per run
    # that can never change the labels.
    edges = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = tracked_local_checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    live = None  # the superseded round's cache, released once the next is hot
    for it in range(max_iters):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("nlabel")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlabel").alias("minn"))
            .withColumnRenamed("src", "id")
        )
        # persist + count = ONE job per round: the convergence count's
        # action materializes the round's cache (the count plan contains
        # the persisted subtree), so the join executes exactly once —
        # the old checkpoint-then-count spelling paid a SECOND job per
        # round just to truncate lineage, which a periodic checkpoint
        # below now does at an 8-round cadence instead (plan depth stays
        # bounded; at 100 TB one label-table pass per round is the
        # loop's whole cost, so halving the actions halves the loop).
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("minn"), F.col("label"))
                ).alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .persist()
        )
        changed = new_labels.filter(F.col("new_label") < F.col("old_label")).count()
        if live is not None:
            live.unpersist()
        live = new_labels
        labels = new_labels.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
        if (it + 1) % 4 == 0:
            # eager lineage cut so long convergences keep plan size flat:
            # each round's plan embeds the previous round's subtree TWICE
            # (labels feeds the join's left side AND neighbor_min), so the
            # rendered plan quadruples per round — measured 2.4 KB → 72 MB
            # by round 7 under the old 8-round cadence, at which point the
            # convergence count spent 21 s just generating the plan string
            # for the SQL-start event (and OOMs a default-heap driver).
            # Cutting every 4 rounds caps the plan at ~300 KB; the cut
            # reads the round cache, so the extra job is one in-memory
            # pass over the narrow label table.  Loops that converge in
            # <= 4 rounds (the common near-dup case) never pay it.
            labels = tracked_local_checkpoint(labels)
            live.unpersist()
            live = None
    else:
        # Exhausted max_iters with labels still moving: the output would
        # silently over-count survivors (extra "keep" rows inside one
        # true component).  Surface it — an unconverged dedup is a data
        # bug (threshold too low → giant component), not a normal state.
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iters} iterations "
            f"(last round still changed {changed} labels); labels may be split "
            "across one true component — raise max_iters or check for a giant "
            "component (near-dup threshold too low)",
            RuntimeWarning,
            stacklevel=2,
        )
    if live is not None:
        # the returned labels read through this round-cache; hand it to
        # the deferred pool so the query-boundary sweep releases it
        # after the caller has materialized downstream results (a swept
        # persist recomputes, so even a late reader stays correct).
        deferred_persist(live)
    edges.unpersist()
    return labels


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-one resolution for near-dup PAIRS: every document maps to
    its component's minimum id — (doc_id, keep_id, is_dup).  Documents
    in no pair keep themselves.  This is the step that turns a pair
    list into an actual dedup decision (drop rows where is_dup)."""
    comp = connected_components(pairs).select(
        F.col("id").alias(id_col), F.col("label").alias("keep_id")
    )
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("keep_id", F.col(id_col)).alias("keep_id"),
            (F.coalesce("keep_id", F.col(id_col)) != F.col(id_col)).alias("is_dup"),
        )
    )


#: span_dedup packs (doc_id, pos) into one orderable bigint; positions
#: must fit 20 bits (docs up to ~8M words at span_words=8).
_POS_BITS = 20


def span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
) -> DataFrame:
    """Duplicated-SPAN removal (C4/RefinedWeb-style): tile each
    document into fixed ``span_words``-word spans, drop every span
    whose exact text occurs elsewhere in the corpus EXCEPT its first
    occurrence (global order = packed ``(doc_id, pos)`` — a pure
    function of the data), and rebuild the cleaned text.  Returns
    ``(id_col, clean_text, n_spans, n_kept)`` — one row per document,
    empty-text documents included with 0/0.

    The scale contract: **document text never shuffles.**  The span
    stage is a narrow projection emitting ``(packed_key, sha2(span))``
    — 40-ish bytes per span; the duplicate decision is a groupBy on
    the DIGEST (count + min key, map-side combined); kept positions
    ship back as integers and the text is rebuilt by re-slicing each
    document's own word array in a doc-local projection.  Total
    exchange ≈ rows × digest width, the same budget as exact_dedup —
    a naive spelling that joins span TEXT back for reconstruction
    would shuffle the corpus ~span_words times over.

    Requires a non-negative integral ``id_col`` (packed ordering) and
    documents under ``2^20`` spans — both asserted in the plan via the
    packing arithmetic (overflow would corrupt min-ordering, so the
    packed key is range-checked and the call fails loudly)."""
    k = span_words
    if k < 1:
        raise ValueError(f"span_words must be >= 1, got {k}")
    w = F.expr(H.words(text_col).spark)
    npos = F.ceil(F.size(w) / F.lit(k)).cast("long")
    pos_arr = F.when(F.size(w) > 0, F.sequence(F.lit(0).cast("long"), npos - 1)).otherwise(
        F.array().cast("array<long>")
    )
    span_at = lambda pos: F.array_join(  # noqa: E731
        F.slice(w, (pos * k + 1).cast("int"), k), " "
    )
    # range-check the packed key: a doc_id that collides after shifting
    # or a pos beyond the budget must fail, not mis-order.  The id-side
    # bound matters too: id * 2^_POS_BITS wraps BIGINT silently in
    # non-ANSI Spark for id >= 2^(63-_POS_BITS), which would corrupt
    # the min-key first-occurrence ordering instead of erroring.
    key = (
        F.when(
            (F.col("pos") < (1 << _POS_BITS))
            & (F.col(id_col) >= 0)
            & (F.col(id_col) < (1 << (63 - _POS_BITS))),
            F.col(id_col).cast("long") * (1 << _POS_BITS) + F.col("pos"),
        )
        .otherwise(F.raise_error(F.lit(
            f"span_dedup packed-key overflow: pos >= 2^{_POS_BITS}, "
            f"id >= 2^{63 - _POS_BITS}, or negative id"
        )))
    )
    spans = (
        docs.select(F.col(id_col), F.explode(pos_arr).alias("pos"), w.alias("_w"))
        .select(
            F.col(id_col),
            F.col("pos"),
            key.alias("_key"),
            F.sha2(F.array_join(F.slice(F.col("_w"), (F.col("pos") * k + 1).cast("int"), k), " "), 256).alias("_h"),
        )
    )
    groups = spans.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_n"), F.min("_key").alias("_first")
    )
    kept = (
        spans.join(groups, "_h")
        .filter((F.col("_n") == 1) | (F.col("_key") == F.col("_first")))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_kept"))
    )
    return (
        docs.join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(
                    F.coalesce(F.col("_kept"), F.array().cast("array<long>")),
                    span_at,
                ),
                " ",
            ).alias("clean_text"),
            F.size(pos_arr).cast("long").alias("n_spans"),
            F.size(F.coalesce(F.col("_kept"), F.array().cast("array<long>")))
            .cast("long")
            .alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted incremental LSH dedup index — the dedup-at-ingest path.
#
# A 100 TB pipeline cannot re-run all-pairs near-dup per ingest batch;
# it checks each NEW batch against a persisted index and appends, the
# same unit-of-work argument as the IVF index lifecycle
# (operators/similarity.py::ivf_build_index).  Layout:
#
#   <root>/meta   1-row snapshot: (k, num_hashes, bands, n_buckets) —
#                 the banding parameters are FROZEN at build (mixing
#                 band keys from two parameterizations silently finds
#                 nothing), so check/append READ them, never trust
#                 caller kwargs.
#   <root>/bands  (doc_id, band, key) partitioned by
#                 bucket = pmod(key, n_buckets): a new batch's keys
#                 route to a bounded bucket set, so the candidate join
#                 reads ONLY those buckets' files (manifest pruning).
#   <root>/sets   (doc_id, shingles, n_shingles) partitioned by
#                 dbucket = pmod(doc_id, n_buckets): the verify join
#                 reads only the buckets holding candidate old docs.
#
# Every driver collect in the lifecycle is bounded by n_buckets (a
# build-time constant), never by corpus or batch size.
# ---------------------------------------------------------------------------


def lsh_build_index(
    docs: DataFrame,
    root: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    n_buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    fs=None,
) -> str:
    """Build the persisted LSH near-dup index from a corpus; returns
    the band snapshot version.  Member commits are each atomic, and
    the TRIO is published as one root-level index version
    (``snapshot.index_publish`` — VERDICT r11 #7): checks resolve the
    pinned {meta, sets, bands} set once, so a concurrent
    rebuild/append can never mix one member's new version with
    another's old one."""
    from ..streaming.snapshot import index_build

    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    if num_hashes // bands > 2:
        # Validated HERE, before any snapshot commits: _banded_keys
        # raises the same error later, but by then meta and sets would
        # already be committed with parameters frozen that every
        # future check/append call would re-fail on (ADVICE r10).
        raise ValueError(
            f"lsh_build_index: num_hashes/bands = {num_hashes // bands} "
            "rows per band overflows the base-P int64 band-key combine "
            "— use num_hashes <= 2 * bands"
        )
    spark = docs.sparkSession
    meta = local_frame(
        spark,
        [(k, num_hashes, bands, n_buckets)],
        "k int, num_hashes int, bands int, n_buckets int",
    )
    # The shingle subtree feeds BOTH partitioned member commits below
    # (the sets snapshot and the banded-keys snapshot) — persist it so
    # the corpus is shingled once per build, not once per member (at
    # 100 TB the second shingling pass is a full corpus re-read +
    # re-hash).  The concurrent member jobs dedupe materialization
    # through the block manager's per-block locks.
    sets = deferred_persist(
        shingle_sets(docs, k, text_col, id_col).filter(F.col("n_shingles") > 0)
    )
    banded = _banded_keys(sets, num_hashes, bands, id_col).withColumn(
        "bucket", F.pmod(F.col("key"), F.lit(n_buckets))
    )
    members = index_build(
        root,
        {
            "meta": meta,
            "sets": (
                sets.withColumn(
                    "dbucket", F.pmod(F.col(id_col), F.lit(n_buckets))
                ),
                "dbucket",
            ),
            "bands": (banded, "bucket"),
        },
        fs=fs,
    )
    return members["bands"]


def _lsh_meta(
    spark, root: str, fs=None, version: str | None = None
) -> tuple[int, int, int, int]:
    import os

    from ..streaming.snapshot import snapshot_read

    r = snapshot_read(
        spark, os.path.join(root, "meta"), fs=fs, version=version
    ).collect()[0]
    return r["k"], r["num_hashes"], r["bands"], r["n_buckets"]


class LshSaturationWarning(UserWarning):
    """The batch's banded keys routed to EVERY bucket of the persisted
    LSH index: bucket pruning — the thing that makes the check O(batch)
    instead of O(index) — did no work, and the candidate join read the
    whole band table.  SCALE.md documents the regime: pruning holds
    while ``batch_size · bands < n_buckets``; a deployment seeing this
    warning per batch should rebuild with more buckets or shrink the
    ingest batch."""


def lsh_index_check(
    new_docs: DataFrame,
    root: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    fs=None,
    max_bucket_coverage: float | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the indexed corpus:
    (doc_new, doc_old, jaccard) with exact-Jaccard verification —
    the same candidates→verify semantics as :func:`minhash_lsh_pairs`
    restricted to new×indexed pairs, without touching the original
    corpus (shingle sets come from the index).

    Reads are partition-pruned twice: the candidate join opens only
    the band buckets the batch's keys route to, and the verify join
    opens only the doc buckets holding candidate old docs.  Both
    collected routing lists are bounded by the index's ``n_buckets``
    constant — batch-size- and corpus-independent driver traffic.

    **Saturation guard** (VERDICT r12 #6): the routed-bucket coverage
    ``|routed| / n_buckets`` is computed every check.  At full
    coverage the call emits :class:`LshSaturationWarning` — pruning
    did no work and the check degraded to an index scan (the measured
    ``batch·bands ≥ n_buckets`` cliff, a sizing rule until now only
    documented in SCALE.md).  Pass ``max_bucket_coverage`` (0..1] to
    make the cliff FAIL-LOUD instead — the ``max_strata`` pattern —
    for pipelines whose latency budget assumes routed reads."""
    import os
    import warnings

    from ..streaming.snapshot import index_current, snapshot_read

    if max_bucket_coverage is not None and not (
        0.0 < max_bucket_coverage <= 1.0
    ):
        # Coverage is always in (0..1], so a cap > 1 could never fire
        # (silently disabling the fail-loud guard) and a cap <= 0
        # would always fire; both are caller bugs (ADVICE r13).
        raise ValueError(
            f"max_bucket_coverage must be in (0..1], got "
            f"{max_bucket_coverage}"
        )
    spark = new_docs.sparkSession
    pin = index_current(root, fs=fs) or {}
    k, num_hashes, bands, n_buckets = _lsh_meta(
        spark, root, fs, version=pin.get("meta")
    )
    nsets = deferred_persist(
        shingle_sets(new_docs, k, text_col, id_col).filter(F.col("n_shingles") > 0)
    )
    nbanded = deferred_persist(
        _banded_keys(nsets, num_hashes, bands, id_col).withColumn(
            "bucket", F.pmod(F.col("key"), F.lit(n_buckets))
        )
    )
    buckets = sorted(
        r["bucket"] for r in nbanded.select("bucket").distinct().collect()
    )
    coverage = len(buckets) / n_buckets
    # >= not >: the cap's documented range is (0..1], and a cap of
    # exactly 1.0 must fire at full saturation — with a strict
    # comparison coverage == 1.0 would only warn, which is precisely
    # the degradation the caller set the cap to prevent (review r13).
    if max_bucket_coverage is not None and coverage >= max_bucket_coverage:
        raise ValueError(
            f"lsh_index_check: batch routed to {len(buckets)}/{n_buckets} "
            f"band buckets (coverage {coverage:.2f} >= cap "
            f"{max_bucket_coverage}) — bucket pruning is saturated and "
            "the check would read O(index), not O(batch).  Shrink the "
            "batch or rebuild the index with more buckets "
            "(pruning holds while batch_size x bands < n_buckets)"
        )
    if coverage >= 1.0:
        warnings.warn(
            f"lsh_index_check batch routed to ALL {n_buckets} band "
            "buckets — pruning did no work; this check read the whole "
            "index (see LshSaturationWarning)",
            LshSaturationWarning,
            stacklevel=2,
        )
    old_banded = snapshot_read(
        spark,
        os.path.join(root, "bands"),
        partition_values=buckets,
        fs=fs,
        version=pin.get("bands"),
    )
    cand = deferred_persist(
        nbanded.alias("n")
        .join(
            old_banded.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.key") == F.col("o.key"))
            & (F.col(f"n.{id_col}") != F.col(f"o.{id_col}")),
        )
        .select(
            F.col(f"n.{id_col}").alias("doc_new"),
            F.col(f"o.{id_col}").alias("doc_old"),
        )
        .distinct()
    )
    dbuckets = sorted(
        r["dbucket"]
        for r in cand.select(
            F.pmod(F.col("doc_old"), F.lit(n_buckets)).alias("dbucket")
        )
        .distinct()
        .collect()
    )
    if not dbuckets:
        return cand.withColumn("jaccard", F.lit(0.0)).filter(F.lit(False))
    old_sets = snapshot_read(
        spark,
        os.path.join(root, "sets"),
        partition_values=dbuckets,
        fs=fs,
        version=pin.get("sets"),
    )
    return (
        cand.join(
            nsets.select(
                F.col(id_col).alias("doc_new"),
                F.col("shingles").alias("sh_n"),
                F.col("n_shingles").alias("nn"),
            ),
            "doc_new",
        )
        .join(
            old_sets.select(
                F.col(id_col).alias("doc_old"),
                F.col("shingles").alias("sh_o"),
                F.col("n_shingles").alias("no"),
            ),
            "doc_old",
        )
        .withColumn("n_shared", F.size(F.array_intersect("sh_n", "sh_o")))
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("nn") + F.col("no") - F.col("n_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_old", "jaccard")
    )


def lsh_index_append(
    new_docs: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fs=None,
) -> str:
    """Add a batch to the index WITHOUT rebuild: band against the
    frozen meta parameters, then partition-pruned MERGE into both
    snapshots — only the buckets the batch touches are rewritten,
    every other bucket carries forward by manifest reference.  Returns
    the new band snapshot version.

    An existing ``doc_id`` UPSERTS, with the standard pruned-MERGE
    partition-stability contract: re-ingesting a CHANGED document
    moves its band keys across buckets and would strand stale band
    rows in unread partitions — that workload is
    :func:`lsh_index_delete` (id-only, pruned, property-tested equal
    to never-ingested) followed by appending the new text, the same
    two-step as :func:`ivf_index_append` re-embedding."""
    meta = _lsh_meta(new_docs.sparkSession, root, fs)
    k, _, _, n_buckets = meta
    nsets = deferred_persist(
        shingle_sets(new_docs, k, text_col, id_col).filter(F.col("n_shingles") > 0)
    )
    return _lsh_mutate(
        nsets.withColumn("dbucket", F.pmod(F.col(id_col), F.lit(n_buckets))),
        root, id_col, meta, fs, delete=False,
    )


def _lsh_mutate(
    sets: DataFrame, root: str, id_col: str, meta: tuple, fs, delete: bool
) -> str:
    """The LSH append/delete router: ``sets`` rows (carrying their
    ``dbucket``) are banded with the frozen ``meta`` parameters, then
    ONE :func:`~..streaming.snapshot.index_mutate` pruned-MERGEs sets
    first, bands second, and republishes the meta/sets/bands trio.
    Returns the new bands version."""
    from ..streaming.snapshot import index_mutate

    _, num_hashes, bands, n_buckets = meta
    banded = _banded_keys(sets, num_hashes, bands, id_col).withColumn(
        "bucket", F.pmod(F.col("key"), F.lit(n_buckets))
    )
    members = {
        "sets": (sets, [id_col], "dbucket"),
        "bands": (banded, [id_col, "band"], "bucket"),
    }
    return index_mutate(
        root, members, ("meta", "sets", "bands"), delete=delete, fs=fs
    )["bands"]


def lsh_index_delete(
    doc_ids: DataFrame,
    root: str,
    id_col: str = "doc_id",
    fs=None,
) -> str:
    """Remove documents from the index by ID — no content needed, and
    still fully partition-pruned (VERDICT r10 #6: the tested deletion
    path the append caveats used to defer to delete+rebuild).

    Routing without the text works because the index itself holds
    everything the banding derived: a doc's ``sets`` row lives in
    ``dbucket = pmod(id, n_buckets)`` (computable from the id alone),
    and its stored shingle set recomputes the exact band keys the
    build/append landed (``_banded_keys`` with the frozen meta
    parameters — one banding rule everywhere).  Both deletes are then
    pruned MERGEs with a delete flag: only the routed buckets rewrite,
    everything else carries forward by manifest reference.

    Ids absent from the index are no-ops (an unmatched delete row is
    dropped by MERGE semantics, not inserted).  Property-tested: a
    build+append+delete index answers ``lsh_index_check`` identically
    to one that never ingested the deleted docs.  Returns the new
    bands snapshot version."""
    import os

    from ..streaming.snapshot import snapshot_read

    spark = doc_ids.sparkSession
    meta = _lsh_meta(spark, root, fs)
    *_, n_buckets = meta
    ids = deferred_persist(
        doc_ids.select(id_col).distinct().withColumn(
            "dbucket", F.pmod(F.col(id_col), F.lit(n_buckets))
        )
    )
    dbuckets = sorted(
        r["dbucket"] for r in ids.select("dbucket").distinct().collect()
    )
    if not dbuckets:
        from ..streaming.snapshot import DEFAULT_FS, _current_version

        return _current_version(os.path.join(root, "bands"), fs or DEFAULT_FS)
    stored = snapshot_read(
        spark, os.path.join(root, "sets"), partition_values=dbuckets, fs=fs
    )
    dsets = deferred_persist(
        stored.join(ids.select(id_col), id_col, "semi")
    )
    return _lsh_mutate(dsets, root, id_col, meta, fs, delete=True)
