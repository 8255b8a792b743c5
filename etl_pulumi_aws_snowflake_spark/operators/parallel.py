"""Scale-adaptive parallelism helper shared by the CPU-heavy per-row
operators (r18, guide §2.5 input skew / §2.6 idle capacity)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's core count when the
    input's planned parallelism is BELOW it.

    A small single-row-group parquet file is ONE scan split, so every
    per-row stage downstream of it — Python codec work, exploded
    aggregations — serializes on one core of the whole cluster (the
    r18 profile measured the JPEG decode entry at 1 task of 32, and
    the MinHash signature aggregate likewise).  The guard makes this
    scale-correct rather than a local-mode constant: a production scan
    already has ≥ cores splits, so the repartition never fires and no
    extra Exchange appears; it only widens under-parallel inputs.
    Callers must pass a NARROW projection — what this shuffles is the
    few columns the downstream stage needs, never a corpus payload
    (the minhash caller shuffles (doc_id, shingle-hash) int64 pairs;
    the plan guard pinning text/shingle arrays out of every exchange
    stays green).

    Scope limit (measured, r18): the partition-count read
    (``df.rdd.getNumPartitions()``) is job-free ONLY for narrow
    scan-backed plans — on a plan containing a join/aggregate/window,
    AQE finalization EXECUTES the upstream shuffle stages as a real
    job just to answer the question (measured: +1 job and a full
    upstream pass per check).  Wide-ancestored frames therefore skip
    the spread: their parallelism already comes from a shuffle, and
    at bench scale AQE's coalescing of that shuffle is the status quo
    this helper must not pay a job to second-guess."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if _wide_ancestored(df):
        return df
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


#: Logical-plan node classes whose presence means the frame's
#: parallelism already comes from a shuffle (so the partition-count
#: probe would EXECUTE upstream stages under AQE — the measured
#: +1-job hazard above).  Matched on ``nodeName`` of the ANALYZED
#: plan: ``Deduplicate`` is what dropDuplicates()/distinct() print
#: (not "Distinct"), and Repartition nodes are included so an
#: explicitly repartitioned frame is never probed either (ADVICE r18
#: — the old substring match over the rendered plan missed both and
#: false-positived on any identifier containing "Sort"/"Join").
_WIDE_NODES = frozenset(
    {
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Distinct",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "Repartition",
        "RepartitionByExpression",
        "Intersect",
        "Except",
        "GlobalLimit",
        "Offset",
    }
)


def _wide_ancestored(df: DataFrame) -> bool:
    """Walk the analyzed LOGICAL plan's node classes (not its rendered
    string — column aliases containing "Sort" must not disable the
    spread) looking for any shuffle-introducing ancestor, including
    those inside subquery expressions (a filter on a scalar subquery
    over an aggregate plans that aggregate's shuffle too)."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _WIDE_NODES:
            return True
        for plans in (node.children(), node.subqueries()):
            it = plans.iterator()
            while it.hasNext():
                stack.append(it.next())
    return False
