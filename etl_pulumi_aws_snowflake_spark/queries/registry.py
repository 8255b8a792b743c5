"""Registry mapping query names to Spark callables and DuckDB oracles.

Plan cache.  Every registered query is wrapped so that a repeated call
in the same session skips building its DataFrame again through py4j:
the wrapper keeps, per session and per query name, the *analyzed
logical plan* of the last build, and on a hit returns a FRESH Dataset
over it (``Dataset.ofRows``).  The optimizer and the physical planner
run again and the query executes again; nothing a previous call
executed is reused, so this is a plan cache, not a result cache.  The
cached DataFrame itself is never handed back: its QueryExecution
holds the executed physical plan and its materialized exchanges.

A cached plan is served only while all of these hold:

- the call's ``sf_dir`` is the one the plan was built for;
- every table the build read through ``load_table`` still has the
  same :func:`~..sources.tables.table_version` (a path without a
  version is never cached);
- ``spark.sql.ansi.enabled`` and ``spark.sql.caseSensitive``, which
  change how a query analyzes, are unchanged.

A build is never cached when calling it has effects a hit would skip
or reads data no version covers: it runs a Spark job, registers a
deferred persist or a tracked localCheckpoint (``cache.py``), creates
or replaces a temp view or a table, or has a leaf, in its plan or in
any subquery plan, that is neither a scan returned by this build's
``load_table`` calls nor a ``LocalRelation``, ``OneRowRelation`` or
``Range``.  One entry per query name bounds the cache by the registry
size.  ``configure`` and the query boundary run on every call, hit or
miss.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import wraps

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from ..cache import query_boundary, registrations
from ..session import configure, jobs_submitted
from ..sources.tables import recording_loads, table_version

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Session conf that changes how a query analyzes.
_ANALYSIS_CONF = ("spark.sql.ansi.enabled", "spark.sql.caseSensitive")
#: Leaves that read no external data.
_CONSTANT_LEAVES = frozenset({"LocalRelation", "OneRowRelation", "Range"})


@dataclass(frozen=True)
class _Plan:
    sf_dir: str
    conf: tuple[str, ...]
    versions: frozenset[tuple[str, tuple[int, int]]]
    analyzed: object  # the JVM LogicalPlan


def _conf(spark: SparkSession) -> tuple[str, ...]:
    return tuple(spark.conf.get(k) for k in _ANALYSIS_CONF)


def _effects(spark: SparkSession) -> tuple[int, ...]:
    """Counters a build with no side effects leaves unchanged apart
    from the scan-creation jobs of its ``load_table`` calls: Spark jobs
    submitted, ``cache.py`` registrations, and the hashes of the temp
    views (local and global) and of the current database's table
    names."""
    catalog = spark._jsparkSession.sessionState().catalog()
    return (
        jobs_submitted(spark),
        registrations(),
        catalog.tempViews().hashCode(),
        catalog.globalTempViewManager().listViewNames("*").hashCode(),
        catalog.externalCatalog().listTables(catalog.getCurrentDatabase()).hashCode(),
    )


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def _reads_only(df: DataFrame, relation_ids: set[int]) -> bool:
    """Whether every leaf of ``df``'s analyzed plan and of all its
    subquery plans is a file scan in ``relation_ids`` or a constant
    relation."""
    analyzed = df._jdf.queryExecution().analyzed()
    identity = df.sparkSession._jvm.System.identityHashCode
    for plan in [analyzed, *_seq(analyzed.subqueriesAll())]:
        for leaf in _seq(plan.collectLeaves()):
            kind = leaf.nodeName()
            if kind == "LogicalRelation":
                if identity(leaf.relation()) not in relation_ids:
                    return False
            elif kind not in _CONSTANT_LEAVES:
                return False
    return True


class _SessionPlans(dict):
    """One session's plan cache, ``{query name: _Plan}``, plus the JVM
    classes a hit instantiates (resolving them through py4j costs more
    than the rest of a hit)."""

    def __init__(self, spark: SparkSession):
        super().__init__()
        self.dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
        self.project = spark._jvm.org.apache.spark.sql.catalyst.plans.logical.Project

    def instantiate(self, spark: SparkSession, analyzed) -> DataFrame:
        """A fresh Dataset over ``analyzed``, under its own no-op
        Project (the optimizer removes it): each Dataset tags its top
        plan node with its id for self-join detection, and on the
        shared cached plan those ids would pile up one per hit."""
        top = self.project(analyzed.output(), analyzed)
        return ClassicDataFrame(self.dataset.ofRows(spark._jsparkSession, top), spark)


def _cached_call(spark: SparkSession, name: str, sf_dir: str, build: QueryFn) -> DataFrame:
    plans = getattr(spark, "_etl_plan_cache", None)
    if plans is None:
        plans = spark._etl_plan_cache = _SessionPlans(spark)
    conf = _conf(spark)
    hit = plans.get(name)
    if (
        hit is not None
        and hit.sf_dir == sf_dir
        and hit.conf == conf
        and all(table_version(path) == v for path, v in hit.versions)
    ):
        return plans.instantiate(spark, hit.analyzed)
    plans.pop(name, None)
    jobs, *before = _effects(spark)
    with recording_loads() as loads:
        df = build(spark, sf_dir)
    jobs_after, *after = _effects(spark)
    if (
        all(v is not None for _, v, _, _ in loads)
        and jobs_after - jobs == sum(scan_jobs for *_, scan_jobs in loads)
        and after == before
        and _conf(spark) == conf
        and _reads_only(df, {rid for _, _, rid, _ in loads})
    ):
        plans[name] = _Plan(
            sf_dir,
            conf,
            frozenset((path, v) for path, v, _, _ in loads),
            df._jdf.queryExecution().analyzed(),
        )
    return df


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is the equivalent DuckDB SQL (column
    names must match exactly — the driver sorts columns by name and
    hashes values).  Omit ``oracle`` only for non-SQL-expressible ops."""

    def deco(fn: QueryFn) -> QueryFn:
        @wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The correctness driver hands us its own session; pin the
            # runtime-settable conf (UTC tz, AQE) it may not have set.
            configure(spark)
            # A DIFFERENT query starting means the previous query's
            # operator-internal persists and localCheckpoints have
            # served their materialization (sequential runs) — release
            # them so storage never accumulates across queries.
            # Same-name reps keep them, so CacheManager serves their
            # persisted subtrees again (see cache.py).
            query_boundary(spark, name)
            return _cached_call(spark, name, sf_dir, fn)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco
