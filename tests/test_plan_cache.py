"""Compile reuse across repeated registry calls.

The registry's plan cache (``queries/registry.py``) serves a repeated
call from the analyzed plan of an earlier build, and only when the
build was a pure function of versioned ``load_table`` scans; the
session's codegen cache (``session.STATIC_CONF``) keeps the compiled
classes of the query working set.  The plan-cache cases register
test-only queries that count their builds, and remove them again so
the registry keeps its documented size."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_pulumi_aws_snowflake_spark.cache import deferred_persist
from etl_pulumi_aws_snowflake_spark.queries import ORACLES, QUERIES, query
from etl_pulumi_aws_snowflake_spark.session import STATIC_CONF, configure
from etl_pulumi_aws_snowflake_spark.sources import load_table


@pytest.fixture
def counted():
    """``counted(name, body)`` registers ``body`` as a registry query
    and returns ``(call, builds)``: ``call(spark, sf_dir)`` goes
    through the registry wrapper, ``builds`` lists one entry per
    build that actually ran."""
    names = []

    def register(name, body):
        builds = []

        def fn(spark, sf_dir):
            builds.append(sf_dir)
            return body(spark, sf_dir)

        names.append(name)
        return query(name)(fn), builds

    yield register
    for name in names:
        QUERIES.pop(name, None)
        ORACLES.pop(name, None)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _write(spark, path, rows):
    spark.createDataFrame(rows, "k bigint, v string").write.mode("overwrite").parquet(path)


def test_second_call_of_a_pure_build_reuses_its_plan(spark, sf_smoke, sf_correct, counted):
    call, builds = counted(
        "_pc_pure",
        lambda spark, sf: load_table(spark, sf, "nation")
        .join(load_table(spark, sf, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .count(),
    )
    first = call(spark, sf_smoke)
    second = call(spark, sf_smoke)
    assert len(builds) == 1
    assert _rows(first) == _rows(second) and len(_rows(first)) == 5
    # a fresh Dataset each call: nothing the first one executed is reused
    assert not first._jdf.equals(second._jdf)
    assert not first._jdf.queryExecution().equals(second._jdf.queryExecution())
    call(spark, sf_correct)  # another sf_dir: built again
    assert len(builds) == 2


def test_rewritten_table_invalidates_the_cached_plan(spark, tmp_path, counted):
    sf = str(tmp_path)
    _write(spark, f"{sf}/region.parquet", [(1, "a"), (2, "b")])
    call, builds = counted("_pc_rewrite", lambda spark, sf: load_table(spark, sf, "region"))
    assert _rows(call(spark, sf)) == [(1, "a"), (2, "b")]
    assert _rows(call(spark, sf)) == [(1, "a"), (2, "b")]
    assert len(builds) == 1

    _write(spark, f"{sf}/region.parquet", [(3, "c")])
    assert _rows(call(spark, sf)) == [(3, "c")]
    assert len(builds) == 2


def test_build_that_runs_a_job_is_never_cached(spark, sf_smoke, counted):
    def body(spark, sf):
        region = load_table(spark, sf, "region")
        return region.limit(region.count())

    call, builds = counted("_pc_job", body)
    for _ in range(3):
        assert len(_rows(call(spark, sf_smoke))) == 5
    assert len(builds) == 3


def test_build_with_deferred_persist_rebuilds_and_releases(spark, sf_smoke, counted):
    persisted = []

    def body(spark, sf):
        df = deferred_persist(load_table(spark, sf, "region").select("r_regionkey"))
        persisted.append(df)
        return df

    call, builds = counted("_pc_persist", body)
    other, _ = counted("_pc_other", lambda spark, sf: load_table(spark, sf, "nation"))
    call(spark, sf_smoke).collect()
    call(spark, sf_smoke).collect()
    assert len(builds) == 2
    assert persisted[-1].storageLevel != StorageLevel.NONE
    other(spark, sf_smoke)  # the next query's boundary releases the persist
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)


def test_build_that_creates_a_temp_view_is_never_cached(spark, sf_smoke, counted):
    def body(spark, sf):
        load_table(spark, sf, "region").createOrReplaceTempView("_pc_view")
        return spark.table("_pc_view")

    call, builds = counted("_pc_view", body)
    try:
        call(spark, sf_smoke)
        call(spark, sf_smoke)
        assert len(builds) == 2
    finally:
        spark.catalog.dropTempView("_pc_view")


def test_unversioned_scan_leaf_rebuilds(spark, tmp_path, counted):
    path = str(tmp_path / "direct.parquet")
    _write(spark, path, [(1, "a")])
    call, builds = counted("_pc_direct", lambda spark, sf: spark.read.parquet(path))
    call(spark, str(tmp_path))
    call(spark, str(tmp_path))
    assert len(builds) == 2


def test_scalar_subquery_over_unversioned_leaf_rebuilds(spark, tmp_path, counted):
    sf = str(tmp_path)
    _write(spark, f"{sf}/region.parquet", [(1, "a"), (2, "b"), (3, "c")])
    bound = str(tmp_path / "bound.parquet")
    _write(spark, bound, [(2, "x")])

    def body(spark, sf):
        limit = spark.read.parquet(bound).select(F.max("k")).scalar()
        return load_table(spark, sf, "region").filter(F.col("k") <= limit)

    call, builds = counted("_pc_subquery", body)
    assert _rows(call(spark, sf)) == [(1, "a"), (2, "b")]
    _write(spark, bound, [(1, "x")])
    assert _rows(call(spark, sf)) == [(1, "a")]
    assert len(builds) == 2


def test_toggling_ansi_rebuilds(spark, sf_smoke, counted):
    call, builds = counted("_pc_ansi", lambda spark, sf: load_table(spark, sf, "region"))
    call(spark, sf_smoke)
    was = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false" if was == "true" else "true")
        call(spark, sf_smoke)
        assert len(builds) == 2
    finally:
        spark.conf.set("spark.sql.ansi.enabled", was)
    call(spark, sf_smoke)
    assert len(builds) == 3  # the entry now holds the toggled build


def test_configure_sets_only_runtime_modifiable_keys(spark):
    keys = []

    class Recorder:
        class conf:
            @staticmethod
            def set(key, value):
                keys.append(key)

    configure(Recorder)
    assert keys
    assert [k for k in keys if not spark.conf.isModifiable(k)] == []
    assert not set(keys) & set(STATIC_CONF)


def test_session_reports_the_codegen_bound(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == STATIC_CONF[key]
    assert not spark.conf.isModifiable(key)


def test_second_tpch_pass_compiles_almost_nothing(spark, sf_smoke):
    """The 22 TPC-H-shaped queries generate about 350 classes per
    round; with Spark's default codegen cache (100 classes) every
    round compiles about 340 again.  With the bound, a repeat round
    compiles 0-16 (measured): AQE may plan a query's stages in a
    different order from one run to the next, which changes a few
    classes' source."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    tpch = [q for q in QUERIES if q[0] == "q" and q[1].isdigit()]
    assert len(tpch) == 22
    for q in tpch:
        QUERIES[q](spark, sf_smoke).collect()
    before = compiles.getCount()
    for q in tpch:
        QUERIES[q](spark, sf_smoke).collect()
    assert compiles.getCount() - before <= 30
