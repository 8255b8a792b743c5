"""Scale-posture helpers (SURVEY.md §7): salted join/groupBy must be
result-identical to their plain forms, and bucketed tables must
sort-merge-join without a shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pulumi_aws_snowflake_spark.operators.skew import (
    salted_groupby,
    salted_join,
    with_salt,
)
from etl_pulumi_aws_snowflake_spark.sources import load_table
from etl_pulumi_aws_snowflake_spark.sources.tables import write_bucketed

SF = "/root/testdata/sf0.001"


def test_salt_is_deterministic_and_spread(spark):
    events = load_table(spark, SF, "events")
    a = with_salt(events, 8).select("event_id", "_salt").collect()
    b = with_salt(events, 8).select("event_id", "_salt").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # hot key user rows actually spread over salts
    n_salts = (
        with_salt(events, 8)
        .groupBy("user_id")
        .agg(F.countDistinct("_salt").alias("s"))
        .agg(F.min("s"))
        .first()[0]
    )
    assert n_salts > 1


def test_salted_join_matches_plain(spark):
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_linenumber", "o_orderpriority")
        .collect()
    )
    salted = (
        salted_join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            orders,
            on=["o_orderkey"],
            n=8,
            probe_id_cols=["o_orderkey", "l_linenumber"],
        )
        .select(
            F.col("o_orderkey").alias("l_orderkey"), "l_linenumber", "o_orderpriority"
        )
        .collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_groupby_matches_plain(spark):
    events = load_table(spark, SF, "events")
    plain = {
        (r.user_id): (r.n, round(r.total, 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    salted = {
        (r.user_id): (r.n, round(r.total, 6))
        for r in salted_groupby(
            events,
            ["user_id"],
            aggs={"s": F.sum("value"), "c": F.count(F.lit(1))},
            finals={"total": F.sum("s"), "n": F.sum("c")},
            n=8,
            id_cols=["event_id"],
        ).collect()
    }
    assert plain == salted


@pytest.fixture()
def bucketed_tables(spark, tmp_path):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(
        li, "bk_lineitem", ["l_orderkey"], num_buckets=8, path=str(tmp_path / "li")
    )
    write_bucketed(
        orders, "bk_orders", ["o_orderkey"], num_buckets=8, path=str(tmp_path / "o")
    )
    yield "bk_lineitem", "bk_orders"
    spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    spark.sql("DROP TABLE IF EXISTS bk_orders")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    li_t, o_t = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(li_t).join(
            spark.table(o_t), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and it still computes the right thing
        n = joined.count()
        expect = (
            load_table(spark, SF, "lineitem")
            .join(
                load_table(spark, SF, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_range_join_matches_broadcast(spark):
    """The scale-path bucketized range join must produce exactly the
    broadcast nested-loop result (inner form)."""
    from etl_pulumi_aws_snowflake_spark.operators.joins import (
        range_join,
        range_join_bucketed,
    )

    events = load_table(spark, SF, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [(i, float(i * 7), float((i + 1) * 7 + 3)) for i in range(-3, 20)],
        "band_id long, lo double, hi double",
    )  # overlapping bands: rows may match several
    broadcast_res = (
        range_join(events, bands, "value")
        .filter(F.col("band_id").isNotNull())
        .select("event_id", "band_id")
        .collect()
    )
    bucketed_res = (
        range_join_bucketed(events, bands, "value", bucket_width=5.0)
        .select("event_id", "band_id")
        .collect()
    )
    assert sorted(map(tuple, broadcast_res)) == sorted(map(tuple, bucketed_res))
    assert len(bucketed_res) > 0


def test_salted_join_rejects_build_preserving_modes(spark):
    """'right'/'full' would emit each unmatched build row once per salt
    — the helper must refuse rather than silently duplicate."""
    df = load_table(spark, SF, "nation")
    with pytest.raises(ValueError, match="probe-preserving"):
        salted_join(df, df, on=["n_nationkey"], how="right")
    with pytest.raises(ValueError, match="probe-preserving"):
        salted_join(df, df, on=["n_nationkey"], how="full")


def test_asof_join_null_payload_no_tearing(spark):
    """A right row whose payload fields are NULL must still WIN the
    as-of carry (not be skipped for an older non-null value), and all
    carried columns must come from that same right row — the struct-
    carry semantics (operators/joins.py asof_join)."""
    from etl_pulumi_aws_snowflake_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [
            (1, 10, "a", 100),
            (1, 20, None, 200),   # price is NULL at ts=20
            (1, 30, "c", None),   # qty is NULL at ts=30
        ],
        "key int, ts int, price string, qty int",
    )
    left = spark.createDataFrame(
        [(1, 25), (1, 35)], "key int, ts int"
    )
    got = {
        r.ts: (r.price_right, r.qty_right)
        for r in asof_join(left, right, on="ts", by=["key"]).collect()
    }
    # ts=25 → right row at 20: price NULL carried AS NULL (not torn
    # back to 'a'), qty from the SAME row (200, not 100).
    assert got[25] == (None, 200)
    # ts=35 → right row at 30: ('c', NULL), not mixed with older rows.
    assert got[35] == ("c", None)


def test_spread_to_cores_ignores_wide_looking_column_names(spark):
    """VERDICT r18 #7: the wide-plan guard walks logical node CLASSES,
    so a narrow scan whose columns are named "SortKey"/"JoinCol" still
    spreads, while genuinely shuffle-ancestored frames (aggregate,
    dropDuplicates, repartition) skip the probe entirely."""
    from etl_pulumi_aws_snowflake_spark.operators.parallel import (
        _wide_ancestored,
        spread_to_cores,
    )

    docs = load_table(spark, SF, "documents").select(
        F.col("doc_id").alias("SortKey"), F.col("text").alias("JoinCol")
    )
    assert not _wide_ancestored(docs)
    cores = spark.sparkContext.defaultParallelism
    spread = spread_to_cores(docs)
    # the fixture scan starts NARROWER than the core count, so the
    # equality below can only hold if spreading widened it
    assert docs.rdd.getNumPartitions() < cores
    # the single-split fixture scan actually widened
    assert spread.rdd.getNumPartitions() == cores
    # wide ancestors are detected by node class, not by rendered text
    assert _wide_ancestored(docs.groupBy("SortKey").count())
    assert _wide_ancestored(docs.dropDuplicates(["SortKey"]))
    assert _wide_ancestored(docs.repartition(4))
    assert spread_to_cores(docs.repartition(4)) is not None  # no probe crash


def test_lsh_lifecycle_entries_demonstrate_pruned_reads(spark):
    """VERDICT r18 #6: the persisted-LSH lifecycle entries must
    certify a PRUNED check — saturation (batch routed to every band
    bucket) means the check read the whole index.  Escalate the
    warning to an error while running the incremental entry's exact
    shape at the smoke SF."""
    import warnings

    from etl_pulumi_aws_snowflake_spark.operators.dedup import (
        LshSaturationWarning,
    )
    from etl_pulumi_aws_snowflake_spark.queries import all_queries

    q = all_queries()["dedup_lsh_incremental"]
    with warnings.catch_warnings():
        warnings.simplefilter("error", LshSaturationWarning)
        rows = q(spark, SF).collect()
    assert rows is not None


def test_wide_ancestored_sees_shuffles_inside_subqueries(spark):
    """A filter on a scalar subquery over an aggregate plans that
    aggregate's shuffle even though no Aggregate node is a CHILD of the
    filter — the guard must walk subquery plans too."""
    from etl_pulumi_aws_snowflake_spark.operators.parallel import _wide_ancestored

    docs = load_table(spark, SF, "documents").select("doc_id")
    top = docs.groupBy().agg(F.max("doc_id")).scalar()
    assert not _wide_ancestored(docs)
    assert _wide_ancestored(docs.filter(F.col("doc_id") == top))


def test_map_rows_matches_python_expansion(spark):
    """``map_rows`` emits 0, 1 or 2 tuples per row, over three input
    partitions of which one is empty, and equals the Python expansion."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_pulumi_aws_snowflake_spark.operators.parallel import map_rows

    df = spark.range(0, 6, numPartitions=3).filter(F.col("id") >= 2)
    assert df.rdd.glom().map(len).collect() == [0, 2, 2]
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("j", LongType()),
            StructField("tag", StringType()),
        ]
    )

    def rows(i):
        for j in range(i % 3):
            yield (i, j, f"r{i}.{j}")

    got = sorted(tuple(r) for r in map_rows(df, ["id"], schema, rows).collect())
    want = sorted(t for i in range(2, 6) for t in rows(i))
    assert got == want
    assert len(want) == 5


def test_map_rows_all_empty_batch_is_typed(spark):
    """Batches whose rows all emit nothing return the typed empty
    result: the schema's names and types, here from a DDL string."""
    from pyspark.sql.types import BinaryType, LongType, StringType

    from etl_pulumi_aws_snowflake_spark.operators.parallel import map_rows

    df = spark.range(0, 4, numPartitions=2)
    out = map_rows(df, ["id"], "k long, tag string, payload binary",
                   lambda i: [])
    assert out.collect() == []
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("k", LongType()),
        ("tag", StringType()),
        ("payload", BinaryType()),
    ]


def test_map_rows_surfaces_row_errors(spark):
    """An exception raised inside ``rows`` fails the action with its
    own message."""
    from etl_pulumi_aws_snowflake_spark.operators.parallel import map_rows

    def rows(i):
        if i == 3:
            raise ValueError(f"map_rows probe: row {i} is malformed")
        return [(i,)]

    df = spark.range(0, 4, numPartitions=1)
    with pytest.raises(Exception, match="map_rows probe: row 3 is malformed"):
        map_rows(df, ["id"], "id long", rows).collect()
