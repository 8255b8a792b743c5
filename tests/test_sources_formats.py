"""Source/sink format surface beyond parquet/CSV/JSON (SURVEY.md §2.1):
ORC round-trip and the binaryFile source that backs the production
multimodal ingest path (operators/multimodal.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pulumi_aws_snowflake_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_orc_round_trip(spark, tmp_path):
    out = str(tmp_path / "orc")
    src = load_table(spark, SF, "customer")
    src.write.orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_binary_file_source(spark, tmp_path):
    """spark.read.format('binaryFile') — path, length and content
    arrive as typed columns; pathGlobFilter prunes at listing time."""
    d = tmp_path / "media"
    d.mkdir()
    payloads = {f"img_{i}.bin": bytes([i] * (10 + i)) for i in range(3)}
    (d / "ignore.txt").write_text("not media")
    for name, blob in payloads.items():
        (d / name).write_bytes(blob)

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(d))
        .select(
            F.element_at(F.split("path", "/"), -1).alias("name"),
            "length",
            "content",
        )
    )
    rows = {r.name: (r.length, bytes(r.content)) for r in df.collect()}
    assert rows == {n: (len(b), b) for n, b in payloads.items()}


def test_persistent_catalog_ingest(spark):
    """Crawler parity (reference modules/glue.py:87-98): ingest with
    ``persist_table=True`` writes a PERSISTENT catalog table that a
    FRESH session over the same metastore reads back by name — unlike
    ``register_as`` alone, whose temp view is session-scoped (the
    distinction the reference's Glue job relies on when it reads the
    crawler's table from a separate process, glue/glue_job.py:22-26)."""
    from etl_pulumi_aws_snowflake_spark import schemas
    from etl_pulumi_aws_snowflake_spark.sources.csv import ingest_csv

    name = "catalog_customers_persist"
    try:
        df = ingest_csv(
            spark,
            "/root/reference/data/customers.csv",
            schema=schemas.CUSTOMERS_CSV,
            register_as=name,
            persist_table=True,
        )
        assert df.count() == 847

        # newSession(): same metastore/warehouse, but temp views do NOT
        # carry over — exactly a second consumer process's view.
        fresh = spark.newSession()
        got = fresh.table(name)
        assert got.count() == 847
        assert got.columns == df.columns

        ingest_csv(
            spark,
            "/root/reference/data/customers.csv",
            schema=schemas.CUSTOMERS_CSV,
            register_as="catalog_customers_temp",
        )
        assert not fresh.catalog.tableExists("catalog_customers_temp")
        assert fresh.catalog.tableExists(name)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_load_table_sees_a_table_rewritten_in_the_session(spark, tmp_path):
    """The per-session scan cache must not outlive the table it
    lists: after the table directory is rewritten, the next load
    returns the new rows instead of failing on vanished files."""
    sf = str(tmp_path)
    path = f"{sf}/region.parquet"
    schema = "k bigint, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(path)
    first = load_table(spark, sf, "region")
    assert sorted(map(tuple, first.collect())) == [(1, "a"), (2, "b")]
    assert load_table(spark, sf, "region") is first  # unchanged: cached

    spark.createDataFrame([(3, "c")], schema).write.mode("overwrite").parquet(path)
    assert sorted(map(tuple, load_table(spark, sf, "region").collect())) == [
        (3, "c")
    ]
