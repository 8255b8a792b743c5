"""``functions/localrel.local_frame``: column names come from Spark's
own DDL parse, so every DDL spelling Spark accepts names the pandas
columns the same way the schema does."""

from __future__ import annotations

from decimal import Decimal

import pytest

from etl_pulumi_aws_snowflake_spark.functions.localrel import local_frame


@pytest.mark.parametrize(
    "ddl, names, rows",
    [
        ("a int, b string", ["a", "b"], [(1, "x"), (2, None)]),
        ("a: int, b: string", ["a", "b"], [(1, "x"), (2, None)]),
        ("`my col` int, b string", ["my col", "b"], [(1, "x"), (2, None)]),
        (
            "a int, b decimal(10,2)",
            ["a", "b"],
            [(1, Decimal("1.50")), (2, None)],
        ),
    ],
    ids=["plain", "colon", "backquoted", "nested-comma"],
)
def test_local_frame_ddl_forms(spark, ddl, names, rows):
    df = local_frame(spark, rows, ddl)
    assert df.columns == names
    assert [tuple(r) for r in df.collect()] == rows
    assert local_frame(spark, [], ddl).columns == names
