"""Driver exchange surface (S9/S10/S11) with size guards."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from db_cdc_poc_spark.sources.exchange import (
    DriverExchangeTooLarge,
    collect_rows,
    local_df,
    to_json_strings,
    to_pandas,
)


def test_collect_rows(spark):
    rows = collect_rows(spark.range(10))
    assert len(rows) == 10


def test_collect_rows_guard(spark):
    with pytest.raises(DriverExchangeTooLarge):
        collect_rows(spark.range(1000), max_rows=10)


def test_to_pandas(spark):
    pdf = to_pandas(spark.range(5).selectExpr("id", "id * 2 AS dbl"))
    assert isinstance(pdf, pd.DataFrame)
    assert list(pdf["dbl"]) == [0, 2, 4, 6, 8]


def test_to_json_strings_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", [1, 2])], "id long, s string, arr array<int>"
    )
    [doc] = to_json_strings(df)
    assert json.loads(doc) == {"id": 1, "s": "a", "arr": [1, 2]}


def test_local_df_rejects_dict_rows(spark):
    with pytest.raises(TypeError, match="dict"):
        local_df(spark, [{"a": 1}], "a long")


def test_local_df_counts_nested_schema_columns(spark):
    df = local_df(
        spark,
        [({"k": 1}, [1, 2], 3)],
        "m map<string,int>, xs array<int>, n long",
    )
    assert df.columns == ["m", "xs", "n"]
    row = df.collect()[0]
    assert row.n == 3 and row.xs == [1, 2] and row.m == {"k": 1}
    # and it must be a LocalRelation (Arrow path), not a pickled RDD
    assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()
