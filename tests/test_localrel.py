"""operators/localrel.local_relation: driver-built rows as an Arrow-backed
LocalRelation, row-for-row equal to ``createDataFrame(list)``."""

from __future__ import annotations

from pyspark.sql import types as T

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)

DDL = "id long, score double, name string, n int, vec array<double>"
ROWS = [
    (1, 0.5, "a", 7, [1.0, -2.5]),
    (None, None, None, None, None),
    (-(2**62), -0.0, "", -1, []),
    (3, float("inf"), "ünïcode", 2**31 - 1, [None, 3.0]),
]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_relation_matches_create_dataframe(spark):
    struct = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    for rows, schema in [
        (ROWS, DDL),
        ([(r[0], r[2]) for r in ROWS], struct),
        ([], DDL),
    ]:
        got = local_relation(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert _optimized(got).startswith("LocalRelation"), _optimized(got)
        assert "LogicalRDD" not in _optimized(got)


def test_local_relation_accepts_generators_and_python_ints_for_doubles(spark):
    got = local_relation(spark, ((i, i) for i in range(3)), "a long, b double")
    assert [tuple(r) for r in got.collect()] == [(0, 0.0), (1, 1.0), (2, 2.0)]
