"""Arrow-native grouped UDF surface: ``applyInArrow`` must match the
equivalent window query."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_apply_in_arrow_grouped_matches_window(spark):
    """Spark 4 applyInArrow: a grouped Arrow-native top-1 (zero pandas
    conversion — the table stays Arrow end-to-end) must match the
    window row_number form exactly."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from tests.conftest import SF_SMALL

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )

    def top1(table: pa.Table) -> pa.Table:
        idx = pa.compute.sort_indices(
            table,
            sort_keys=[
                ("o_totalprice", "descending"),
                ("o_orderkey", "ascending"),
            ],
        )
        return table.take(idx[:1])

    got = {
        tuple(r)
        for r in orders.groupBy("o_custkey")
        .applyInArrow(
            top1, "o_custkey long, o_orderkey long, o_totalprice double"
        )
        .collect()
    }
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = {
        tuple(r)
        for r in orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .collect()
    }
    assert got == want and len(got) > 0
