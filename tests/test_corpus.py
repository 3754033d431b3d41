"""The corpus loader reads declared schemas and launches no Spark job.

``sources.corpus.SCHEMAS`` must equal what Spark infers from every
corpus on disk (the shipped test data, the benchmark's corpus when a
benchmark run has written it, and the benchmark generator's output),
and ``load_table`` must build each DataFrame without a job.  Tables of
any other shape are still read through Spark's schema inference.
"""

from __future__ import annotations

import datetime
import glob
import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.sources.corpus import (
    TABLES,
    _declared,
    load_table,
    parquet_footer,
)
from tests.conftest import SF_SMALL, job_ids

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def declared_schema(sf_dir: str, name: str):
    """The schema ``load_table`` reads ``{name}.parquet`` with, or None
    where it lets Spark infer one."""
    return _declared(name, parquet_footer(f"{sf_dir}/{name}.parquet"))


def _corpora_on_disk() -> list[str]:
    shipped = glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*"))
    bench = [
        os.path.dirname(m)
        for m in glob.glob(os.path.join(ROOT, ".perfbench", "data", "sf*", "_COMPLETE"))
    ]
    return sorted(shipped) + sorted(bench)


@pytest.fixture(scope="module")
def generated_corpus(tmp_path_factory) -> str:
    """The benchmark generator's corpus at a tiny scale factor."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_corpus", os.path.join(ROOT, "perfbench", "corpus.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen.ensure_corpus(str(tmp_path_factory.mktemp("gen")), "0.001")


@pytest.mark.parametrize("corpus", _corpora_on_disk() + ["generated"])
def test_declared_schemas_equal_inferred(spark, request, corpus):
    sf_dir = request.getfixturevalue("generated_corpus") if corpus == "generated" else corpus
    for name in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert declared_schema(sf_dir, name) == inferred, (sf_dir, name)


def test_load_table_launches_no_spark_job(spark):
    # control: schema inference does launch a job the probe sees
    assert job_ids(spark, lambda: spark.read.parquet(f"{SF_SMALL}/region.parquet"))
    for name in TABLES:
        assert job_ids(spark, lambda: load_table(spark, SF_SMALL, name)) == [], name


def _events_pair(tmp_path) -> dict[str, str]:
    """The same three events as naive TIMESTAMP(MICROS) and as
    TIMESTAMP(NANOS) with sub-microsecond digits the loader truncates."""
    micros = [1_704_067_200_000_001, 1_704_153_599_999_999, 1_706_745_600_123_456]
    dirs = {}
    for unit, ts in (
        ("us", pa.array(micros, pa.timestamp("us"))),
        ("ns", pa.array([m * 1000 + 789 for m in micros], pa.timestamp("ns"))),
    ):
        table = pa.table({
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": ts,
            "user_id": pa.array([7, 8, 9], pa.int64()),
            "event_type": pa.array(["view", "click", "error"]),
            "value": pa.array([1.5, 2.5, 3.5]),
            "props": pa.array(['{"k": 1}', '{"k": 2}', '{"k": 3}']),
        })
        (tmp_path / unit).mkdir()
        pq.write_table(table, tmp_path / unit / "events.parquet", version="2.6")
        dirs[unit] = str(tmp_path / unit)
    assert pq.read_schema(f"{dirs['ns']}/events.parquet").field("ts").type.unit == "ns"
    return dirs


@pytest.mark.parametrize("prior", ["false", "true"])
def test_load_table_events_nanos_branch(spark, tmp_path, prior):
    dirs = _events_pair(tmp_path)
    spark.conf.set(NANOS_CONF, prior)
    try:
        assert job_ids(spark, lambda: load_table(spark, dirs["ns"], "events")) == []
        nanos = load_table(spark, dirs["ns"], "events")
        assert spark.conf.get(NANOS_CONF) == prior
        micros = load_table(spark, dirs["us"], "events")
        assert spark.conf.get(NANOS_CONF) == prior
        assert nanos.schema == micros.schema
        assert dict(nanos.dtypes)["ts"] == "timestamp"

        def rows(df):
            return df.orderBy("event_id").select(
                "event_id", "ts", F.unix_micros("ts").alias("us")
            ).collect()

        assert rows(nanos) == rows(micros)
    finally:
        spark.conf.unset(NANOS_CONF)


def test_load_table_infers_tables_of_another_shape(spark, tmp_path):
    # a Spark-written directory table with a subset of the columns and
    # bigint where the corpus has int: the footer disagrees with the
    # declared schema, so the loader reads it the way Spark infers it
    sf_dir = str(tmp_path)
    spark.createDataFrame([(1, 1), (2, 3)], ["l_orderkey", "l_linenumber"]).coalesce(
        1
    ).write.parquet(f"{sf_dir}/lineitem.parquet")
    assert declared_schema(sf_dir, "lineitem") is None
    df = load_table(spark, sf_dir, "lineitem")
    assert df.schema == spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    assert sorted(map(tuple, df.collect())) == [(1, 1), (2, 3)]


def test_int96_events_are_not_taken_for_nanos(spark, tmp_path):
    # Spark writes timestamps as INT96 by default; pyarrow would report
    # them as nanos, but Spark infers TIMESTAMP for them
    ts = datetime.datetime(2024, 1, 1, 23, 59, 59)
    spark.createDataFrame(
        [(0, ts, 1, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    assert declared_schema(str(tmp_path), "events") is None
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.collect()[0]["ts"] == ts
