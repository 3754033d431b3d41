"""The package's two session paths apply the same runtime conf."""

import os

from rick_and_morty_data_pipeline_project_spark.session import (
    RUNTIME_CONF,
    get_spark,
    tune_session,
)


def test_runtime_conf_reads_the_same_after_either_path(spark):
    """After ``get_spark`` (whose builder also applies to an existing
    session) and after ``tune_session``, the confs read ``RUNTIME_CONF``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    for apply in (
        lambda: get_spark(app_name="engine-tests", cpus=cpus),
        lambda: tune_session(spark),
    ):
        for key in RUNTIME_CONF:
            spark.conf.unset(key)
        apply()
        assert {key: spark.conf.get(key) for key in RUNTIME_CONF} == RUNTIME_CONF
