"""Process environment and Spark session for benchmark runs.

Everything the benchmark needs from the environment is set here, on the
benchmark side: the engine's core count, the checkout root on
``PYTHONPATH`` (pandas-UDF workers import the engine package from it),
driver memory, scratch directories inside the checkout, and the Spark
configuration that only a launching process can set (event log,
console progress).
"""

from __future__ import annotations

import os
import shlex
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(WORK, "data")
EVENT_DIR = os.path.join(WORK, "eventlog")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare(event_log: bool = False) -> None:
    """Set the environment before pyspark starts its JVM."""
    os.makedirs(WORK, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p != ROOT])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # HotSpot otherwise starts and stops compiler threads as its
        # queue grows and shrinks; a stopped thread's CPU would leave
        # procstat.Tree.jit_cpu.  The compiled code is the same.
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    if event_log:
        # Spark 4 writes rolling zstd event logs by default; one plain
        # file lets the trace parser read it with the stdlib.
        os.makedirs(EVENT_DIR, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVENT_DIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def session(app_name: str):
    """The engine's own session factory, then one trivial job."""
    from rick_and_morty_data_pipeline_project_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark
