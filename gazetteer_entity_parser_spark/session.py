"""SparkSession factory tuned for the KG-construction pipeline.

Defaults chosen for the 100 TB design point, scaled down to local mode:
- AQE on (runtime coalescing + skew splitting — Stage C's window-keyed
  mention shuffle and triple rollup have a popularity long tail);
- Arrow transfer on for every pandas/Arrow UDF stage (the matching kernel
  moves through ``mapInPandas``; Arrow batch size capped so giant web pages
  don't blow the Python worker);
- shuffle partitions sized to cores in local mode (on a real cluster this is
  set to ~2-3x total cores by the submitter; AQE coalesces down);
- Python workers started through :mod:`.worker_daemon`, which imports an
  installed pyspark of the same version instead of Spark's uncompiled
  ``pyspark.zip`` (``extra_conf={"spark.python.daemon.module":
  "pyspark.daemon"}`` restores Spark's own daemon).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def _daemon_module() -> str:
    """The worker daemon module: the package's launcher when a worker,
    started in this directory with this ``PYTHONPATH``, can import it."""
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    paths += site.getsitepackages()
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    if os.path.isdir(root) and any(p and os.path.realpath(p) == root for p in paths):
        return "gazetteer_entity_parser_spark.worker_daemon"
    return "pyspark.daemon"


def build_session(
    app_name: str = "gazetteer-kg",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by *pre*-explode bytes; our
        # pair-expansion stages blow up ~window^2 after the shuffle, so the
        # default 64m advisory under-parallelizes them (measured 2x slower)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", _daemon_module())
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
