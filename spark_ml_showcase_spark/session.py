"""SparkSession factory with scale-aware defaults.

The reference configures Spark only through spark-submit flags in its SGE
wrappers (e.g. ``--master local[8] --driver-memory 90g``, plus
``spark.local.dir`` pointed at fast scratch — see reference
``Higgs Ensemble Analysis/run_higgs_ensemble.sh:18`` and
``higgs_ensemble_analysis.py:16``). This module centralizes session
construction instead, with defaults chosen for both local testing and a
large multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast) —
  mandatory posture at 100 TB.
- Arrow on for any pandas interchange (Pandas UDFs are the sanctioned
  extension point; row-at-a-time Python UDFs are banned in the hot path).
- Session timezone pinned to UTC so event-time semantics are stable across
  engines and oracle checks.
- ``spark.sql.shuffle.partitions`` sized for the local core count; on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a target.
- Python workers run under the engine's daemon (``spark.python.daemon.module``
  = ``spark_ml_showcase_spark.pyworker``), which keeps ``pyspark.zip``'s
  directory cached across tasks instead of re-reading it on each one
  (120-170 ms per task on CPython 3.11). The daemon imports the package, so
  the package's root joins ``spark.executorEnv.PYTHONPATH`` (after any
  value already configured); on a cluster the package must be importable
  on the executors at that path or through the executors' own environment,
  as the package's UDFs already need.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _executor_pythonpath() -> str:
    """The executor PYTHONPATH the running JVM carries (spark-submit
    ``--conf``, spark-defaults) with the package root added."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # under spark-submit the JVM and its conf exist before the first
        # session; connect now (``getOrCreate`` would) so they are read
        SparkContext._ensure_initialized()
    configured = SparkConf().get("spark.executorEnv.PYTHONPATH", "") or ""
    paths = [p for p in configured.split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        paths.append(_PACKAGE_ROOT)
    return os.pathsep.join(paths)


def session_builder(
    app_name: str = "spark_ml_showcase_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Return a pre-configured builder; callers may add overrides before build."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture generations have shipped events.ts as TIMESTAMP(NANOS)
        # (Spark 4.x only reads it as a raw long; Catalog.table converts
        # ns→µs with exact integer DIV) or timestamp[us] naive (read as
        # NTZ, normalized by Catalog.table). Harmless when unused.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow-batch the Python UDTF boundary too (functions/udtfs.py)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "spark_ml_showcase_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _executor_pythonpath())
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    return builder


def get_session(app_name: str = "spark_ml_showcase_spark") -> SparkSession:
    """Get or create the shared session with engine defaults."""
    spark = session_builder(app_name).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
