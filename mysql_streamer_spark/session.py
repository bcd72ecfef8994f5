"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM); the config choices below are the ones that also hold on a real
multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join selection).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster this
  is the *initial* number only — AQE coalesces post-shuffle partitions to
  ``advisoryPartitionSizeInBytes`` so the same code scales without retuning.
- Session timezone pinned to UTC: MySQL TIMESTAMP semantics (reference
  converts to UTC-aware, util/message_builder.py:101-102) and the DuckDB
  oracle both assume UTC.
- Arrow enabled for the few Pandas-UDF code paths (vector ops, multimodal).
- Python workers fork from the package's daemon (``pyworker``), not
  ``pyspark.daemon``: on CPython 3.11 PySpark's per-task
  ``importlib.invalidate_caches()`` re-reads the central directories of
  Spark's zips and the spark-core jar, ~0.2 s per task on every Python
  boundary (codecs, pandas UDFs, ``applyInPandasWithState``); under the
  daemon an archive is re-read only when its stat signature changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "mysql_streamer_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned local SparkSession."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # single-JVM local mode: the "driver" heap IS the executor heap.
        # 32g keeps a 150+-query session (accumulated broadcasts, codegen
        # classes, shuffle buffers) out of full-GC churn — measured 2-10x
        # per-query inflation late in a long run at 16g
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # call-site capture walks the Python stack and makes an extra py4j
        # round trip on EVERY DataFrame API call — measured ~30% of plan
        # construction time on the wider pipelines; the enriched error
        # frames are not worth that in a non-interactive engine
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "mysql_streamer_spark.pyworker")
        # workers start the daemon with `python -m` from the driver's working
        # directory: the package's root must be on their path from any other
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

