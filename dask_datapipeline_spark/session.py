"""SparkSession factory with scale-aware defaults.

The reference uses Dask's local threaded scheduler purely as a parallel
CSV reader (reference ``main.py:75,93``) and then drops to
single-process pandas. Here the session IS the engine: every default
below is chosen so the same code runs on ``local[32]`` for tests and on
a 1000-executor cluster unchanged.

Scale rationale:

- **AQE on** — runtime coalescing of shuffle partitions, dynamic
  broadcast-join conversion, and skew-join splitting replace any
  hand-tuned partition counts when data grows 100×.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces down at small SF and the 100 TB deployment overrides it
  (rule of thumb: ~2-3× total executor cores, partitions ≤ ~200 MB).
- **Arrow on** — pandas UDFs and ``toPandas`` cross the JVM/Python
  boundary in columnar batches, not pickled rows.
- Scan-task sizing (``maxPartitionBytes``) is Spark's own 128 MB
  default — not set here, so a deployment's value wins.

Cluster-specific values (scan split size, AQE advisory partition size,
shuffle codec, ...) go through ``spark-submit --conf`` or
``get_spark(extra_conf=...)``; this module reads no environment
overrides for them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "dask-datapipeline-spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so tests and bench share one entry point; on a real
    cluster the master comes from spark-submit and this argument is
    left ``None``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
        elif "PYSPARK_GATEWAY_PORT" not in os.environ:
            # Under spark-submit the JVM gateway pre-exists and already
            # carries the real master (yarn/k8s/standalone); forcing a
            # local master here would silently run the whole job on the
            # driver node. Only default to local when we ARE the ones
            # starting the JVM.
            master = "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        # Adaptive execution: post-shuffle coalescing, dynamic join
        # strategy switching, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Columnar JVM<->Python transfer for pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables under 64 MB broadcast automatically.
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        # Deterministic session timezone for timestamp parity with the
        # DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session if any (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
