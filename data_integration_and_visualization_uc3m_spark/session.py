"""SparkSession factory tuned for both local testing and cluster scale.

The reference is a single-threaded pandas process
(``crime_immigration_etl.py:385-406``); here the execution substrate is
Spark, so the session carries the scale-relevant configuration:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — this is what lets the same plan run at sf0.001
  and at 100 TB without code changes.
- ``spark.sql.shuffle.partitions`` sized to local cores for tests; on a
  real cluster AQE coalesces from a deliberately-high initial number.
- Arrow enabled for any pandas interop (XLSX bridge, ``toPandas`` egress).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) and are cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an existing session.

    Used both by :func:`get_spark` and defensively on driver-provided
    sessions (the harness constructs its own ``SparkSession``).
    Only touches confs that are safe to set at runtime.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # The testdata events table stores ts as parquet TIMESTAMP(NANOS),
    # which Spark cannot map natively (PARQUET_TYPE_ILLEGAL). Read the
    # raw int64 nanos and convert with exact integer division (see
    # sources.readers.load_table) — same truncation DuckDB applies.
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def get_spark(
    app_name: str = "data_integration_and_visualization_uc3m_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a real cluster, leave ``master`` unset and submit
    via ``spark-submit`` so the cluster manager decides.

    The builder carries only launch and static confs; every runtime conf
    comes from :func:`tune`, the one place both this factory and a
    driver-owned session get them. ``spark.sql.codegen.cache.maxEntries``
    is a static SQL conf: it takes effect only on sessions this factory
    builds (the benchmark harnesses and the tests). ``tune`` cannot set
    it, so a driver-owned session keeps Spark's default of 100.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{DEFAULT_CPUS}]")
    builder = (
        builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark keeps at most this many compiled whole-stage codegen
        # classes (default 100). One analytics round needs ~197 and one
        # star pass ~229, so at the default every warm round recompiled
        # them all with Janino and the JIT compiled them again.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
