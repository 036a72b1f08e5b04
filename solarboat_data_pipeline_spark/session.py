"""SparkSession factory with scale-oriented defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
configs apply (AQE, skew-join handling, zstd parquet). Keep
``spark.sql.shuffle.partitions`` near total cores locally — AQE coalesces
down at runtime, so on a 1000-executor cluster you would instead leave it
high (or unset) and let adaptive execution pick.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "solarboat-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers are separate processes and do not inherit driver-side
    # sys.path mutations; without this, any Pandas UDF / mapInPandas stage
    # fails to unpickle functions defined in this package when the consumer
    # runs from outside the repo directory.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # write int64-µs timestamps, not legacy INT96: INT96 columns carry
        # NO row-group min/max statistics, which silently disables both
        # timestamp predicate pushdown and the zero-scan footer-CDF bounds
        # path (operators/scale.py:bounds_from_parquet_metadata) on any
        # parquet this engine writes (found by scale_smoke_asof_skew.py)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # legacy compat: TIMESTAMP(NANOS) parquet reads as long ns and the
        # scan wrappers convert to µs. (Current fixtures are naive
        # timestamp[us] → TIMESTAMP_NTZ; the wrappers cast those instead.)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed tables (sources/bucketed.py) need a metastore; keep the
        # embedded-derby catalog out of the repo checkout
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        # split generated expression code into smaller methods sooner
        # (default 1024): the 187-column wide-decode plan otherwise emits
        # near-huge-method-limit functions whose C2 compilation stalls the
        # first execution ~40 s (measured: first run 50 s -> 29 s with
        # this, identical ~12 s steady state). Constant-size methods also
        # keep every stage JIT-eligible at any catalog width.
        .config("spark.sql.codegen.methodSplitThreshold", "256")
        # Spark's compiled-class cache holds 100 generated classes by default
        # (static conf: only the builder can set it). One 10-column 100 ms
        # run_pipeline + write_parquet uses 130, so every steady run evicted
        # the last run's classes and compiled all 130 again (executor CPU
        # 2.8 -> 1.45 s per run with them cached, 4 cores). Measured working
        # sets in one session: that run 130, a fresh input 12 more, the
        # 187-column 1 s pipeline 32 more (183 in all); all 158 driver
        # queries of scripts/oracle_sweep.py 1,729 at sf0.01 and 1,738 at
        # sf0.1. 2000 covers the largest.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # the default 240 MB code cache fills after a few dozen
        # whole-stage-codegen plans, silently disabling the JIT — long
        # sessions then run generated code interpreted (~10x slower)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g "
            "-Dderby.system.home=" + os.environ.get(
                "SPARK_GRAFT_DERBY", "/tmp/spark_graft_derby"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
