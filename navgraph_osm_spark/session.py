"""SparkSession factory with the engine's standard configs.

Local mode stands in for a multi-executor cluster; configs are chosen so the
same code runs unchanged under ``spark-submit --py-files`` on a real cluster
(AQE on, Arrow on, skew-join on). ``parallelism`` controls ``local[N]`` and
``spark.sql.shuffle.partitions`` together so scaling-efficiency runs
(BASELINE.json north_rule: N vs 4N) compare like for like.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS_PER_CORE = 1


def get_spark(
    app_name: str = "navgraph_osm_spark",
    parallelism: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``parallelism=None`` uses ``local[*]``; otherwise ``local[N]``.
    On a real cluster the ``master`` is supplied by spark-submit and this
    function only applies the SQL configs.
    """
    cores = parallelism or os.cpu_count() or 8
    master = f"local[{parallelism}]" if parallelism else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(8, cores * DEFAULT_SHUFFLE_PARTITIONS_PER_CORE)))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # one BLAS thread per python worker: Spark already runs one worker
        # per task slot, so a multi-threaded BLAS inside each (OpenBLAS
        # defaults to ncpu threads) oversubscribes cores quadratically —
        # numpy kernels in mapInPandas stages measured far below linear
        # scaling without this (guide §4: Spark supplies the parallelism,
        # the kernel should be single-threaded vectorized code)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Input split size is scale-dependent (guide §6): the bench inputs
        # are single-digit-MB..150 MB parquet files on a many-core box, so
        # 128 MB splits plan 1-2 scan tasks and serialize every downstream
        # per-row computation; 16 MB splits let the row-group-level
        # parallelism through (lineitem: 6 row groups).  On a real cluster
        # scanning TB-scale tables set SPARK_GRAFT_MAX_PARTITION_BYTES to
        # 512m-1g so sequential scans aren't task-scheduling bound.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
