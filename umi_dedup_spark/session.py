"""SparkSession factory: Arrow on, AQE on, skew-join on.

Local mode stands in for the multi-executor cluster; partitioning choices
below are made for the cluster case (SURVEY.md §4).

Resources are sized from the host the session starts on: one task slot
per CPU this process may run on, and a driver heap of 60% of physical
memory in whole GiB. ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM``
override them for a deployment.
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame, SparkSession


_DRIVER_OPTS_KEY = "spark.driver.extraJavaOptions"


def _host_driver_memory() -> str:
    """60% of physical memory in whole GiB (at least 1g)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(total * 0.6 / (1 << 30)))}g"


def _host_slots() -> int:
    """Task slots: ``$SPARK_GRAFT_CPUS`` when set, else the CPUs this
    process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def _driver_java_opts(extra_conf: dict[str, str] | None) -> str:
    """``$SPARK_DRIVER_JAVA_OPTS`` followed by extra_conf's driver opts;
    extra_conf wins on duplicate flags because the JVM takes the last
    occurrence."""
    parts = [os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")]
    if extra_conf:
        parts.append(extra_conf.get(_DRIVER_OPTS_KEY, ""))
    return " ".join(p for p in parts if p)


def get_spark(
    app_name: str = "umi_dedup_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the dedup pipeline.

    parallelism=None -> one task slot per host CPU (``$SPARK_GRAFT_CPUS``
    overrides); shuffle_partitions defaults to one per task slot.
    """
    slots = parallelism if parallelism is not None else _host_slots()
    if shuffle_partitions is None:
        shuffle_partitions = slots

    builder = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _host_driver_memory(),
        )
        .config(_DRIVER_OPTS_KEY, _driver_java_opts(extra_conf))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scan-parallelism floor (scale-adaptive, r6): a small parquet
        # input (the 6MB documents table) packs into 1-2 splits at the
        # 128MB default, so every scan that computes per-row work
        # (normalize/hash/quality) runs on 1-2 of the session's cores
        # while the rest idle — measured 3.4s of CPU on 2 tasks in the
        # flagship docs stage. minPartitionNum floors the split count at
        # the core count; openCostInBytes must drop below the 4MB default
        # for the floor to bite on megabyte-sized files (split size =
        # min(maxPartitionBytes, max(openCostInBytes, total/minPartitionNum))).
        # At cluster scale total/minPartitionNum >> 128MB, so large scans
        # keep the exact same 128MB splits — this only widens small ones.
        .config("spark.sql.files.minPartitionNum", str(slots))
        .config("spark.sql.files.openCostInBytes", "262144")
        # Arrow batch cap bounds per-python-worker peak memory in the
        # fingerprint kernels (vectorized-across-rows numpy temporaries)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Sort/aggregate memory pages below half a G1 region. Spark's
        # default page (execution memory / slots / 16, up to 64 MB) is a
        # humongous object at a few-GiB heap on few slots: each task's
        # dropped pages land in fresh heap regions, so the driver's
        # resident memory swung by ~1 GB from one run to the next.
        .config("spark.buffer.pageSize", "2m")
        # /tmp is janitored in some sandboxes mid-run (observed: blockmgr
        # dir vanishing under a long job); keep shuffle/cache scratch in a
        # repo-local dir instead
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/root/repo/.spark-local"),
        )
    )
    for k, v in (extra_conf or {}).items():
        if k == _DRIVER_OPTS_KEY:
            continue  # already merged into the composed driver opts above
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_to_slots(df: DataFrame) -> DataFrame:
    """Round-robin a batch input across the session's task slots when it
    has fewer partitions than slots (a small input written as one parquet
    row group is unsplittable, so per-row work above it would run on one
    core); otherwise, and for streaming inputs, return it unchanged. At
    scale the condition never fires and no shuffle is added."""
    if df.isStreaming:
        return df
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        return df.repartition(slots)
    return df


def warm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Pre-fork and warm one Python UDF worker per task slot (untimed
    setup, the executor-warmup step any cluster deployment performs).

    A cold worker pays fork + numpy/pandas/pyarrow import *inside the
    first timed Arrow-UDF stage*. Workers are reused for the session, so
    one throwaway job per slot retires the cost."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    n = n or spark.sparkContext.defaultParallelism

    @F.pandas_udf(T.LongType())
    def _touch(s: pd.Series) -> pd.Series:
        from umi_dedup_spark.functions import hashing  # noqa: F401  (import cost)

        return s

    spark.range(0, n, 1, n).select(_touch(F.col("id"))).count()
