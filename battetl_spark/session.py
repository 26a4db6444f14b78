"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-reproducibility (UTC session tz, ntz timestamps) and
scale-readiness (AQE on, sensible shuffle partitioning). On a real cluster the
same builder is driven by spark-submit conf. The one setting tied to the
storage is the listing threshold: ``LakeTable`` reads explicit manifest
file lists on POSIX paths, so Spark's parallel listing job is never needed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "battetl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry points serve tests, bench, and cluster runs (where
    spark-submit supplies the master and this argument stays None).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; a real cluster should set this via spark-submit conf
        # (AQE coalescing makes the initial number forgiving).
        digits = "".join(ch for ch in master if ch.isdigit())
        shuffle_partitions = int(digits) if digits else 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the engine's widest aggregates (144 hyperplane-dot sums, 64
        # simhash bit votes) exceed the default whole-stage-codegen field
        # cap of 100 and silently drop out of codegen fusion — measured
        # 6.3s -> 4.6s on the sf1 embedding signature stage alone.
        # Scale-independent (plan-shape, not data-size, setting).
        .config("spark.sql.codegen.maxFields", "200")
        # LakeTable.scan hands Spark the manifest's explicit file list; past
        # 32 paths Spark would list them in a parallel job (~0.4 s per scan
        # on 4 cores) where a driver-side stat of a POSIX path costs
        # microseconds. Set above any scan's file count.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
