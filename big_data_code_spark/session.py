"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every config
here is chosen to also make sense on a large cluster: AQE for
runtime re-planning (skew joins, coalesced shuffle partitions),
UTC session time zone so epoch arithmetic is deterministic, Arrow
for the few Pandas-UDF operators.

``file:`` is rebound to ``jvm/NoForkLocalFileSystem`` (``nofork.jar``):
without libhadoop, Hadoop's stock local filesystem spawns a ``chmod``
process for every file and directory it creates and two ``readlink``
processes for every FileContext rename, which every streaming
checkpoint and state-store commit goes through (~520 spawns per
``speed`` benchmark pass, at ~4.6 ms each on one thread). The
replacement does the same calls in-process: same permission bits,
same ``.crc`` files, same atomic renames. It is a JVM-start setting,
so a session built elsewhere and handed to ``__spark_entry__``
(``tune_session``) keeps the stock filesystem.

The cache of compiled generated classes holds `CODEGEN_CACHE_ENTRIES`
instead of Spark's 100. A repeated ``batch_views`` benchmark pass
(SWA views, TPC-H, three key/value exports) generates the same Java
source every time, 105-119 distinct classes, and Guava splits the
LRU cache into 4 segments of ~25, so the default evicted and Janino
recompiled 47-55 of them per pass (~16 ms each, and each fresh class
runs cold in the JIT); 1000 leaves each segment more than twice the
working set, and a warm pass compiles none
(``CodegenMetrics.METRIC_COMPILATION_TIME``). The size is a static
conf, read once when the JVM builds the cache, so like the
filesystem binding it cannot be applied to a running session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_NOFORK_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nofork.jar")
_NOFORK_FS = "big_data_code_spark.jvm.NoForkLocalFileSystem"
#: ``spark.sql.codegen.cache.maxEntries``, see the module docstring
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "big-data-code-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraClassPath", _NOFORK_JAR)
        .config("spark.hadoop.fs.file.impl", _NOFORK_FS)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", _NOFORK_FS + "$Fs")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-provided
    session (the driver hands us one in ``__spark_entry__``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    except Exception:
        pass  # non-modifiable on some deployments; AQE default-on in 4.x
    return spark


#: Production posture for a large cluster (order 1000 executors,
#: 100 TB inputs). Not applied in local tests — documented here as
#: the deployment contract, applied via spark-submit --conf.
CLUSTER_PROFILE: dict[str, str] = {
    # ~2-3 × total cores so AQE has room to coalesce; at 100 TB this
    # keeps post-shuffle partitions near the advisory size instead of
    # multi-GB stragglers
    "spark.sql.shuffle.partitions": "8000",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    # split giant scans sanely; one parquet row-group per task target
    "spark.sql.files.maxPartitionBytes": "256m",
    # dims up to this size broadcast (region/nation/supplier/query
    # vectors); fact-fact joins must go through bucketing instead
    "spark.sql.autoBroadcastJoinThreshold": "256m",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    # mergeable-state ops (HLL, minhash mins) benefit from larger
    # map-side hash maps before spill
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "1000000",
    # Arrow batches sized so multimodal binary payloads (MBs each)
    # don't blow executor memory: bytes/batch ≈ batch × asset size
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    "spark.sql.parquet.compression.codec": "zstd",
    # a long-lived executor rerunning the batch workflow regenerates
    # the same classes each cycle; see the module docstring
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
}


from contextlib import contextmanager


@contextmanager
def no_aqe(spark: SparkSession):
    """Disable AQE for a block of tiny fixed-shape per-round queries
    (r10): an iterative driver loop issues dozens of sub-second jobs
    whose plans AQE cannot improve (1-row/K-row states, single tiny
    shuffles) but whose every shuffle AQE materializes as an extra
    job. Restores the caller's setting on exit. Result-neutral: AQE
    never changes query results, only physical planning."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
