"""SparkSession factory with scale-oriented defaults.

The conf choices are the ones we would ship to a 1000-executor cluster:
AQE on (runtime coalesce + skew-join split), broadcast threshold sized for
dimension tables, Arrow enabled for every pandas-UDF boundary, and shuffle
partitions that the caller overrides per deployment (tests use 32 to match
local[32]).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the sandbox (local[N], single JVM). On a real cluster the same
# builder is used but master/memory come from spark-submit.
_DEFAULTS = {
    # AQE: runtime partition coalescing, skew-join splitting, join demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / mapInPandas boundaries (the only Python hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The Arrow-layer analog of the reference's record batching (reference:
    # pkg/reader/option.go:7-9) — but sized for columnar transfer. Measured
    # on the transcript-extraction kernel (4M turns, this box): 10k batches
    # bottleneck the JVM↔Python round-trip at high core counts (32 cores:
    # ~300k turns/s); 20k batches reach the physical-core ceiling (~810k
    # turns/s); 100k starts losing pipelining overlap again (~700k).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
    # Broadcast anything dimension-sized; explicit F.broadcast is still used
    # at call sites so intent survives stats loss.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ANSI off: the reference's converter semantics are "bad cast → null →
    # rejected row", not "fail the job" (pkg/picker/converter_type.go).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "nebula-importer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]``; shuffle
    partitions default to the parallelism level so small-scale runs do not
    fragment into thousands of empty tasks (AQE coalesces the rest).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Under spark-submit the JVM already exists (PythonRunner hands this
    # process a gateway) and spark.master comes from the submit command —
    # setting .master() here would silently override the cluster master.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{cpus}]"
    # Under spark-submit an explicit caller value still wins, but the
    # local-CPU-derived default must NOT override --conf
    # spark.sql.shuffle.partitions sized for the cluster.
    if shuffle_partitions is None and not under_submit:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    for k, v in _DEFAULTS.items():
        b = b.config(k, v)
    if master is not None and master.startswith("local"):
        # Local-mode shuffle goes to local disk (page cache), so the lz4
        # compress/decompress CPU competes directly with Python workers for
        # cores and buys nothing. Measured on the transcript pipeline at
        # local[16] (pinned): 348k → 495k turns/s. On a real cluster the
        # shuffle crosses the network — leave compression on there (these
        # keys are not set for non-local masters).
        b = b.config("spark.shuffle.compress", "false")
        b = b.config("spark.shuffle.spill.compress", "false")
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        b = b.config("spark.default.parallelism", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete a path through the Hadoop FileSystem API (works
    for local, HDFS, s3a, ... — whatever filesystem the path names). A
    missing path is a no-op."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).delete(p, True)
