"""SparkSession factory with scale-aware defaults.

Local mode is the test harness; the configs are chosen so the same plan holds on a
multi-executor cluster: AQE on (runtime coalesce + skew-join splitting), Arrow on
(vectorized pandas-UDF exchange), shuffle partitions sized to cores locally but
overridable for the cluster.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession


def master_preconfigured() -> bool:
    """True when a cluster manager already chose the master. In that case
    get_spark must NOT override it back to local mode or force a local heap.

    Detection order matters: before the JVM gateway exists,
    SparkConf(loadDefaults=True) is an EMPTY python-side dict — it cannot see
    the master spark-submit chose. spark-submit for Python apps always ships
    its flags to the worker via PYSPARK_SUBMIT_ARGS, so that env var is the
    reliable pre-JVM signal; the SparkConf check only helps once a JVM with
    system properties is already up (e.g. a second get_spark call)."""
    if os.environ.get("MASTER") or os.environ.get("SPARK_MASTER"):
        return True
    if "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return True
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            return True
        return SparkConf(loadDefaults=True).contains("spark.master")
    except Exception:
        return False


def default_driver_memory() -> str:
    """Local-mode heap: 80g, capped at 60% of the host's physical memory.

    Local mode is a single JVM, so the driver heap IS executor memory, and
    undersizing shows up as GC variance on string-heavy stages. A heap larger
    than the host is worse: G1 grows the heap instead of collecting, until the
    kernel's OOM killer ends the whole run."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(80, int(host * 0.6) >> 30))}g"


def get_spark(
    app_name: str = "hatchery_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus: local parallelism (defaults to $SPARK_GRAFT_CPUS or 32). On a real
    cluster this function is bypassed by spark-submit's own session; every knob
    here is also safe cluster-side.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # locally: match cores. On a 1000-executor cluster you want
        # O(2-3x total cores); pass it explicitly there.
        shuffle_partitions = max(cpus, 8)

    builder = SparkSession.builder
    if not master_preconfigured():
        # local test/bench harness: we own master + heap sizing. Under
        # spark-submit on a real cluster, both belong to the submitter.
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # long transcript text values: keep Arrow batches bounded so a batch of
        # wide rows fits executor memory at 100 TB scale
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # codegen for wide projections (long format_string/regexp chains) can
        # exceed the JVM's 8000-bytecode JIT ceiling; without this flag such
        # methods run interpreted FOREVER (~50x slower) instead of warming up
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
