"""SparkSession construction with scale-appropriate defaults.

The reference hardcodes its parallelism (``GOMAXPROCS(4)``,
``/root/reference/main.go:47``) and delegates execution to ClickHouse. Here
Spark IS the execution engine, so session defaults are the performance
surface: AQE on (runtime re-planning, skew-join handling, partition
coalescing), sensible shuffle partitioning, Arrow for any Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_java_opts(env_opts: str | None = None) -> str:
    """Driver JVM options: the engine's ReservedCodeCacheSize default
    merged with (never replacing) deployment-supplied flags from
    SPARK_DRIVER_JAVA_OPTS. An explicit ReservedCodeCacheSize in the env
    wins — the env value is then used verbatim, because appending ours
    after it would override it (later duplicate JVM flags win)."""
    if env_opts is None:
        env_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")
    if "ReservedCodeCacheSize" in env_opts:
        return env_opts
    return (env_opts + " -XX:ReservedCodeCacheSize=512m").strip()


def get_spark(
    app_name: str = "clickhouse-table-copier-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults are chosen to survive scale-up: AQE enabled so shuffle
    partition counts and skew handling re-plan at runtime from real stats
    rather than static guesses; on a real cluster ``shuffle_partitions``
    becomes the AQE *initial* value, not a fixed fanout.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Listing more than 32 partition directories runs a Spark job of one
        # task per directory (default cap 10000); tasks beyond the cores only
        # queue, each paying scheduling and Hadoop-conf deserialization.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet-writer side of the sync engine: partition-granularity
        # overwrite is the engine's DELETE+INSERT (SURVEY §2.7 D1+D2 fused).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        # PySpark wraps every Column function (F.col, F.lit, .cast, .alias, …)
        # in a call-site capture: a stack walk, a failed ``import ipykernel``
        # when IPython is installed, and a JVM call per Column built. Off, a
        # resync's driver sends about a third of the py4j commands. What is
        # lost is the Python file:line in the DataFrame query context of
        # error messages. PySpark caches the flag per process on first read,
        # so it is set here, before any Column exists.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        # 239 registered queries generate hundreds of codegen classes in
        # one JVM; the default 240m JIT code cache overflows late in a
        # full bench sweep and the fallback-to-interpreter lands on the
        # most CPU-bound queries (measured: supplier_part_cosine 8.0 ->
        # 5.1 s in-bench, headline 24.7 -> 23.7 s with 512m). Merged with
        # deployment-supplied flags via the SPARK_DRIVER_JAVA_OPTS env
        # escape hatch (same pattern as SPARK_DRIVER_MEMORY) — see
        # _driver_java_opts. No-op when a JVM already exists, like every
        # other conf here.
        .config("spark.driver.extraJavaOptions", _driver_java_opts())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
