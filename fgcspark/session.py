"""SparkSession factory with scale-aware defaults.

Local mode is a stand-in for a multi-executor cluster: all knobs below
(AQE, shuffle-partition sizing, Arrow batching, skew-join) are the ones
that matter at 100 TB, and are set so the same code path is exercised
locally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# cap on the host-derived driver heap
_MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's MemTotal, capped at 48g — local mode runs the
    whole engine inside the driver JVM, so its heap must fit the box.
    Falls back to Spark's own 1g where MemTotal cannot be read."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "1g"
    return f"{max(1024, min(_MAX_DRIVER_MEM_MB, kb // 2048))}m"


def default_parallelism() -> int:
    """$SPARK_GRAFT_CPUS when set, else the CPUs this process may use."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def local_frame(spark: SparkSession, rows, ddl_schema: str) -> DataFrame:
    """A driver-built table (list of tuples) as a DataFrame shipped to
    the JVM as Arrow record batches. The list form of createDataFrame
    pickles the rows into a Python RDD, so every job that reads the
    table (e.g. to broadcast it) first runs a stage of Python workers
    that only unpickle rows; the Arrow form is a plain JVM scan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl_schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=schema)


def get_spark(
    app_name: str = "fgcspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    cores: parallelism for local mode (defaults to $SPARK_GRAFT_CPUS or '*').
    Shuffle partitions default to default_parallelism() and the driver
    heap to $FGC_DRIVER_MEM or default_driver_mem(), so the defaults
    follow the host.
    On a real cluster this builder is a no-op passthrough: master comes
    from spark-submit and the sql confs still apply.
    """
    from pyspark import SparkConf

    # respect spark-submit: if a master is already configured (cluster
    # deploy), don't override it and don't apply local-only knobs
    submitted_master = SparkConf(loadDefaults=True).get("spark.master", None)
    if submitted_master is not None:
        master = submitted_master
    elif cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cores}]"
    is_local = master.startswith("local")
    n_shuffle = shuffle_partitions or default_parallelism()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory per task. Profiled
        # on the spatial core at 32 cores (round 2): 10k batches cost
        # ~1.5-1.7x vs 64k+ (per-batch IPC + kernel-invocation overhead
        # dominates at high worker counts); 64k keeps the heaviest
        # batch (footprint rows with WKT strings) under ~15 MB/worker.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("FGC_ARROW_BATCH", "65536"),
        )
        .config("spark.driver.memory", os.environ.get("FGC_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Local test/bench files are single small parquets; split them
    # finely so scans feed every core. The 2m default applies ONLY in
    # local mode — builder.config beats spark-submit --conf, so forcing
    # it on a cluster would mean tens of millions of tasks at 100 TB
    # (ADVICE r1). FGC_MAX_PARTITION_BYTES always wins when set.
    mpb = os.environ.get("FGC_MAX_PARTITION_BYTES")
    if mpb:
        builder = builder.config("spark.sql.files.maxPartitionBytes", mpb)
    elif is_local:
        builder = builder.config("spark.sql.files.maxPartitionBytes", "2m")
    if is_local:
        builder = builder.config("spark.sql.files.openCostInBytes", "262144")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
