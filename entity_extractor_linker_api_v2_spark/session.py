"""SparkSession factory tuned for the KG-construction pipeline.

Cores and driver heap default to what the host offers (``host_defaults``);
the other defaults are exactly the knobs that matter on a 1000-executor
cluster: AQE (runtime re-plan + skew-join split),
Arrow batching for the pandas-UDF stages, broadcast threshold sized so the KB
alias/redirect dimensions always broadcast, and shuffle partitions matched to
parallelism (on a real cluster leave shuffle partitions to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


MAX_DRIVER_HEAP_MB = 16 * 1024


def host_defaults(meminfo: str = "/proc/meminfo") -> tuple[int, str]:
    """(cores, driver heap) of a session on this host: the size of the
    process's CPU affinity mask, and half of MemTotal capped at 16 GB, so
    the driver JVM leaves room for the Python workers and the OS on a
    machine without swap.  ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY``
    override either."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    heap = os.environ.get("SPARK_DRIVER_MEMORY")
    if heap is None:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f
                            if line.startswith("MemTotal:"))
        heap = f"{min(total_kb // 2048, MAX_DRIVER_HEAP_MB)}m"
    return int(cpus or len(os.sched_getaffinity(0))), heap


def get_spark(app_name: str = "eel-v2-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """`extra_conf` entries are applied LAST, so callers can override any
    default (e.g. perfbench/run.py's traced run re-enables the UI for its
    REST-API layer metrics)."""
    cpus, heap = host_defaults()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch rows: at ~7 kB/page, 50k rows = ~350 MB in flight PER
        # TASK — with 32 concurrent tasks that is >10 GB of transient heap.
        # 8k rows (~56 MB/task) keeps GC quiet at full parallelism.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_ARROW_BATCH", "8192"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_table(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A driver-side literal table (a fixture dimension, a small lookup
    list, a collected result) as a ``LocalRelation``.

    The rows cross to the JVM once, as Arrow record batches, are scanned
    in the driver, and carry a size estimate.  ``createDataFrame(<list>)``
    plans a ``LogicalRDD`` over parallelized pickled rows instead, so every
    job that scans it runs tasks that unpickle them again.  ``rows`` are
    tuples in the field order of ``schema`` (a ``StructType`` or a DDL
    string)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
