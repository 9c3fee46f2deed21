"""SparkSession builder tuned for the validation engine.

Local-mode settings mirror what a 1000-executor cluster run would set via
``spark-submit --py-files`` (north_rule launch mode): AQE on (skew-join
splitting + shuffle coalescing), Arrow for pandas UDFs, shuffle partitions
sized to the parallelism level. At 100 TB the same job runs unchanged with
``spark.sql.shuffle.partitions`` raised to O(cores × 2-3) and the table
behind an Iceberg catalog (this sandbox has no Iceberg jars; the engine's
table layer is plain parquet with the Iceberg DDL documented in
checkpoint.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app: str = "pacts-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # throughput GC: G1 (the JVM default) collapsed under 32 concurrent
        # tasks' allocation pressure — the identical 16M-row pipeline ran
        # 39.3 s with G1 and 17.1 s with ParallelGC (measured round 2,
        # BENCH/BASELINE.md). Batch validation wants max throughput, not
        # pause bounds. On a cluster, set the same via
        # spark.executor.defaultJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def jvm_class_present(spark: SparkSession, class_name: str) -> bool:
    """True when ``class_name`` resolves on SPARK's classloader — the
    loader ``readStream.format(...)`` actually resolves sources against.
    ``java.lang.Class.forName`` alone false-negatives when a connector
    jar arrives via runtime distribution (``--jars``/``addJar``): those
    land on Spark's mutable classloader, invisible to the system loader.
    Probes ``Utils.classForName`` (Spark's own resolution path) first,
    falling back to ``Class.forName``."""
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(
            class_name, False, False
        )
        return True
    except Exception:  # noqa: BLE001 — any JVM error means "not via Utils"
        pass
    try:
        spark._jvm.java.lang.Class.forName(class_name)
        return True
    except Exception:  # noqa: BLE001 — absent everywhere
        return False


def local_frame(spark: SparkSession, ddl: str, rows=()) -> DataFrame:
    """``rows`` (tuples in ``ddl``'s column order) as a JVM
    ``LocalRelation``: a ``VALUES`` list of bound parameters, cast to
    ``ddl``'s types. No rows gives an empty frame with ``ddl``'s columns,
    all nullable.

    ``createDataFrame`` over a Python list, even an empty one, is a
    ``LogicalRDD`` fed by Python workers on every action that reads it.
    The markers are named: positional ``?`` markers inside ``VALUES``
    bind out of order (measured on Spark 4.1)."""
    schema = StructType.fromDDL(ddl)
    n = len(schema.names)
    body = rows or [(None,) * n]
    values = ", ".join(
        "(" + ", ".join(f":v{r}_{c}" for c in range(n)) + ")"
        for r in range(len(body))
    )
    args = {f"v{r}_{c}": v for r, row in enumerate(body) for c, v in enumerate(row)}
    frame = spark.sql(f"VALUES {values}" + ("" if rows else " LIMIT 0"), args=args)
    return frame.toDF(*schema.names).to(schema)
