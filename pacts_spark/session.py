"""SparkSession settings for the validation engine, for both launch paths.

``ENGINE_CONF`` holds the engine's session settings once: AQE on
(skew-join splitting + shuffle coalescing), Arrow for pandas UDFs, UTC
session time, a 64 MB broadcast threshold, zstd blocks and a codegen
cache that holds a run's generated classes. ``get_spark``
(local mode: tests, ``bench.py``, perfbench) applies them with the local
master (the host's usable cores unless ``cores`` is given), shuffle
partitions, driver memory and GC. ``submit_session``
(``jobs/validate_job.py`` under ``spark-submit --py-files``, the north_rule
launch mode) fills in every key the submit conf does not hold; master,
executors, memory and shuffle partitions come from spark-submit. At 100 TB
the same job runs unchanged with ``spark.sql.shuffle.partitions`` raised
to O(cores × 2-3) and the table behind an Iceberg catalog (the table
layer defaults to plain parquet; the Iceberg DDL is documented in
checkpoint.py).

Block codec: ``spark.io.compression.codec`` is zstd, not Spark's default
LZ4, for every shuffle, broadcast and spill block. The exchanges are the
bytes that cross the network when a run scales out. On perfbench
``batch_full`` (4 cores, 10 alternating pairs) zstd cut ``io_mb``
8.13 → 2.95 MB, lower in every pair, with ``cpu_s`` and ``pass_s``
inside their spread. Per pass on that table the five outputs shuffle
2.81 MB with zstd, 7.96 MB with LZ4 and still 7.59 MB with 256 KB LZ4
blocks. AQE coalesces partitions on the compressed bytes, so a small
shuffle now runs in fewer reduce tasks. Written outputs keep Spark's
parquet codec (snappy): those are the files users read.

Codegen cache: ``spark.sql.codegen.cache.maxEntries`` (a static conf,
default 100) is 2,000. One ``ValidationRun`` pass with its five writes
generates about 104 classes, so at 100 the LRU cache evicted in a cycle
and every pass over the same plans compiled dozens of classes again
(Janino on task threads, then the JIT). At 2,000 a JVM that runs the
same plans again (a resumed daily run, a benchmark's timed passes,
streaming micro-batches) compiles none of them twice.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.io.compression.codec": "zstd",
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(
    app: str = "pacts-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        # throughput GC: G1 (the JVM default) collapsed under 32 concurrent
        # tasks' allocation pressure — the identical 16M-row pipeline ran
        # 39.3 s with G1 and 17.1 s with ParallelGC (measured round 2,
        # BENCH/BASELINE.md). Batch validation wants max throughput, not
        # pause bounds. On a cluster, set the same via
        # spark.executor.defaultJavaOptions.
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GC_OPTS", "-XX:+UseParallelGC"
        ),
        "spark.ui.enabled": "false",
        **(extra or {}),
    }
    builder = SparkSession.builder.appName(app).master(f"local[{cores}]")
    return builder.config(map=conf).getOrCreate()


def submit_conf(submitted: Mapping[str, str]) -> dict[str, str]:
    """``ENGINE_CONF`` under a submit conf: each key takes the value
    ``submitted`` holds, else the engine's."""
    return {k: submitted.get(k, v) for k, v in ENGINE_CONF.items()}


def submit_session(app: str) -> SparkSession:
    """The spark-submit path's session: the submit conf (``--conf``,
    spark-defaults) as given, plus every ``ENGINE_CONF`` key it lacks.
    Builder options override the submit conf, so the submit conf is read
    first, from the JVM that spark-submit started."""
    SparkContext._ensure_initialized()
    submitted = dict(SparkConf().getAll())
    builder = SparkSession.builder.appName(app)
    return builder.config(map=submit_conf(submitted)).getOrCreate()


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
