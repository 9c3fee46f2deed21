"""Table-format adapter: the two Iceberg table touchpoints behind ONE seam.

The north_star runs over an Iceberg transcripts table; this sandbox has no
Iceberg runtime, so the engine ships a parquet implementation with the
SAME two operations Iceberg provides, and an Iceberg adapter whose
methods issue the real statements but refuse loudly when the runtime is
absent. Swapping formats in production is a constructor choice
(``get_adapter("iceberg")``), not a rewrite:

1. **Partition-pruned resume scan** (`scan_pending`) — exclude
   already-validated partitions AT THE SOURCE. Parquet: a static NOT-IN
   predicate over the physical partition column lands in the scan's
   ``PartitionFilters`` (pruned directories are never even listed —
   pinned by tests/test_plan_shapes.py). Iceberg: the same predicate is
   evaluated against partition metadata (manifest files), no data file of
   a validated partition is opened.
2. **REPLACE-WHERE idempotent write** (`replace_where`) — overwrite
   exactly the partitions present in the incoming frame. Parquet: dynamic
   partition overwrite (what fork_sinks' exactly-once batch_id sink and
   the runner rely on). Iceberg: ``overwritePartitions()`` (dynamic
   REPLACE WHERE), atomic at snapshot granularity.

The third touchpoint, the manifest record, is not a table-format method:
``ValidationManifest.record`` (pacts_spark.checkpoint) appends per-partition
verdicts and readers take the latest ``finished_seq`` per partition, so
re-recording a partition is harmless on either format.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pacts_spark.checkpoint import ValidationManifest

# above this many validated partitions the static NOT-IN literal list
# stops being sensible plan text; fall back to the broadcast anti-join
# (still tiny: one row per partition). 10 years of daily partitions fits.
MAX_STATIC_PRUNE_PARTS = 5000


def _pending_parts(part: Column, done: list[str]) -> Column:
    """Rows whose partition is not in ``done`` (validated partitions, as
    manifest strings). NULL-safe: ``~isin`` is NULL for a NULL partition
    value (e.g. __HIVE_DEFAULT_PARTITION__ → NULL after cast), which would
    silently drop those rows from a resumed scan while the anti-join
    fallback keeps them — a NULL partition stays pending."""
    pc = part.cast("string")
    return pc.isNull() | ~pc.isin(done)


class ParquetTableAdapter:
    """Default adapter over (optionally hive-partitioned) parquet."""

    format = "parquet"

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """``table`` is a path (contains '/' or endswith .parquet) or a
        catalog identifier — the rule jobs/validate_job.py documents."""
        if "/" in table or table.endswith(".parquet"):
            return spark.read.parquet(table)
        return spark.read.table(table)

    def scan_pending(
        self,
        spark: SparkSession,
        table: str,
        manifest: ValidationManifest,
        part_col: str = "part",
    ) -> DataFrame:
        """Resume scan skipping validated partitions AT THE SOURCE.

        When ``part_col`` is a physical partition column of the table, the
        NOT-IN predicate becomes a PartitionFilter: directories of
        validated partitions are pruned during file listing, so a resumed
        run's I/O is proportional to PENDING data only — the property that
        makes resume useful at 100 TB (the broadcast anti-join fallback
        still reads every file and drops rows after decode).
        """
        df = self.read(spark, table)
        done_df = manifest.validated_parts(spark)
        if part_col in df.columns:
            done = [r.part for r in done_df.collect()]  # 1 row per partition
            if not done:
                return df
            if len(done) <= MAX_STATIC_PRUNE_PARTS:
                return df.filter(_pending_parts(F.col(part_col), done))
            return df.join(
                F.broadcast(done_df.withColumnRenamed("part", "__done")),
                df[part_col].cast("string") == F.col("__done"),
                "left_anti",
            )
        # table not physically partitioned by part_col: the caller derives
        # partitions (day_part on ts) — row-level anti-join is all there is
        return manifest.filter_pending(spark, df, F.col("ts").cast("date"))

    def replace_where(
        self, df: DataFrame, table: str, part_cols: list[str]
    ) -> None:
        """Idempotent partition-scoped overwrite: replaces exactly the
        ``part_cols`` partitions present in ``df`` (a replayed write —
        retry, streaming batch redelivery — converges instead of
        duplicating)."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(table)
        )


class IcebergTableAdapter:
    """Iceberg implementation of the same seam. Methods issue the real
    Iceberg statements; construction-time probe refuses loudly when the
    runtime is not on the classpath (this sandbox), so a misconfigured
    cluster fails at wiring time, not mid-run."""

    format = "iceberg"

    def __init__(self, spark: SparkSession) -> None:
        from pacts_spark.session import jvm_class_present

        # probe SPARK's classloader, not the system one: runtime-added
        # jars are invisible to a bare Class.forName (review finding)
        if not jvm_class_present(
            spark, "org.apache.iceberg.spark.source.SparkTable"
        ):
            raise RuntimeError(
                "Iceberg runtime not on the classpath; add the "
                "iceberg-spark-runtime jar and a catalog config "
                "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog)"
            )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.table(table)

    def scan_pending(
        self,
        spark: SparkSession,
        table: str,
        manifest: ValidationManifest,
        part_col: str = "part",
    ) -> DataFrame:
        df = self.read(spark, table)
        done = [r.part for r in manifest.validated_parts(spark).collect()]
        if not done:
            return df
        # Iceberg evaluates this predicate against partition metadata in
        # the manifest files — validated partitions' data files never open
        return df.filter(_pending_parts(F.col(part_col), done))

    def replace_where(
        self, df: DataFrame, table: str, part_cols: list[str]
    ) -> None:
        # dynamic REPLACE WHERE: atomically replaces the partitions present
        # in df (snapshot-isolated; concurrent readers see old-or-new)
        df.writeTo(table).overwritePartitions()


def get_adapter(fmt: str, spark: SparkSession | None = None):
    if fmt == "parquet":
        return ParquetTableAdapter()
    if fmt == "iceberg":
        if spark is None:
            raise ValueError("iceberg adapter needs the SparkSession (probe)")
        return IcebergTableAdapter(spark)
    raise ValueError(f"unknown table format: {fmt!r}")
