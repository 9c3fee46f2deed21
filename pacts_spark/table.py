"""Table-format adapter: the two Iceberg table touchpoints behind ONE seam.

The north_star runs over an Iceberg transcripts table; this sandbox has no
Iceberg runtime, so the engine ships a parquet implementation with the
SAME two operations Iceberg provides, and an Iceberg adapter whose
methods issue the real statements but refuse loudly when the runtime is
absent. Swapping formats in production is a constructor choice
(``get_adapter("iceberg")``), not a rewrite:

1. **Partition-pruned resume scan** (`scan_pending`, written once in
   ``TableAdapter``) — exclude already-validated partitions AT THE SOURCE
   with the manifest's one ``pending`` predicate. Parquet: over the
   physical partition column it lands in the scan's ``PartitionFilters``
   (pruned directories are never even listed — pinned by
   tests/test_plan_shapes.py). Iceberg: the same predicate is evaluated
   against partition metadata (manifest files), no data file of a
   validated partition is opened. A table with no physical partition
   column (Iceberg's hidden ``days(ts)``, unpartitioned parquet) is
   filtered on ``day_part()``, the run's own partition expression.
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pacts_spark.checkpoint import ValidationManifest, day_part


class TableAdapter:
    """The seam's shared half: formats differ only in ``read`` and
    ``replace_where``."""

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError

    def scan_pending(
        self,
        spark: SparkSession,
        table: str,
        manifest: ValidationManifest,
        part_col: str = "part",
    ) -> DataFrame:
        """Resume scan skipping validated partitions AT THE SOURCE.

        When ``part_col`` is a physical partition column of the table, the
        predicate is a PartitionFilter: directories of validated
        partitions are pruned during file listing, so a resumed run's I/O
        is proportional to PENDING data only — the property that makes
        resume useful at 100 TB. Otherwise the rows are filtered on
        ``day_part()`` after the scan.
        """
        df = self.read(spark, table)
        part = F.col(part_col) if part_col in df.columns else day_part()
        return df.filter(manifest.pending(spark, part))


class ParquetTableAdapter(TableAdapter):
    """Default adapter over (optionally hive-partitioned) parquet."""

    format = "parquet"

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """``table`` is a path (contains '/' or endswith .parquet) or a
        catalog identifier — the rule jobs/validate_job.py documents."""
        if "/" in table or table.endswith(".parquet"):
            return spark.read.parquet(table)
        return spark.read.table(table)

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


class IcebergTableAdapter(TableAdapter):
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
