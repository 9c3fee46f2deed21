"""Checkpointed resume: per-partition lineage + metrics manifest.

Lifts the reference's schema-cache idea (parse once, skip on hit —
SchemaLoader.java:82-95) from schemas to RUN STATE: a manifest table keyed
by table partition records (status, metrics, run_id, lineage); a restarted
run keeps the rows ``pending`` admits, the one predicate of every resume
path (``ValidationRun.run``, both adapters' ``scan_pending``; north_star:
"interrupted runs resume skipping validated partitions").

Storage: this sandbox has no Iceberg jars, so the manifest is an
append-only parquet directory — each ``record()`` writes new files (atomic
at file granularity; readers take the LATEST status per partition by
``finished_seq``). In production this is an Iceberg table::

    CREATE TABLE catalog.db.validation_manifest (
      part string, status string, n_rows bigint, n_violations bigint,
      pass boolean, run_id string, lineage string, finished_seq bigint)
    USING iceberg PARTITIONED BY (run_id)

and ``record()``'s append + latest-seq-wins read carries over unchanged
(re-recording stays idempotent without a MERGE) — only the reader/writer
format string differs.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pacts_spark.session import local_frame

MANIFEST_SCHEMA = (
    "part string, status string, n_rows long, n_violations long, "
    "pass boolean, run_id string, lineage string, finished_seq long"
)


def day_part(ts_col: str = "ts") -> Column:
    """days(ts) partition expression (FIXTURES.md §1 partitioning).

    Stays DateType on purpose: casting to string per row routes every row
    through java.time's DateTimeFormatter (measured as the pipeline's top
    CPU consumer at 4M rows). Group and filter on the 4-byte date;
    stringify only tiny aggregated outputs (``record`` does)."""
    return F.to_date(F.col(ts_col))


class ValidationManifest:
    def __init__(self, path: str | Path) -> None:
        self.path = str(path)

    def _exists(self) -> bool:
        p = Path(self.path)
        return p.exists() and any(p.glob("*.parquet"))

    def read(self, spark: SparkSession) -> DataFrame:
        if not self._exists():
            return local_frame(spark, MANIFEST_SCHEMA)
        return spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def validated_parts(self, spark: SparkSession) -> DataFrame:
        """Latest-status-wins per partition; only 'validated' survive."""
        m = self.read(spark)
        latest = m.groupBy("part").agg(F.max("finished_seq").alias("finished_seq"))
        return (
            m.join(latest, ["part", "finished_seq"])
            .filter(F.col("status") == "validated")
            .select("part")
            .distinct()
        )

    def pending(self, spark: SparkSession, part: Column) -> Column:
        """Predicate on rows whose partition ``part`` is not validated.

        Collects the validated partitions (one row each) as literals that
        ANSI coercion casts once to ``part``'s type: a DATE ``part`` plans
        as ``cast(ts as date) IN (<date literals>)``, never a per-row
        string cast. Over a physical partition column it is a scan
        PartitionFilter (Iceberg: partition metadata), so validated
        partitions' files are never opened. NULL-safe: a bare ``~isin`` is
        NULL for a NULL ``part``, and ``validated_parts`` never lists NULL
        (its join drops it), else ``NOT IN (..., NULL)`` drops every row.
        """
        done = [r.part for r in self.validated_parts(spark).collect()]
        if not done:
            return F.lit(True)
        return part.isNull() | ~part.isin(done)

    def record(
        self,
        verdicts: DataFrame,
        run_id: str,
        seq: int,
        lineage: str = "",
    ) -> None:
        """Append per-partition outcomes. ``seq`` is a caller-supplied
        monotone sequence (injected, never now() — SURVEY.md §7(d));
        latest-seq-wins on read makes re-recording idempotent."""
        out = verdicts.select(
            F.col("part").cast("string").alias("part"),
            F.when(F.col("pass"), F.lit("validated"))
            .otherwise(F.lit("failed"))
            .alias("status"),
            F.col("n_rows").cast("long"),
            F.col("n_violations").cast("long"),
            F.col("pass"),
            F.lit(run_id).alias("run_id"),
            F.lit(lineage).alias("lineage"),
            F.lit(seq).cast("long").alias("finished_seq"),
        )
        out.write.mode("append").parquet(self.path)
