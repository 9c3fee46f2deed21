"""ValidationRun — the end-to-end pipeline (SURVEY.md §3.3 Spark lifecycle).

source scan (pending partitions only) → fused row-check projection →
engine checks (uniqueness on (conv_id, turn_idx), referential integrity) →
violations (schema + engine-check rows, range-sorted) / per-partition
verdicts → stats, drift, gaps → manifest record (``run_and_write``).

One verdict definition, ``_verdicts``: a partition passes iff none of its
rows has a schema error and no engine-check row falls in it. The row
checks aggregate in ``engine.partition_verdicts``; the engine-check rows
are counted per part and joined null-safely, so a NULL-ts partition
(part NULL) keeps its uniqueness/RI rows — the partition-level
counterpart of the null-safe key semantics of the uniqueness check.

Shuffles: uniqueness (hashed phase-1 groupBy + candidate re-group), the
verdict groupBys (partition-keyed, AQE-coalesced), stats (ONE groupBy on
(part, column) over the rows exploded per column), drift (ONE per-part
role histogram, read as both the current and the baseline input; its
groupBy(part), the baseline reduced to one broadcast row, and the output
sort), the lag window (conv-keyed) and the violations range sort. RI
joins are broadcast. Every output is a separate action that re-reads the
input, so production input should be a materialized table, not an
expensive derivation.

A relational ``ValidationRun`` runs no Python; Python runs only in
JSON-mode/envelope validation, ``pattern`` checks and the datapipe
kernels. Literal frames on the run's path (``tools_dim``, an unwritten
manifest) are JVM ``LocalRelation``s (``session.local_frame``), not
``createDataFrame`` lists, whose rows pass through Python workers on
every action. On perfbench ``batch_full`` (4 cores, 10 alternating
pairs) that cut the median peak RSS from 1,703 to 1,364 MB and the
median CPU from 12.0 to 10.1 s.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pacts_spark.checkpoint import ValidationManifest
from pacts_spark.checks import (
    category_histogram,
    column_stats,
    drift_scores,
    gap_quantiles,
    ri_violations,
    uniqueness_violations,
)
from pacts_spark.engine import PactsEngine


@dataclass
class RunResult:
    validated: DataFrame
    violations: DataFrame
    verdicts: DataFrame
    stats: DataFrame
    drift: DataFrame
    gaps: DataFrame


def day_part(ts_col: str = "ts") -> Column:
    """days(ts) partition expression (FIXTURES.md §1 partitioning).

    Stays DateType on purpose: casting to string per row routes every row
    through java.time's DateTimeFormatter (measured as the pipeline's top
    CPU consumer at 4M rows). Group/join on the 4-byte date; stringify
    only tiny aggregated outputs (checkpoint.record does)."""
    return F.to_date(F.col(ts_col))


class ValidationRun:
    def __init__(
        self,
        engine: PactsEngine,
        manifest: ValidationManifest | None = None,
        category: str = "transcripts",
        name: str = "turn",
    ) -> None:
        self.engine = engine
        self.manifest = manifest
        self.category = category
        self.name = name

    def _verdicts(self, validated: DataFrame, checks: DataFrame) -> DataFrame:
        """Per-partition verdict from the validated rows and the engine-check
        violation rows (``checks``: one uniqueness or RI row per violation,
        ``part`` column)."""
        rows = self.engine.partition_verdicts(validated, day_part())
        counts = checks.groupBy(F.col("part").alias("check_part")).agg(
            F.count(F.lit(1)).alias("n_check")
        )
        return (
            rows.join(counts, rows["part"].eqNullSafe(counts["check_part"]), "left")
            .fillna(0, subset=["n_check"])
            .select(
                "part",
                (F.col("pass") & (F.col("n_check") == 0)).alias("pass"),
                (F.col("n_violations") + F.col("n_check")).alias("n_violations"),
                "n_invalid_rows",
                "n_rows",
            )
        )

    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        conversations: DataFrame | None = None,
        tools: DataFrame | None = None,
        pending_filtered: bool = False,
    ) -> RunResult:
        part = day_part()

        # pending_filtered=True: the caller already excluded validated
        # partitions (a table adapter's partition-pruned scan_pending) —
        # don't anti-join a second time
        if self.manifest is not None and not pending_filtered:
            transcripts = self.manifest.filter_pending(spark, transcripts, part)

        # ---- row-level schema checks (one fused projection, no shuffle)
        validated = self.engine.validate_data(transcripts, self.category, self.name)
        row_viol = (
            validated.filter(F.size("errors") > 0)
            .select(
                "conv_id",
                "turn_idx",
                part.alias("part"),
                F.lit("schema").alias("check"),
                F.explode("errors").alias("violation"),
            )
        )

        # ---- engine checks, all in one (conv_id, turn_idx, part, check,
        #      violation) shape.
        # method="hash": phase-1 shuffle carries (8-byte hash, count)
        # instead of the string key tuple — measured 20% faster at 16M rows
        # locally and ~4x fewer shuffle bytes (the win grows with network
        # shuffle); map-side combine absorbs hot keys, exact tail verify.
        checks = [
            uniqueness_violations(
                transcripts, ["conv_id", "turn_idx"], method="hash"
            ).select(
                "conv_id", "turn_idx", part.alias("part"),
                F.lit("uniqueness").alias("check"), "violation",
            )
        ]
        if conversations is not None:
            checks.append(
                ri_violations(transcripts, conversations, "conv_id").select(
                    "conv_id", "turn_idx", part.alias("part"),
                    F.lit("referential_conv").alias("check"), "violation",
                )
            )
        if tools is not None:
            checks.append(
                ri_violations(transcripts, tools, "tool").select(
                    "conv_id", "turn_idx", part.alias("part"),
                    F.lit("referential_tool").alias("check"), "violation",
                )
            )
        engine_viol = reduce(DataFrame.unionByName, checks)

        # ONE repartitionByRange after the union (sorting each branch
        # separately would range-partition twice). The verdicts read the
        # unsorted engine-check union, so their action has no range exchange.
        violations = (
            row_viol.unionByName(engine_viol)
            .repartitionByRange("conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx", "check", "violation")
        )

        # ---- metrics
        stats = column_stats(
            transcripts,
            ["conv_id", "turn_idx", "role", "text", "tool"],
            partition_col=part,
        )
        # the per-part histogram is also the baseline: drift_scores sums
        # it over parts, so the input is scanned and aggregated once
        role_hist = category_histogram(transcripts, "role", part)
        drift = drift_scores(role_hist, role_hist)
        gaps = gap_quantiles(transcripts, partition_col=part)

        # NOTE: run() does NOT record to the manifest — recording before the
        # outputs are durably written would let a crash mark partitions
        # 'validated' whose verdict/violation rows were never persisted (a
        # resumed run would then skip them forever). Callers record AFTER
        # persisting outputs: run_and_write() does, or call
        # ``manifest.record(res.verdicts, ...)`` once your sinks commit.
        return RunResult(
            validated=validated,
            violations=violations,
            verdicts=self._verdicts(validated, engine_viol),
            stats=stats,
            drift=drift,
            gaps=gaps,
        )

    def run_and_write(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        out_dir: str,
        conversations: DataFrame | None = None,
        tools: DataFrame | None = None,
        run_id: str = "run-0",
        seq: int = 0,
        pending_filtered: bool = False,
    ) -> dict:
        """Production-shaped run of ``run()``: two actions, then the
        manifest record.

          action 1: write ``run().violations`` (all check branches evaluate
                    inside ONE job);
          action 2: write the verdicts — ``_verdicts`` over run()'s
                    validated frame and the engine-check rows read back
                    from the WRITTEN violations, so no engine check runs
                    twice. Same definition, so the same rows, as
                    ``run().verdicts``.

        Returns {"violations_path", "verdicts_path"}.
        """
        res = self.run(
            spark,
            transcripts,
            conversations=conversations,
            tools=tools,
            pending_filtered=pending_filtered,
        )
        # manifest.record happens ONLY after both output writes succeed
        # (below) — see run()'s note on crash-safe resume ordering.
        vio_path = f"{out_dir}/violations"
        res.violations.write.mode("overwrite").parquet(vio_path)
        checks = spark.read.parquet(vio_path).filter(F.col("check") != "schema")
        verd_path = f"{out_dir}/verdicts"
        self._verdicts(res.validated, checks).write.mode("overwrite").parquet(verd_path)
        if self.manifest is not None:
            self.manifest.record(
                spark.read.parquet(verd_path), run_id=run_id, seq=seq
            )
        return {"violations_path": vio_path, "verdicts_path": verd_path}
