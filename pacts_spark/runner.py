"""ValidationRun — the end-to-end pipeline (SURVEY.md §3.3 Spark lifecycle).

source scan (pending partitions only) → fused row-check projection →
the flagged frame (the validated rows plus one flag per engine check:
``dup_count`` for uniqueness on (conv_id, turn_idx), one boolean per
referential-integrity dimension) → violations (the failing rows'
(check, violation) pairs, range-sorted) / per-partition verdicts →
stats, drift, gaps → manifest record (``run_and_write``).

One verdict definition: a partition passes iff none of its rows has a
schema error or a raised flag. The verdicts are one groupBy(part) of the
flagged frame, so a NULL-ts partition (part NULL) keeps its
uniqueness/RI violations — the partition-level counterpart of the
null-safe key semantics of the uniqueness check.

Shuffles: uniqueness (one groupBy on (conv_id, turn_idx), once per run:
``run()`` local-checkpoints the duplicate set, and both check outputs
broadcast that one set, so each reads the input once), the verdict
groupBy (partition-keyed, AQE-coalesced), stats (ONE groupBy on
(part, column) over the rows exploded per column), drift (ONE per-part
role histogram, read as both the current and the baseline input and
scored in one task), the lag window (conv-keyed) and the violations
range sort. RI flags are broadcast existence joins. Every output is a
separate action that re-reads the input, so production input should be
a materialized table, not an expensive derivation. The checkpoint is
the one exception: ``run()`` itself runs the duplicate-key groupBy's map
stage (AQE materializes a shuffle when the checkpoint's RDD is built),
and the checkpoint's blocks live on the executors as long as the
``RunResult`` frames that read them. A local checkpoint is not
recomputed: an executor lost between the two check outputs' writes
takes its blocks along, and the second write fails instead of
re-running the groupBy.

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

from pacts_spark.checkpoint import ValidationManifest, day_part
from pacts_spark.checks import (
    category_histogram,
    column_stats,
    drift_scores,
    gap_quantiles,
)
from pacts_spark.checks.referential import ri_message
from pacts_spark.checks.uniqueness import (
    duplicate_keys,
    duplicate_message,
    flag_duplicates,
)
from pacts_spark.engine import PactsEngine


# the uniqueness key of the transcripts table
KEYS = ["conv_id", "turn_idx"]


@dataclass
class RunResult:
    violations: DataFrame
    verdicts: DataFrame
    stats: DataFrame
    drift: DataFrame
    gaps: DataFrame


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

    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        conversations: DataFrame | None = None,
        tools: DataFrame | None = None,
        pending_filtered: bool = False,
    ) -> RunResult:
        """The five outputs' plans over the pending partitions of
        ``transcripts``. Building them runs one Spark job: the map stage of
        the duplicate-key groupBy, whose result is local-checkpointed so
        that violations and verdicts share one duplicate set. Each output
        runs when the caller acts on it (``run_and_write`` writes the two
        check outputs)."""
        part = day_part()

        # pending_filtered=True: the caller already excluded validated
        # partitions (a table adapter's scan_pending, possibly on a
        # physical partition column that need not equal day_part)
        if self.manifest is not None and not pending_filtered:
            transcripts = transcripts.filter(self.manifest.pending(spark, part))

        # ---- row-level schema checks (one fused projection, no shuffle)
        validated = self.engine.validate_data(transcripts, self.category, self.name)

        # ---- the flagged frame: the validated rows plus one flag per engine
        #      check, kept as (check, flag, message). Both check outputs
        #      derive from it; the duplicate set is checkpointed, so the
        #      key shuffle runs once per run and each output reads the
        #      input once.
        dups = duplicate_keys(validated, KEYS).localCheckpoint(eager=False)
        flagged = flag_duplicates(validated, KEYS, dups)
        checks = [("uniqueness", F.col("dup_count").isNotNull(), duplicate_message(KEYS))]
        # RI: one broadcast ExistenceJoin per dimension (a left-outer join
        # multiplies rows on a duplicate dim key; isin collects at plan
        # build). The outer key is qualified: a bare name that the dim's
        # lineage also holds resolves inside the subquery. The flags sit
        # over the join: over a Union input they fail to plan.
        for check, dim, key in (
            ("referential_conv", conversations, "conv_id"),
            ("referential_tool", tools, "tool"),
        ):
            if dim is not None:
                known = F.broadcast(dim.select(key))
                known = known.where(F.col(key) == F.col(f"__f.{key}").outer())
                flagged = flagged.alias("__f").withColumn(
                    check, F.col(key).isNotNull() & ~known.exists()
                )
                checks.append((check, F.col(check), ri_message(key)))

        # violations: (check, violation) structs built for failing rows only
        # (most rows pass; structs built for them are CPU for nothing), one
        # inline, ONE range sort. No Filter: Catalyst pushes it below the
        # flags and plans each ExistenceJoin twice.
        def entry(check: str, violation: Column) -> Column:
            return F.struct(F.lit(check).alias("check"), violation.alias("violation"))

        failing = reduce(Column.__or__, [F.size("errors") > 0] + [f for _, f, _ in checks])
        found = F.concat(
            F.transform("errors", lambda e: entry("schema", e)),
            F.array_compact(F.array(*[F.when(f, entry(c, m)) for c, f, m in checks])),
        )
        violations = (
            flagged.select(
                "conv_id", "turn_idx", part.alias("part"), F.inline(F.when(failing, found))
            )
            .repartitionByRange("conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx", "check", "violation")
        )

        # verdicts: ONE groupBy(part) of the same frame; a partition passes
        # iff no check fails in it (the NULL-ts rows' part is NULL)
        n = reduce(Column.__add__, [F.size("errors")] + [f.cast("int") for _, f, _ in checks])
        verdicts = flagged.groupBy(part.alias("part")).agg(
            (F.sum(n) == 0).alias("pass"),
            F.sum(n).alias("n_violations"),
            F.sum((~F.col("valid")).cast("long")).alias("n_invalid_rows"),
            F.count(F.lit(1)).alias("n_rows"),
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
            violations=violations,
            verdicts=verdicts,
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
        """Production-shaped run of ``run()``: its duplicate-key job, then
        two actions, writing ``run().violations`` then ``run().verdicts``
        (each reads the input once and broadcasts the checkpointed
        duplicate set; the violations add their range-bound sampling),
        then the manifest record.

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
        verd_path = f"{out_dir}/verdicts"
        res.verdicts.write.mode("overwrite").parquet(verd_path)
        if self.manifest is not None:
            self.manifest.record(
                spark.read.parquet(verd_path), run_id=run_id, seq=seq
            )
        return {"violations_path": vio_path, "verdicts_path": verd_path}
