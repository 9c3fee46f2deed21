"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the host's usable cores).

Prints ONE JSON line:
  {"metric": "validated turns/sec", "value": N, "unit": "turns/sec",
   "queries": {...per-query wall seconds...}, "total_query_sec": S,
   "sf": ..., ...}

The headline metric follows BASELINE.json: validated turns/sec = rows of
the transcripts table fully processed by the flagship validation run
(row checks + uniqueness + RI + verdicts) divided by its wall time.
Run with SPARK_GRAFT_CPUS at two levels on the same input to compare the
headline pipeline's throughput across core counts (BENCH/BASELINE.md holds
the earlier 8- vs 32-core record).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pacts_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "validate_transcripts",
    "transcript_violations",
    "partition_verdicts",
    "validate_orders",
    "validate_events_json",
    "validate_envelopes_mixed",
    "envelope_roundtrip",
    "colstats_transcripts",
    "drift_roles",
    "gap_quantiles",
    "uniqueness_lineitem",
    "jaccard_pairs_documents",
    "minhash_pairs_documents",
    "cosine_nn_embeddings",
    "neardup_embeddings",
    "ivf_cosine_nn",
    "ivf_trained_nn",
    "ann_nn_embeddings",
    "lsh_neardup_embeddings",
    "sample_documents_stratified",
    "curation_pipeline",
    "windowed_verdicts",
    "validate_transcripts_strict",
    # round 4
    "embed_then_ann",
    "drift_rebalanced_sample",
    "conversation_state_finals",
    "repetition_stats_documents",
    "decontamination_documents",
    "pii_scrub_documents",
    "pack_sequences_documents",
    "chunk_dedup_documents",
    "top_ngrams_documents",
    "incremental_dedup_documents",
    "global_shuffle_documents",
    "shard_assign_documents",
    "mixture_upsample_documents",
    "unigram_logprob_documents",
    "leakage_safe_split_documents",
    "sessionize_events",
    "session_transcripts_events",
    "quality_head_documents",
    "semantic_dedup_embeddings",
    "session_windows_native_events",
    "token_blocks_documents",
    "duplicate_spans_documents",
    "dsir_logratio_documents",
    "pretraining_tail_pipeline",
    "asof_last_error_events",
    "incident_window_counts",
    "time_rollup_events",
    "bm25_topk_documents",
    "kmeans_clusters_embeddings",
    "bigram_logprob_documents",
    "domain_cap_documents",
    "sequence_violations_transcripts",
    "pq_topk_embeddings",
    "vector_stats_embeddings",
    "validate_transcripts_conditional",
    "anomalous_partitions_transcripts",
    "json_type_histogram_transcripts",
    "conversation_shape_transcripts",
    "inferred_schema_transcripts",
    "centroid_drift_embeddings",
    "vocab_merges_documents",
    "conversation_neardup_transcripts",
    "sft_pairs_transcripts",
    "preference_pairs_transcripts",
    "quantize_int8_embeddings",
    "embedding_decontamination",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)

    spark = get_spark(app="pacts-bench", cores=cores, shuffle_partitions=max(cores, 16))
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    timings: dict[str, float] = {}

    # warm the JVM + parquet footers with a cheap count, and the
    # Python-worker/Arrow path with a no-op applyInPandas (first pandas-UDF
    # stage pays ~4 s of worker startup once per session — a fixed cost
    # amortized in production, not a property of any one operator)
    spark.read.parquet(f"{sf_dir}/events.parquet").count()

    def _warm(p):
        import numpy  # noqa: F401 — warm the worker's numpy import too

        return p

    spark.range(4096).groupBy(F.col("id") % (4 * cores)).applyInPandas(
        _warm, "id long"
    ).count()

    for name in HEADLINE:
        fn = qs[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()  # full materialization of the result
        timings[name] = round(time.perf_counter() - t0, 3)

    # headline: full validation pipeline throughput on a MATERIALIZED
    # transcripts table — BASELINE.json's metric is turns/sec over the
    # (Iceberg) transcripts table, i.e. a table scan, not the test
    # fixture's events->transcripts window derivation. Events are
    # replicated deterministically (replica shift keeps conversations
    # distinct and violation patterns intact) to ~4M turns so the
    # measurement is compute-bound over the fixed per-action driver term.
    import shutil
    import tempfile

    from pacts_spark.registry import SchemaRegistry
    from pacts_spark.runner import ValidationRun
    from pacts_spark.transcripts import tools_dim, transcripts_from_events

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    target = int(os.environ.get("SPARK_GRAFT_HEADLINE_TURNS", "4000000"))
    replicas = max(1, target // max(n_events, 1))
    base = tempfile.mkdtemp(prefix="bench_headline_")
    try:
        ev0 = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev = (
            ev0.withColumn(
                "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
            )
            # stride must exceed the global max user_id (1499 at sf0.1) or
            # replicas collide and conversations merge — 1e6 matches the
            # event_id scheme and is safely above any sf's user range
            .withColumn(
                "user_id", F.col("user_id") + F.col("rep").cast("long") * 1_000_000
            )
            .withColumn(
                "event_id",
                F.col("event_id") + F.col("rep").cast("long") * 1_000_000_000,
            )
            .drop("rep")
        )
        transcripts_from_events(ev).repartition(max(cores, 16)).write.mode(
            "overwrite"
        ).parquet(f"{base}/transcripts")
        (
            ev.filter(F.col("user_id") % 29 != 7)
            .select(
                F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias(
                    "conv_id"
                )
            )
            .distinct()
            .repartition(2)
            .write.mode("overwrite")
            .parquet(f"{base}/convs")
        )
        t = spark.read.parquet(f"{base}/transcripts")
        convs = spark.read.parquet(f"{base}/convs")
        n_turns = t.count()
        run = ValidationRun(entrymod._engine())
        tools = tools_dim(spark)

        def pipeline():
            res = run.run(spark, t, conversations=convs, tools=tools)
            res.violations.write.format("noop").mode("overwrite").save()
            res.verdicts.collect()

        pipeline()  # warm-up: plan codegen + page cache
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            pipeline()
            best = min(best, time.perf_counter() - t0)
        pipeline_sec = best
        turns_per_sec = n_turns / pipeline_sec if pipeline_sec > 0 else 0.0
    finally:
        shutil.rmtree(base, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    # headline {metric, value, unit} IS the throughput (BASELINE.json
    # metric); per-query wall seconds live in their own fields
    print(
        json.dumps(
            {
                "metric": "validated turns/sec",
                "value": round(turns_per_sec, 1),
                "unit": "turns/sec",
                "queries": timings,
                "sf": sf,
                "cores": cores,
                "n_turns": n_turns,
                "pipeline_sec": round(pipeline_sec, 3),
                "turns_per_sec": round(turns_per_sec, 1),
                "total_query_sec": total,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
