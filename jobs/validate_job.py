"""spark-submit entrypoint for the validation pipeline (north_rule launch
mode: ``spark-submit --py-files dist/pacts_spark.zip jobs/validate_job.py``).

On a cluster the SparkSession comes from spark-submit's conf (master,
executor counts, memory, shuffle partitions) plus the engine's settings
from ``pacts_spark.session.ENGINE_CONF`` (AQE, Arrow, UTC, the zstd
block codec for shuffle, broadcast and spill), each filled in only where
the submit conf does not set it: a ``--conf`` value wins. The same file
runs unchanged at N and 4N executors — scaling is a submit-time concern,
never a code change.

Usage (local smoke):
  python tools/package_pyfiles.py
  spark-submit --master 'local[8]' \\
    --conf spark.sql.shuffle.partitions=16 \\
    --py-files dist/pacts_spark.zip jobs/validate_job.py \\
    --events /root/testdata/sf0.001/events.parquet \\
    --out /tmp/pacts_out --schemas ./schemas --run-id demo --seq 1

Cluster shape (documented, not runnable in this sandbox):
  spark-submit --master yarn --deploy-mode cluster \\
    --num-executors 250 --executor-cores 4 --executor-memory 16g \\
    --conf spark.sql.shuffle.partitions=2000 \\
    --py-files dist/pacts_spark.zip jobs/validate_job.py \\
    --transcripts iceberg.prod.transcripts --out s3://.../validation \\
    --manifest s3://.../manifest --run-id nightly-2026-08-17 --seq 42
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="pacts_spark validation run")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--events", help="events parquet path (derive transcripts)")
    src.add_argument("--transcripts", help="transcripts table/parquet path")
    ap.add_argument("--out", required=True, help="output dir (violations/, verdicts/)")
    ap.add_argument("--schemas", required=True, help="schema root dir")
    ap.add_argument("--manifest", help="resume manifest path (optional)")
    ap.add_argument(
        "--table-format",
        default="parquet",
        choices=["parquet", "iceberg"],
        help="table adapter: pending-scan/replace-where seam "
        "(iceberg requires the runtime jar + catalog conf)",
    )
    ap.add_argument("--category", default="transcripts")
    ap.add_argument("--name", default="turn")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--seq", type=int, required=True, help="monotone sequence (never now())")
    args = ap.parse_args()

    from pacts_spark.session import submit_session

    spark = submit_session(f"pacts-validate-{args.run_id}")

    from pacts_spark.checkpoint import ValidationManifest
    from pacts_spark.engine import PactsEngine
    from pacts_spark.registry import SchemaRegistry
    from pacts_spark.runner import ValidationRun
    from pacts_spark.transcripts import (
        conversations_dim,
        tools_dim,
        transcripts_from_events,
    )

    reg = SchemaRegistry(domain="bees", version="v1", schema_root=args.schemas)
    reg.load_dir(args.schemas)
    manifest = ValidationManifest(args.manifest) if args.manifest else None
    run = ValidationRun(
        PactsEngine(reg), manifest=manifest, category=args.category, name=args.name
    )

    from pacts_spark.table import get_adapter

    adapter = get_adapter(args.table_format, spark)
    pending_filtered = False
    if args.events:
        events = spark.read.parquet(args.events)
        transcripts = transcripts_from_events(events)
        convs = conversations_dim(events)
    else:
        if manifest is not None:
            # resume: validated partitions pruned AT THE SOURCE when the
            # table is physically partitioned (PartitionFilters / Iceberg
            # metadata pruning) — see pacts_spark/table.py
            transcripts = adapter.scan_pending(spark, args.transcripts, manifest)
            pending_filtered = True
        else:
            transcripts = adapter.read(spark, args.transcripts)
        convs = None

    out = run.run_and_write(
        spark,
        transcripts,
        args.out,
        conversations=convs,
        tools=tools_dim(spark),
        run_id=args.run_id,
        seq=args.seq,
        pending_filtered=pending_filtered,
    )
    n_viol = spark.read.parquet(out["violations_path"]).count()
    print(json.dumps({**out, "n_violations": n_viol, "run_id": args.run_id}))
    spark.stop()


if __name__ == "__main__":
    main()
