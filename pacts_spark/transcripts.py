"""Transcripts table: the engine's primary input shape (BASELINE.json input_hint).

``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` — one row = one turn = one envelope ``data``
payload (SURVEY.md §1.3).

Two constructors:

1. :func:`transcripts_from_events` — the CANONICAL deterministic derivation
   from the driver's ``events`` table (no synthetic data). The byte-for-byte
   equivalent DuckDB SQL lives in ``__spark_entry__.TRANSCRIPTS_SQL`` so
   every downstream check is oracle-comparable. Violations are injected
   deterministically by the derivation itself (null text, duplicate
   turn_idx, orphan tool/conv) to exercise every check type.

2. :func:`generate_transcripts` — seeded synthetic generator with a skewed
   conversation and controlled violation rates for differential + skew
   tests (FIXTURES.md §1). Never used by the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pacts_spark.session import local_frame

ROLES = ["system", "user", "assistant", "tool"]

# transcript-turn pact schema (FIXTURES.md §2.6) — validated through the
# same compiler as the reference's payload schemas
TURN_SCHEMA = {
    "type": "object",
    "properties": {
        "conv_id": {"type": "string"},
        "turn_idx": {"type": "integer"},
        "role": {"type": "string"},
        "text": {"type": "string"},
        "tool": {"type": "string"},
        "ts": {"type": "string"},
    },
    "required": ["conv_id", "turn_idx", "role", "text", "ts"],
}


def transcripts_from_events(events: DataFrame) -> DataFrame:
    """Canonical events → transcripts derivation (deterministic, pure
    built-ins; DuckDB twin in __spark_entry__.TRANSCRIPTS_SQL).

    Injected violations (each exercised check finds real rows):
    - ``text`` NULL where ``props = '{"k": 0}'``       → required-field check
    - duplicate ``turn_idx`` where ``event_id % 97 = 0`` → uniqueness check
    - ``tool`` ids mod 7 vs a 5-tool dim               → referential check
    """
    # NULLS LAST pinned: Spark defaults nulls-first ASC, DuckDB (the twin)
    # nulls-last — an unpinned NULL ts/event_id would get turn_idx 1 here
    # and turn_idx n in TRANSCRIPTS_SQL, poisoning every downstream oracle.
    # (event_type, props) are the FINAL keys so the order is TOTAL over
    # the OUTPUT-DETERMINING columns: a duplicate event_id at a tied ts
    # (poisoned-corpus case) would otherwise take per-run / per-engine
    # arbitrary turn ranks. event_type determines role/tool and props
    # determines text; rows tied on all four keys are identical in every
    # output column, so their order cannot matter
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(),
        F.col("event_id").asc_nulls_last(),
        F.col("event_type").asc_nulls_last(),
        F.col("props").asc_nulls_last(),
    )
    rn = F.row_number().over(w)
    return events.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        F.when(F.col("event_id") % 97 == 0, F.lit(1))
        .otherwise(rn)
        .cast("int")
        .alias("turn_idx"),
        F.when(F.col("event_type") == "signup", F.lit("system"))
        .when(F.col("event_type") == "view", F.lit("user"))
        .when(F.col("event_type") == "error", F.lit("tool"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.nullif(F.col("props"), F.lit('{"k": 0}')).alias("text"),
        F.when(
            F.col("event_type") == "error",
            F.concat(F.lit("tool-"), (F.col("event_id") % 7).cast("string")),
        ).alias("tool"),
        F.col("ts").alias("ts"),
    )


def conversations_dim(events: DataFrame) -> DataFrame:
    """``conversations(conv_id)`` dim for referential checks; deliberately
    excludes ``user_id % 29 = 7`` so the transcripts contain orphan convs."""
    return (
        events.filter(F.col("user_id") % 29 != 7)
        .select(
            F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id")
        )
        .distinct()
    )


def tools_dim(spark: SparkSession) -> DataFrame:
    """``tools(tool)`` dim: tool-0..tool-4; derivation emits ids mod 7 so
    tool-5/tool-6 are orphans. A ``VALUES`` relation, so the run's RI
    broadcast of it starts no Python worker."""
    return local_frame(spark, "tool string", [(f"tool-{i}",) for i in range(5)])


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 200,
    mean_turns: int = 20,
    seed: int = 42,
    skew_frac: float = 0.3,
    null_text_rate: float = 0.02,
    dup_rate: float = 0.01,
    orphan_conv_rate: float = 0.02,
) -> DataFrame:
    """Seeded synthetic transcripts with one skewed conversation holding
    ``skew_frac`` of all rows (FIXTURES.md §1) — for differential and
    skew/salting tests. Deterministic: stdlib ``random.Random(seed)``
    driver-side for the small shape parameters, all row content derived
    from ids (no RNG in executors)."""
    import random

    rng = random.Random(seed)
    total_normal = n_convs * mean_turns
    skew_rows = int(total_normal * skew_frac / (1 - skew_frac))
    turn_counts = [max(1, int(rng.expovariate(1.0 / mean_turns))) for _ in range(n_convs)]
    turn_counts[0] = skew_rows  # conversation 0 is the whale

    rows = []
    base_ts = 1735689600  # 2025-01-01T00:00:00Z — fixed epoch, no now()
    for ci, n_turns in enumerate(turn_counts):
        conv = f"conv-{ci}"
        orphan = rng.random() < orphan_conv_rate
        if orphan:
            conv = f"ghost-{ci}"
        for t in range(n_turns):
            h = (ci * 1_000_003 + t * 7919) % 10_000
            role = ROLES[h % 4]
            text = None if (h % 10_000) < null_text_rate * 10_000 else f"turn {t} of {conv}: payload {h}"
            tool = f"tool-{h % 7}" if role == "tool" else None
            turn_idx = 1 if (h % 10_000) < dup_rate * 10_000 and t > 0 else t + 1
            rows.append(
                (conv, turn_idx, role, text, tool, base_ts + ci * 86400 + t * 60 + h % 30)
            )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, epoch long"
    )
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.timestamp_seconds("epoch").alias("ts"),
    )
