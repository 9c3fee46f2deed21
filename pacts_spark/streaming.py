"""Structured Streaming validation: the AMQP consume-validate path
re-expressed (TestListener.handleMessage, java/src/test/.../TestListener.java:33-57;
produce side SpringBootMessageTest.java:54-78).

The reference consumes JSON envelope bytes from RabbitMQ, parses,
validates, and projects fields. Spark-first equivalent: any streaming
source (file/kafka/rate) → ``from_json`` envelope parse →
the SAME compiled validation projection used in batch (the compiler is
source-agnostic: a Column tree doesn't care whether the plan is batch or
micro-batch) → fork valid rows to the sink and violations to the
violations sink via ``foreachBatch``.

Late/out-of-order turns: watermark on ``ts`` bounds state for any
windowed aggregation (per-partition verdict over event-time windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pacts_spark.engine import PactsEngine


class FileStreamSource:
    """Default streaming source: newline-delimited JSON envelope files —
    one raw payload string per line, surfaced as the single column
    ``value``. That is the same message shape the reference consumes
    from its broker (bytes per message, TestListener.java:33-57), and
    the same shape :class:`KafkaStreamSource` produces — so the
    parse → validate → fork pipeline downstream is source-agnostic and
    broker parity is a constructor choice (the IcebergTableAdapter
    pattern, table.py)."""

    format = "file"

    def __init__(self, options: dict[str, str] | None = None) -> None:
        self.options = dict(options or {})

    def load(self, spark: SparkSession, location: str) -> DataFrame:
        reader = spark.readStream
        for k, v in self.options.items():
            reader = reader.option(k, v)
        return reader.text(location)


class KafkaStreamSource:
    """Kafka implementation of the same seam: subscribes to a topic and
    normalizes records to the one-string-column ``value`` shape.
    Construction-time probe refuses loudly when the Kafka connector is
    not on the classpath (this sandbox has no broker or connector), so a
    misconfigured cluster fails at wiring time, not mid-run — mirroring
    IcebergTableAdapter (table.py:118)."""

    format = "kafka"

    def __init__(
        self,
        spark: SparkSession,
        bootstrap_servers: str,
        options: dict[str, str] | None = None,
    ) -> None:
        from pacts_spark.session import jvm_class_present

        # probe SPARK's classloader, not the system one: runtime-added
        # jars are invisible to a bare Class.forName (review finding)
        if not jvm_class_present(
            spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        ):
            raise RuntimeError(
                "Kafka connector not on the classpath; add the "
                "spark-sql-kafka-0-10 package "
                "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
            )
        self.bootstrap_servers = bootstrap_servers
        self.options = dict(options or {})

    def load(self, spark: SparkSession, topic: str) -> DataFrame:
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("subscribe", topic)
        )
        for k, v in self.options.items():
            reader = reader.option(k, v)
        return reader.load().select(
            F.col("value").cast("string").alias("value")
        )


def get_stream_source(fmt: str, spark: SparkSession | None = None, **kwargs):
    """Config-switchable stream source (``file`` default, ``kafka`` for
    broker parity) — the consume analogue of table.get_adapter."""
    if fmt == "file":
        return FileStreamSource(**kwargs)
    if fmt == "kafka":
        if spark is None:
            raise ValueError("kafka source needs the SparkSession (probe)")
        return KafkaStreamSource(spark, **kwargs)
    raise ValueError(f"unknown stream source: {fmt!r}")


def consume(
    engine: PactsEngine,
    source,
    spark: SparkSession,
    location: str,
    category: str,
    name: str,
    payload_col: str = "value",
) -> DataFrame:
    """The reference's consume loop (TestListener.java:33-57: receive
    bytes → parse JSON → validate → project) over any source adapter:
    load the raw-payload stream and attach the JSON-mode validation
    projection. Batch/stream symmetric — the compiled validator is the
    same Column tree either way."""
    return engine.validate_data(
        source.load(spark, location), category, name, json_col=payload_col
    )


def windowed_verdicts(
    validated: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-event-time-window pass/fail verdict with bounded state:
    watermark drops turns later than ``watermark``; the aggregation state
    per window is a handful of counters (streaming-safe partial aggs)."""
    return (
        validated.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(
            F.every("valid").alias("pass"),
            F.sum(F.size("errors")).alias("n_violations"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "pass",
            "n_violations",
            "n_rows",
        )
    )


def conversation_state_verdicts(
    turns: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    ttl_ms: int = 2 * 3600 * 1000,
) -> DataFrame:
    """CUSTOM STATEFUL OPERATOR (applyInPandasWithState): per-conversation
    running turn-order verdict across micro-batches — the check that is
    inexpressible as a windowed aggregate because it needs ordered state
    PER CONVERSATION that outlives any single batch (turn_idx regressions
    and duplicates across batch boundaries).

    State per conv_id: (max_turn_idx, n_turns, n_regressed, last_ts_ms).
    Each micro-batch that touches a conversation emits an UPDATE row with
    the cumulative counts; when the event-time watermark passes the
    conversation's last activity + ``ttl_ms`` the state times out, emits a
    FINAL row (``is_final=true``) and is dropped — state volume is bounded
    by the number of ACTIVE conversations, not total turns, which is what
    makes the operator viable at 10^12-turn scale.

    In-batch order is deterministic: turns are processed in ascending
    (``turn_idx``, ts) per conversation (repo invariant: no
    partition-order dependence in any output). A turn "regresses" if its
    turn_idx is <= the running maximum seen before it.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, n_turns long, max_turn_idx long, "
        "n_regressed long, monotonic boolean, is_final boolean"
    )
    state_schema = "max_turn_idx long, n_turns long, n_regressed long, last_ts_ms long"

    def update(key, pdfs, state: GroupState):
        conv_id = key[0]
        if state.hasTimedOut:
            mx, n, reg, _last = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "conv_id": conv_id,
                        "n_turns": n,
                        "max_turn_idx": mx,
                        "n_regressed": reg,
                        "monotonic": reg == 0,
                        "is_final": True,
                    }
                ]
            )
            return
        mx, n, reg, last_ms = state.get if state.exists else (-1, 0, 0, 0)
        for pdf in pdfs:
            if pdf.empty:
                continue
            # EVENT-TIME order (ts, turn_idx), not turn order: sorting by
            # turn_idx made in-batch out-of-order turns invisible, so the
            # same stream chunked differently gave different n_regressed
            # (batch-boundary nondeterminism). In ts order the count is
            # invariant to any chunking that respects arrival time.
            pdf = pdf.sort_values([ts_col, "turn_idx"], kind="mergesort")
            t = pdf["turn_idx"].to_numpy()
            # running max BEFORE each element, seeded with the cross-batch
            # max — all vectorized (a per-row list comp here cost ~10 s per
            # 4M-turn batch; round-4 lesson: vectorize pandas-UDF row work)
            import numpy as np

            prev = np.maximum(
                pd.Series(t).cummax().shift(1, fill_value=mx).to_numpy(), mx
            )
            reg += int((t <= prev).sum())
            mx = max(mx, int(t.max()))
            n += len(pdf)
            # naive-timestamp → epoch ms WITHOUT local-tz interpretation
            # (session tz is UTC; pandas .timestamp() would re-interpret a
            # naive value in the host tz)
            batch_last = int(
                pdf[ts_col].max().to_datetime64().astype("datetime64[ms]").astype("int64")
            )
            last_ms = max(last_ms, batch_last)
        state.update((mx, n, reg, last_ms))
        # expire when the watermark passes last activity + ttl (the
        # timestamp must sit beyond the current watermark or Spark rejects)
        state.setTimeoutTimestamp(
            max(last_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            [
                {
                    "conv_id": conv_id,
                    "n_turns": n,
                    "max_turn_idx": mx,
                    "n_regressed": reg,
                    "monotonic": reg == 0,
                    "is_final": False,
                }
            ]
        )

    return (
        turns.withWatermark(ts_col, watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def fork_sinks(
    validated: DataFrame,
    valid_path: str,
    violations_path: str,
    checkpoint_dir: str,
    key_cols: list[str] = ("conv_id", "turn_idx"),
    adapter=None,
):
    """writeStream.foreachBatch gate: valid rows → output table, violations
    → violations table (the streaming analogue of sendValidatedData's
    valid/invalid fork, PactsService.java:106-122).

    Exactly-once: each micro-batch writes into its own ``batch_id=N``
    partition via the table adapter's REPLACE-WHERE (dynamic partition
    overwrite on parquet, ``overwritePartitions`` on Iceberg) — a replayed
    batch (failure between sink write and checkpoint commit) overwrites
    exactly its own partition instead of appending duplicates, making the
    sink idempotent per batch id."""
    if adapter is None:
        from pacts_spark.table import ParquetTableAdapter

        adapter = ParquetTableAdapter()

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            adapter.replace_where(
                batch.filter(F.col("valid"))
                .drop("errors", "valid", "error_message")
                .withColumn("batch_id", F.lit(batch_id)),
                valid_path,
                ["batch_id"],
            )
            adapter.replace_where(
                batch.filter(~F.col("valid"))
                .select(*key_cols, F.posexplode("errors").alias("error_idx", "violation"))
                .withColumn("batch_id", F.lit(batch_id)),
                violations_path,
                ["batch_id"],
            )
        finally:
            batch.unpersist()

    return (
        validated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
