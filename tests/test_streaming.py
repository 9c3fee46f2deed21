"""Structured Streaming validation tests: file-source micro-batches through
the same compiled validation as batch; windowed verdicts with watermark."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F


def test_stream_validation_matches_batch(spark, engine, tmp_path):
    src = tmp_path / "src"
    out_valid = tmp_path / "valid"
    out_viol = tmp_path / "viol"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    rows = [
        {"conv_id": "c1", "turn_idx": 1, "slot": 1, "material": "P", "amount": 2.0},
        {"conv_id": "c1", "turn_idx": 2, "slot": None, "material": "P", "amount": 2.0},
        {"conv_id": "c2", "turn_idx": 1, "slot": 3, "material": None, "amount": None},
    ]
    (src / "batch0.json").write_text("\n".join(json.dumps(r) for r in rows))

    schema = (
        "conv_id string, turn_idx int, slot int, material string, amount double"
    )
    stream = spark.readStream.schema(schema).json(str(src))
    assert stream.isStreaming

    from pacts_spark.streaming import fork_sinks

    validated = engine.validate_data(stream, "inventory", "inventory_item")
    q = fork_sinks(
        validated, str(out_valid), str(out_viol), str(ckpt)
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    valid = spark.read.parquet(str(out_valid))
    viol = spark.read.parquet(str(out_viol))
    assert valid.count() == 1
    got = {(r.conv_id, r.turn_idx, r.violation) for r in viol.collect()}
    assert got == {
        ("c1", 2, "Required field missing: slot"),
        ("c2", 1, "Required field missing: material"),
        ("c2", 1, "Required field missing: amount"),
    }


def test_consume_seam_batch_equals_stream(spark, engine, tmp_path):
    """The source-adapter consume path (FileStreamSource →
    consume) must produce EXACTLY the rows the batch JSON-mode validator
    produces on the same payload lines — the seam adds routing, never
    semantics. Kafka differs only in the constructor (same value-column
    shape), so this parity is what broker parity rides on."""
    from pacts_spark.streaming import FileStreamSource, consume

    src = tmp_path / "payloads"
    src.mkdir()
    lines = [
        json.dumps({"conv_id": "c1", "turn_idx": 1, "slot": 1,
                    "material": "P", "amount": 2.0}),
        json.dumps({"conv_id": "c1", "turn_idx": 2, "slot": None,
                    "material": "P", "amount": 2.0}),
        json.dumps({"conv_id": "c2", "turn_idx": 1, "slot": 3,
                    "material": None, "amount": None}),
        "not json at all",
    ]
    (src / "m0.txt").write_text("\n".join(lines))

    source = FileStreamSource()
    validated = consume(
        engine, source, spark, str(src), "inventory", "inventory_item"
    )
    assert validated.isStreaming
    q = (
        validated.writeStream.format("memory")
        .queryName("consume_seam")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.value, r.valid, r.error_message)
        for r in spark.sql("select * from consume_seam").collect()
    }

    batch = engine.validate_data(
        spark.read.text(str(src)), "inventory", "inventory_item",
        json_col="value",
    )
    expected = {
        (r.value, r.valid, r.error_message) for r in batch.collect()
    }
    assert streamed == expected
    assert len(streamed) == 4  # the bad line yields a verdict, not a crash


def test_kafka_source_refuses_without_connector(spark):
    """Wiring-time failure contract, mirroring the Iceberg adapter: no
    connector on the classpath → clear RuntimeError at construction."""
    import pytest

    from pacts_spark.streaming import KafkaStreamSource

    has_kafka = True
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception:
        has_kafka = False

    if has_kafka:
        src = KafkaStreamSource(spark, "broker:9092")
        assert src.format == "kafka"
    else:
        with pytest.raises(RuntimeError, match="Kafka connector"):
            KafkaStreamSource(spark, "broker:9092")


def test_windowed_verdicts_batch_semantics(spark, engine):
    # windowed_verdicts is streaming-safe but semantics are testable on a
    # batch frame (same expressions)
    from pacts_spark.streaming import windowed_verdicts

    df = spark.createDataFrame(
        [
            ("c1", 1, "m", 2.0, 0),
            ("c1", None, "m", 2.0, 600),
            ("c2", 3, "m", 4.0, 7200),
        ],
        "conv_id string, slot int, material string, amount double, epoch long",
    ).select("*", F.timestamp_seconds("epoch").alias("ts"))
    validated = engine.validate_data(df, "inventory", "inventory_item")
    out = windowed_verdicts(validated, window="1 hour").orderBy("window_start").collect()
    assert len(out) == 2
    assert out[0]["pass"] is False and out[0].n_violations == 1
    assert out[1]["pass"] is True


def test_stream_restart_resumes_exactly_once(spark, engine, tmp_path):
    """Stop the stream, add data, restart from the SAME checkpoint: the
    restarted query must process only the new files, and re-delivery into
    the batch_id-partitioned sink must not duplicate earlier rows."""
    import json

    src = tmp_path / "src2"
    out_valid = tmp_path / "valid2"
    out_viol = tmp_path / "viol2"
    ckpt = tmp_path / "ckpt2"
    src.mkdir()

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    schema = "conv_id string, turn_idx int, slot int, material string, amount double"
    from pacts_spark.streaming import fork_sinks

    def run_available():
        stream = spark.readStream.schema(schema).json(str(src))
        validated = engine.validate_data(stream, "inventory", "inventory_item")
        q = fork_sinks(
            validated, str(out_valid), str(out_viol), str(ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    write_batch("b0.json", [
        {"conv_id": "c1", "turn_idx": 1, "slot": 1, "material": "P", "amount": 1.0},
        {"conv_id": "c1", "turn_idx": 2, "slot": None, "material": "P", "amount": 1.0},
    ])
    run_available()
    assert spark.read.parquet(str(out_valid)).count() == 1

    # second run with one NEW file — restart from checkpoint
    write_batch("b1.json", [
        {"conv_id": "c2", "turn_idx": 1, "slot": 2, "material": "Q", "amount": 2.0},
    ])
    run_available()
    valid = spark.read.parquet(str(out_valid))
    assert valid.count() == 2  # no re-processing of b0
    assert {r.conv_id for r in valid.collect()} == {"c1", "c2"}
    # batch ids are distinct partitions (idempotence unit)
    assert valid.select("batch_id").distinct().count() == 2
    # third run with NO new data: nothing changes
    run_available()
    assert spark.read.parquet(str(out_valid)).count() == 2


def test_redelivered_batch_does_not_duplicate_sink_rows(spark, engine, tmp_path):
    """A micro-batch delivered AGAIN under the same id (its offsets are
    logged but its commit is lost — a failure between the sink write and
    the checkpoint commit) must overwrite its own batch_id partition in
    both sink tables, not append a second copy."""
    from collections import Counter

    from pacts_spark.streaming import fork_sinks

    src = tmp_path / "src3"
    out_valid = tmp_path / "valid3"
    out_viol = tmp_path / "viol3"
    ckpt = tmp_path / "ckpt3"
    src.mkdir()
    for name, rows in (
        ("b0.json", [
            {"conv_id": "c1", "turn_idx": 1, "slot": 1, "material": "P", "amount": 1.0},
            {"conv_id": "c1", "turn_idx": 2, "slot": None, "material": "P", "amount": 1.0},
        ]),
        ("b1.json", [
            {"conv_id": "c2", "turn_idx": 1, "slot": 2, "material": "Q", "amount": 2.0},
            {"conv_id": "c2", "turn_idx": 2, "slot": 3, "material": None, "amount": None},
        ]),
    ):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))
    schema = "conv_id string, turn_idx int, slot int, material string, amount double"

    def run_available():
        # one file per micro-batch: b0 is batch 0, b1 is batch 1
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        validated = engine.validate_data(stream, "inventory", "inventory_item")
        q = fork_sinks(
            validated, str(out_valid), str(out_viol), str(ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        return q

    def sinks():
        return (
            Counter(spark.read.parquet(str(out_valid)).collect()),
            Counter(spark.read.parquet(str(out_viol)).collect()),
        )

    assert run_available().lastProgress["batchId"] == 1
    before = sinks()
    assert sum(before[0].values()) == 2 and sum(before[1].values()) == 3
    # lose batch 1's commit (and the local filesystem's checksum file)
    for f in ("1", ".1.crc"):
        (ckpt / "commits" / f).unlink(missing_ok=True)
    # the restart replays batch 1 under the same id
    assert run_available().lastProgress["batchId"] == 1
    assert sinks() == before


def test_conversation_state_verdicts_stateful(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-conversation
    turn-order state across micro-batches — cross-batch regressions are
    caught, and the event-time timeout emits a FINAL row and drops state
    (bounded-state contract)."""
    import json

    from pacts_spark.streaming import conversation_state_verdicts

    src = tmp_path / "st_src"
    out = tmp_path / "st_out"
    ckpt = tmp_path / "st_ckpt"
    src.mkdir()
    T0 = "2026-01-01 00:"

    def ts(minutes):  # minutes from T0, all < 1 hour here; hours via 60*
        h, m = divmod(minutes, 60)
        return f"2026-01-01 {h:02d}:{m:02d}:00"

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps({"conv_id": c, "turn_idx": t, "ts": ts(m)})
                for c, t, m in rows
            )
        )

    schema = "conv_id string, turn_idx int, ts timestamp"

    def run_available():
        stream = spark.readStream.schema(schema).json(str(src))
        verdicts = conversation_state_verdicts(
            stream, watermark="2 hours", ttl_ms=2 * 3600 * 1000
        )

        def sink(batch, batch_id):
            batch.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(str(out))

        q = (
            verdicts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 0: c1 in order, c2 one turn
    write_batch("b0.json", [("c1", 1, 0), ("c1", 2, 1), ("c1", 3, 2), ("c2", 5, 0)])
    run_available()
    rows = {r.conv_id: r for r in spark.read.parquet(str(out)).collect()}
    assert rows["c1"].n_turns == 3 and rows["c1"].max_turn_idx == 3
    assert rows["c1"].n_regressed == 0 and rows["c1"].monotonic
    assert rows["c2"].max_turn_idx == 5 and not rows["c2"].is_final

    # batch 1: c1 REGRESSES across the batch boundary (turn 2 <= max 3);
    # c3 far in the future pushes the watermark past c1/c2's ttl
    write_batch("b1.json", [("c1", 2, 3), ("c3", 1, 600)])
    run_available()
    upd = [
        r
        for r in spark.read.parquet(str(out)).collect()
        if r.conv_id == "c1" and r.n_turns == 4 and not r.is_final
    ]
    assert len(upd) == 1
    assert upd[0].n_regressed == 1 and not upd[0].monotonic

    # batch 2: dummy conversation; the advanced watermark (~600-120 min)
    # fires the timeouts for c1 and c2 -> FINAL rows, state dropped
    # (availableNow may already fire them in a trailing batch of run 2 —
    # either way the finals exist exactly once after run 3)
    write_batch("b2.json", [("c4", 1, 601)])
    run_available()
    finals = {
        r.conv_id: r
        for r in spark.read.parquet(str(out)).collect()
        if r.is_final
    }
    assert set(finals) == {"c1", "c2"}
    assert finals["c1"].n_turns == 4 and finals["c1"].n_regressed == 1
    assert finals["c2"].n_turns == 1 and finals["c2"].max_turn_idx == 5
    assert finals["c2"].monotonic


def test_windowed_verdicts_drops_late_data_past_watermark(spark, engine, tmp_path):
    """Bounded-state/late-data contract: once the watermark passes a
    window, a straggler turn for that window is DROPPED (its finalized
    verdict does not change) — the property that lets the streaming agg
    hold state for only ~watermark/window windows at 10^12-turn scale."""
    import json

    from pacts_spark.streaming import windowed_verdicts

    src = tmp_path / "late_src"
    out = tmp_path / "late_out"
    ckpt = tmp_path / "late_ckpt"
    src.mkdir()

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps(
                    {
                        "conv_id": c,
                        "turn_idx": t,
                        "slot": s,
                        "material": "P",
                        "amount": 1.0,
                        "ts": f"2026-01-01 {h:02d}:00:00",
                    }
                )
                for c, t, s, h in rows
            )
        )

    schema = (
        "conv_id string, turn_idx int, slot int, material string, "
        "amount double, ts timestamp"
    )

    def run_available():
        stream = spark.readStream.schema(schema).json(str(src))
        validated = engine.validate_data(stream, "inventory", "inventory_item")
        agg = windowed_verdicts(validated, window="1 hour", watermark="2 hours")

        def sink(batch, batch_id):
            batch.write.mode("append").parquet(str(out))

        q = (
            agg.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # window [00:00, 01:00): 2 valid turns
    write_batch("b0.json", [("c1", 1, 1, 0), ("c1", 2, 2, 0)])
    run_available()
    # watermark pusher at 10:00 -> watermark 08:00 >> closes the 00:00 window
    write_batch("b1.json", [("c2", 1, 3, 10)])
    run_available()
    finalized = {
        r.window_start.hour: r for r in spark.read.parquet(str(out)).collect()
    }
    assert finalized[0].n_rows == 2 and finalized[0]["pass"]

    # straggler INTO the closed 00:00 window (and invalid, to make any
    # leak visible in both n_rows and pass)
    write_batch("b2.json", [("c3", 9, None, 0), ("c2", 2, 4, 10)])
    run_available()
    rows_h0 = [
        r for r in spark.read.parquet(str(out)).collect() if r.window_start.hour == 0
    ]
    # the 00:00 window was finalized exactly once, still with 2 rows/pass
    assert len(rows_h0) == 1
    assert rows_h0[0].n_rows == 2 and rows_h0[0]["pass"]


def test_stateful_regression_count_is_chunking_invariant(spark, tmp_path):
    """Regression (code-review finding): an in-batch out-of-order pair
    must count exactly like the same pair split across batches — the
    operator orders by EVENT TIME, so micro-batch boundaries can't
    change n_regressed."""
    import json

    from pacts_spark.streaming import conversation_state_verdicts

    for variant, batches in {
        "one": [[("c1", 5, 0), ("c1", 3, 1)]],
        "two": [[("c1", 5, 0)], [("c1", 3, 1)]],
    }.items():
        src = tmp_path / f"src_{variant}"
        out = tmp_path / f"out_{variant}"
        ckpt = tmp_path / f"ckpt_{variant}"
        src.mkdir()
        for i, rows in enumerate(batches):
            (src / f"b{i}.json").write_text(
                "\n".join(
                    json.dumps(
                        {"conv_id": c, "turn_idx": t, "ts": f"2026-01-01 00:0{m}:00"}
                    )
                    for c, t, m in rows
                )
            )
            stream = spark.readStream.schema(
                "conv_id string, turn_idx int, ts timestamp"
            ).json(str(src))

            def sink(batch, batch_id):
                batch.write.mode("append").parquet(str(out))

            q = (
                conversation_state_verdicts(stream, watermark="2 hours", ttl_ms=7200000)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(ckpt))
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        rows = [
            r
            for r in spark.read.parquet(str(out)).collect()
            if r.conv_id == "c1" and r.n_turns == 2
        ]
        assert rows, variant
        assert all(r.n_regressed == 1 for r in rows), (variant, rows)
