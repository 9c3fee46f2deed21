"""End-to-end ValidationRun + checkpoint/resume tests (SURVEY.md §5.2(4))."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pacts_spark.checkpoint import MANIFEST_SCHEMA, ValidationManifest
from pacts_spark.runner import ValidationRun, day_part
from pacts_spark.transcripts import (
    conversations_dim,
    tools_dim,
    transcripts_from_events,
)


@pytest.fixture(scope="module")
def transcripts(spark, events_small):
    return transcripts_from_events(events_small).cache()


def test_full_run_shapes(spark, engine, events_small, transcripts):
    run = ValidationRun(engine)
    res = run.run(
        spark,
        transcripts,
        conversations=conversations_dim(events_small),
        tools=tools_dim(spark),
    )
    verd = res.verdicts.collect()
    assert len(verd) > 0
    assert set(res.verdicts.columns) == {
        "part", "pass", "n_violations", "n_invalid_rows", "n_rows"}
    # injected violations must surface in every check family
    checks = {r.check for r in res.violations.select("check").distinct().collect()}
    assert checks == {"schema", "uniqueness", "referential_conv", "referential_tool"}
    # totals line up: verdict counts == violations table counts
    n_viol = res.violations.count()
    assert sum(r.n_violations for r in verd) == n_viol
    assert res.drift.count() == res.verdicts.count()
    assert res.gaps.count() == res.verdicts.count()


def test_violations_are_ordered_and_exact(spark, engine, transcripts):
    run = ValidationRun(engine)
    res = run.run(spark, transcripts)
    rows = res.violations.filter(F.col("check") == "schema").limit(5).collect()
    assert all(r.violation == "Required field missing: text" for r in rows)
    full = [
        (r.conv_id, r.turn_idx)
        for r in res.violations.toLocalIterator()
    ]
    assert full == sorted(full)  # global (conv_id, turn_idx) order


def test_resume_skips_validated_partitions(spark, engine, transcripts, tmp_path):
    manifest = ValidationManifest(tmp_path / "manifest")
    parts = [str(r.p) for r in transcripts.select(day_part().alias("p")).distinct().collect()]
    parts.sort()
    half = set(parts[: len(parts) // 2])

    # run 1 over only the first half of partitions; the caller records to
    # the manifest AFTER the run's outputs are (notionally) persisted —
    # run() itself never records (crash-safe resume ordering)
    first = transcripts.filter(day_part().cast("string").isin(list(half)))
    run = ValidationRun(engine, manifest=manifest)
    res1 = run.run(spark, first)
    manifest.record(res1.verdicts, run_id="run-1", seq=1)

    done = {r.part for r in manifest.validated_parts(spark).collect()}
    # partitions with any violation are 'failed', clean ones 'validated';
    # with injected violations most days fail — force-mark them validated to
    # exercise the skip path
    verd = manifest.read(spark)
    all_first = verd.select("part").distinct()
    manifest.record(
        all_first.withColumn("pass", F.lit(True))
        .withColumn("n_rows", F.lit(0))
        .withColumn("n_violations", F.lit(0)),
        run_id="run-1b",
        seq=2,
    )
    done = {r.part for r in manifest.validated_parts(spark).collect()}
    assert done == half

    # run 2 over everything: must process ONLY the second half
    pending = manifest.filter_pending(spark, transcripts, day_part())
    seen = {str(r.p) for r in pending.select(day_part().alias("p")).distinct().collect()}
    assert seen == set(parts) - half

    res2 = run.run(spark, transcripts)
    parts2 = {str(r.part) for r in res2.verdicts.select("part").collect()}
    assert parts2 == set(parts) - half


def test_manifest_latest_seq_wins(spark, tmp_path):
    m = ValidationManifest(tmp_path / "m2")
    verd = spark.createDataFrame(
        [("2025-01-01", False, 10, 5)], "part string, pass boolean, n_rows long, n_violations long"
    )
    m.record(verd, run_id="a", seq=1)
    assert m.validated_parts(spark).count() == 0
    verd2 = verd.withColumn("pass", F.lit(True))
    m.record(verd2, run_id="b", seq=2)
    assert {r.part for r in m.validated_parts(spark).collect()} == {"2025-01-01"}


def test_run_and_write(spark, engine, transcripts, tmp_path):
    from pacts_spark.transcripts import tools_dim

    run = ValidationRun(engine, manifest=ValidationManifest(tmp_path / "m3"))
    out = run.run_and_write(
        spark, transcripts, str(tmp_path / "out"), tools=tools_dim(spark),
        run_id="rw-1", seq=1,
    )
    vio = spark.read.parquet(out["violations_path"])
    verd = spark.read.parquet(out["verdicts_path"])
    assert vio.count() > 0
    assert set(verd.columns) == {"part", "n_rows", "n_violations", "n_invalid_rows", "pass"}
    # verdict totals must agree with the written violations
    tot_v = verd.agg(F.sum("n_violations")).collect()[0][0]
    assert tot_v == vio.count()
    # equivalence with the lazy run(): the same whole verdict row per part
    res = ValidationRun(engine).run(spark, transcripts, tools=tools_dim(spark))
    assert _verdict_rows(res.verdicts) == _verdict_rows(verd)


def _verdict_rows(verdicts) -> dict:
    return {
        r.part: (r["pass"], r.n_violations, r.n_invalid_rows, r.n_rows)
        for r in verdicts.collect()
    }


def test_null_ts_partition_verdicts(spark, engine, tmp_path):
    """A NULL ts puts its row in the NULL partition; that partition's
    uniqueness and RI rows still count against it (null-safe part join),
    in run() and run_and_write() alike, and the manifest records it failed."""
    t = spark.createDataFrame(
        [
            ("conv-1", 1, "user", "hi", None, None),
            ("conv-1", 1, "assistant", "yo", None, "tool-9"),
            ("conv-2", 1, "user", "a", datetime(2025, 1, 1, 9), None),
            ("conv-2", 2, "assistant", "b", datetime(2025, 1, 2, 9), "tool-0"),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, tool string",
    )
    # 2 ts-required schema errors + 2 duplicate-key rows + 1 unknown tool
    expected = (False, 5, 2, 2)
    res = ValidationRun(engine).run(spark, t, tools=tools_dim(spark))
    assert _verdict_rows(res.verdicts)[None] == expected

    # a never-written manifest reads as an empty JVM relation with the
    # manifest schema, and filters nothing out (NULL-ts rows included)
    manifest = ValidationManifest(tmp_path / "m")
    empty = manifest.read(spark)
    assert empty.schema == StructType.fromDDL(MANIFEST_SCHEMA)
    assert empty.count() == 0
    plan = empty._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "RDD" not in plan, plan
    pending = manifest.filter_pending(spark, t, day_part()).collect()
    assert sorted(pending, key=str) == sorted(t.collect(), key=str)
    out = ValidationRun(engine, manifest=manifest).run_and_write(
        spark, t, str(tmp_path / "out"), tools=tools_dim(spark),
        run_id="null-ts", seq=1,
    )
    written = spark.read.parquet(out["verdicts_path"])
    assert _verdict_rows(written) == _verdict_rows(res.verdicts)
    status = [r.status for r in manifest.read(spark).collect() if r.part is None]
    assert status == ["failed"]


@pytest.mark.parametrize("fmt", ["parquet", "iceberg"])
def test_resume_scan_keeps_null_partition_pending(spark, tmp_path, fmt):
    """Rows of a NULL partition were never validated, so a resumed scan
    must keep them pending on either table format (a bare ``~isin`` is
    NULL there and would drop them)."""
    from pacts_spark.table import IcebergTableAdapter, ParquetTableAdapter

    df = spark.createDataFrame(
        [("c1", 1, "2026-01-01"), ("c2", 1, "2026-01-02"), ("c3", 1, None)],
        "conv_id string, turn_idx int, part string",
    )
    manifest = ValidationManifest(tmp_path / "manifest")
    manifest.record(
        spark.createDataFrame(
            [("2026-01-01", True, 1, 0)],
            "part string, pass boolean, n_rows long, n_violations long",
        ),
        run_id="r1",
        seq=1,
    )
    if fmt == "parquet":
        table = str(tmp_path / "parted")
        df.write.partitionBy("part").parquet(table)
        adapter = ParquetTableAdapter()
    else:
        # a temp view stands in for the catalog table; the adapter is built
        # without its constructor's classpath probe (the tests run without
        # the Iceberg runtime jar)
        table = "null_part_turns"
        df.createOrReplaceTempView(table)
        adapter = IcebergTableAdapter.__new__(IcebergTableAdapter)
    pending = adapter.scan_pending(spark, table, manifest)
    parts = {None if r.part is None else str(r.part) for r in pending.collect()}
    assert parts == {"2026-01-02", None}
