"""The counter reader against a known answer: a scan of the generated
transcripts, materialized with the ``noop`` sink, reports as many rows out
as the table has turns.

    python3 -m pytest perfbench/test_counters.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]


def test_scan_rows_out_equals_n_turns(tmp_path):
    import gen
    from counters import SparkCounters
    from pacts_spark.session import get_spark
    from run import stop_session

    gen.transcripts(tmp_path, n_events=2_000, n_users=50, days=3, replicas=2, seed=7)
    n_turns = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/transcripts/*.parquet')"
    ).fetchone()[0]
    spark = get_spark(
        app="perfbench-test", cores=2, shuffle_partitions=2,
        extra={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    try:
        spark.sparkContext.setJobGroup("scan", "scan")
        spark.read.parquet(str(tmp_path / "transcripts")).write.format("noop").mode(
            "overwrite"
        ).save()
        ctr = SparkCounters(spark)
        assert n_turns == 4_000
        assert ctr.sql_rows(["scan"])["rows_out"] == n_turns
        assert ctr.stage_totals(["scan"])["input_rows"] == n_turns
    finally:
        stop_session(spark)
