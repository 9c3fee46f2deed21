"""End-to-end launch-mode test: the north_rule's ``spark-submit
--py-files`` path, executed for real — package the library zip, submit
jobs/validate_job.py against sf0.001 events in a fresh JVM, and oracle
the resulting violations table and the recorded resume manifest against
DuckDB (the same _VIOLATIONS_SQL and _VERDICTS_SQL the driver contract
uses). This is the only test that exercises the actual cluster
entrypoint: the zip artifact, the argparse surface, the submit-time conf,
and the job's output layout."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

from tests.conftest import REPO, SF_SMALL

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this host"
)
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    # 1. reproducible --py-files artifact
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "package_pyfiles.py")],
        capture_output=True,
        text=True,
        check=True,
    )
    assert "pacts_spark.zip" in out.stdout

    # 2. real spark-submit in a fresh JVM (the launch mode the north_rule
    #    names; N vs 4N executors is submit-time conf, not code)
    job_out, manifest = tmp_path / "out", tmp_path / "manifest"
    res = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[4]",
            "--conf",
            "spark.sql.shuffle.partitions=8",
            "--py-files",
            str(REPO / "dist" / "pacts_spark.zip"),
            str(REPO / "jobs" / "validate_job.py"),
            "--events",
            f"{SF_SMALL}/events.parquet",
            "--out",
            str(job_out),
            "--schemas",
            str(REPO / "schemas"),
            "--manifest",
            str(manifest),
            "--run-id",
            "pytest-submit",
            "--seq",
            "1",
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["run_id"] == "pytest-submit"

    # 3. oracle: DuckDB recomputes the violations from the same events
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMALL}/events.parquet'"
    )
    expected = con.sql(entry._VIOLATIONS_SQL).df()
    assert summary["n_violations"] == len(expected)

    got = con.sql(
        f"SELECT conv_id, turn_idx, violation FROM '{job_out}/violations/**/*.parquet'"
    ).df()
    assert len(got) == len(expected)
    key = lambda d: sorted(map(tuple, d[["conv_id", "turn_idx", "violation"]].values))  # noqa: E731
    assert key(got) == key(expected)

    # 4. the manifest the job recorded: one row per partition, validated
    #    exactly where the oracle's verdict passes
    verdicts = con.sql(
        "SELECT CAST(part AS VARCHAR), CASE WHEN pass THEN 'validated' ELSE 'failed' END"
        f" FROM ({entry._VERDICTS_SQL})"
    ).fetchall()
    recorded = con.sql(f"SELECT part, status FROM '{manifest}/*.parquet'").fetchall()
    assert sorted(recorded, key=repr) == sorted(verdicts, key=repr)
