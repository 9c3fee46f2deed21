"""Smoke tests of the driver contract module."""

from __future__ import annotations

import json

import duckdb

import __spark_entry__ as entrymod
from tests.conftest import REPO, SF_SMALL


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == ["conv_id", "turn_idx", "part", "check_name", "violation"] or (
        "violation" in df.columns
    )
    assert len(rows) > 0


def test_queries_and_oracles_consistent():
    # queries() and oracle_sql() are views of one table, so their key sets
    # are equal by construction
    oracles = entrymod.oracle_sql()
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())


def _last_driver_rounds() -> dict[str, int]:
    """name -> the newest CORRECTNESS_r*.json round that has it."""
    last = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            last[name] = rnd
    return last


def test_query_rounds_match_driver_rows():
    last = _last_driver_rounds()
    assert last.keys() <= entrymod.QUERY_TABLE.keys()
    rounds = {name: row[2] for name, row in entrymod.QUERY_TABLE.items()}
    assert rounds == {name: last.get(name, 0) for name in rounds}


def test_queries_sweep_oldest_driver_rows_first():
    """A capped sweep of the first ~50 reaches the queries the driver
    checked longest ago (round 0 = never) before the ones it just saw."""
    last = _last_driver_rounds()
    rounds = [last.get(name, 0) for name in entrymod.queries()]
    assert rounds == sorted(rounds)


def test_every_twin_binds_to_the_fixture_tables():
    """DuckDB EXPLAIN of every twin over the sf0.001 views: a twin that no
    longer binds fails here, without the full Spark-vs-DuckDB sweep."""
    con = duckdb.connect()
    tables = sorted(SF_SMALL.glob("*.parquet"))
    assert len(tables) == 10
    for path in tables:
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    failed = {}
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except duckdb.Error as exc:
            failed[name] = str(exc).splitlines()[0]
    assert not failed, failed
