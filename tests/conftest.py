from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))
SF_SMALL = TESTDATA / "sf0.001"
SF_MEDIUM = TESTDATA / "sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pacts_spark.session import get_spark

    s = get_spark(app="pacts-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def registry():
    from pacts_spark.registry import SchemaRegistry

    reg = SchemaRegistry(domain="bees", version="v1", schema_root=REPO / "schemas")
    reg.load_dir(REPO / "schemas")
    return reg


@pytest.fixture(scope="session")
def engine(registry):
    from pacts_spark.engine import PactsEngine

    return PactsEngine(registry)


@pytest.fixture(scope="session")
def events_small(spark):
    return spark.read.parquet(str(SF_SMALL / "events.parquet"))


def payload_as_json(row: dict) -> dict:
    """Canonical relational-row → JSON-object mapping for the differential
    tests: NULL columns are ABSENT keys (SURVEY.md §1.3 'field absent ≙
    column NULL'), so the oracle sees what relational mode validates."""
    return {k: v for k, v in row.items() if v is not None}
