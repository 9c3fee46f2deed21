"""Reference-differential battery (SURVEY.md §5.2(2)): many payload shapes
through the Spark engine (JSON mode) and the pure-Python oracle; exploded
violation rows must be per-turn equal under (conv_id, turn_idx) sort.

Also covers the seeded transcripts generator (skew + injected violations)
against the oracle in relational mode.
"""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from pacts_spark import oracle
from pacts_spark.transcripts import TURN_SCHEMA, generate_transcripts
from tests.conftest import payload_as_json


def _random_payload(rng: random.Random) -> object:
    """Random JSON payloads hitting every validator branch."""
    kind = rng.random()
    if kind < 0.05:
        return rng.choice([[], [1, 2], "str", 17, 3.5, True, None])
    fields = {}
    for fname, typ in [
        ("slot", "integer"),
        ("material", "string"),
        ("amount", "number"),
        ("enchantment_data", "array"),
        ("nbt_data", "object"),
        ("extra", None),
    ]:
        r = rng.random()
        if r < 0.25:
            continue  # absent
        elif r < 0.35:
            fields[fname] = None  # explicit null
        elif r < 0.55:
            fields[fname] = rng.choice(
                [rng.randint(0, 9), "txt", 1.5, True, [1], {"a": 1}]
            )  # random type
        else:
            fields[fname] = {
                "integer": rng.randint(0, 99),
                "string": "ok",
                "number": rng.choice([1, 2.5]),
                "array": [1, "x"],
                "object": {"deep": {"er": [None]}},
                None: "whatever",
            }[typ]
    return fields


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_json_mode_differential_battery(spark, engine, registry, seed):
    rng = random.Random(seed)
    payloads = [_random_payload(rng) for _ in range(300)]
    df = spark.createDataFrame(
        [(i, json.dumps(p)) for i, p in enumerate(payloads)], "i long, data string"
    )
    out = (
        engine.validate_data(df, "inventory", "inventory_item", json_col="data")
        .select("i", "errors")
        .collect()
    )
    schema = registry.load_schema("inventory", "inventory_item")
    for row in out:
        expect = oracle.validate_data(payloads[row.i], schema)
        assert list(row.errors) == expect.errors, payloads[row.i]


def test_generator_relational_differential(spark, engine, registry):
    t = generate_transcripts(spark, n_convs=60, mean_turns=10, seed=7)
    validated = engine.validate_data(t, "transcripts", "turn")
    rows = validated.orderBy("conv_id", "turn_idx", "ts").collect()
    schema = registry.load_schema("transcripts", "turn")
    assert any(not r.valid for r in rows)  # generator injects null text
    for r in rows:
        payload = payload_as_json(
            {
                "conv_id": r.conv_id,
                "turn_idx": r.turn_idx,
                "role": r.role,
                "text": r.text,
                "tool": r.tool,
                "ts": str(r.ts) if r.ts is not None else None,
            }
        )
        expect = oracle.validate_data(payload, schema)
        assert list(r.errors) == expect.errors


def test_generator_skew_uniqueness(spark):
    """SURVEY.md §5.2(5): a whale conversation does not break uniqueness —
    the groupBy and a pure-Python Counter agree on the duplicate set of
    skewed data."""
    from collections import Counter

    from pacts_spark.checks import duplicate_keys

    t = generate_transcripts(
        spark, n_convs=50, mean_turns=10, seed=11, skew_frac=0.5, dup_rate=0.05
    ).cache()
    counts = t.groupBy("conv_id").count()
    top = counts.orderBy(F.desc("count")).first()
    total = t.count()
    assert top["count"] / total > 0.3  # the whale is real

    keys = ["conv_id", "turn_idx"]
    dups = {
        (r.conv_id, r.turn_idx): r.dup_count
        for r in duplicate_keys(t, keys).collect()
    }
    counter = Counter(tuple(r) for r in t.select(*keys).collect())
    assert dups == {k: n for k, n in counter.items() if n > 1}
    assert len(dups) > 0
    t.unpersist()
