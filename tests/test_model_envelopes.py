"""Envelope wire-format serde + end-to-end envelope validation
(PactsService.parseEnvelope/toJson parity, PactsService.java:127-136)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pacts_spark.model import envelope_json, parse_envelopes


def test_parse_envelopes_roundtrip(spark):
    wire = {
        "header": {
            "schema_version": "v1",
            "schema_category": "inventory",
            "schema_name": "inventory_item",
            "timestamp": "2026-01-01T00:00:00Z",
            "content_type": "application/json",
        },
        "data": {"slot": 1, "material": "Paper", "amount": 2},
        "metadata": {"trace": "abc"},
    }
    df = spark.createDataFrame([(json.dumps(wire),)], "value string")
    parsed = parse_envelopes(df).collect()[0]
    assert parsed.header.schema_category == "inventory"
    assert parsed.header.schema_version == "v1"
    assert json.loads(parsed.data) == wire["data"]
    assert dict(parsed.metadata) == {"trace": "abc"}


def test_parse_then_validate_envelopes(spark, engine):
    good = {
        "header": {
            "schema_version": "v1",
            "schema_category": "inventory",
            "schema_name": "inventory_item",
        },
        "data": {"slot": 1, "material": "P", "amount": 2},
    }
    bad = {
        "header": {
            "schema_version": "v1",
            "schema_category": "inventory",
            "schema_name": "inventory_item",
        },
        "data": {"slot": "one", "material": "P", "amount": 2},
    }
    df = spark.createDataFrame(
        [(json.dumps(good),), (json.dumps(bad),)], "value string"
    )
    out = engine.validate_envelopes(parse_envelopes(df)).collect()
    assert out[0].valid
    assert list(out[1].errors) == ["Invalid type for field 'slot'. Expected: integer"]


def test_envelope_json_produces_parseable_wire(spark):
    df = spark.createDataFrame([('{"slot": 1}', )], "payload string")
    wire = df.select(
        envelope_json(
            F.col("payload"),
            version="v1",
            category="inventory",
            name="inventory_item",
            run_ts="2026-01-01T00:00:00Z",
            metadata=F.create_map(F.lit("k"), F.lit("v")),
        ).alias("value")
    )
    raw = wire.collect()[0].value
    obj = json.loads(raw)
    assert obj["header"]["schema_version"] == "v1"
    assert obj["header"]["timestamp"] == "2026-01-01T00:00:00Z"
    assert obj["header"]["content_type"] == "application/json"
    assert obj["data"] == {"slot": 1}
    assert obj["metadata"] == {"k": "v"}
    # and it parses back through the reader
    back = parse_envelopes(wire).collect()[0]
    assert back.header.schema_name == "inventory_item"
    assert json.loads(back.data) == {"slot": 1}


def test_adversarial_envelope_battery_never_crashes(spark, engine):
    """200 deterministic adversarial wire strings (truncated JSON, wrong
    shapes, unicode, deep nesting, empty, non-object roots) through
    parse_envelopes -> validate_envelopes in ONE DataFrame: the pipeline
    must complete, preserve row count, and every verdict must be composed
    of catalog strings (or the Validation error:/Schema not found:
    dynamic forms) — malformed input becomes error ROWS, never a crashed
    job (Validator.java:76-78 catch-all parity)."""
    from pacts_spark import errors as E
    from pacts_spark.model import parse_envelopes

    hdr = '{"header": {"schema_version": "v1", "schema_category": "inventory", "schema_name": "inventory_item"}'
    cases = []
    for i in range(200):
        m = i % 10
        if m == 0:
            cases.append("")  # empty string
        elif m == 1:
            cases.append(hdr)  # truncated (no close)
        elif m == 2:
            cases.append('{"data": [1, 2, 3]}')  # no header, array data
        elif m == 3:
            cases.append(hdr + ', "data": ' + '{"a":' * (i % 40 + 1) + "1" + "}" * (i % 40 + 1) + "}")
        elif m == 4:
            cases.append('{"header": 5, "data": {}}')  # header wrong type
        elif m == 5:
            cases.append(hdr + ', "data": "\\u00e9\\u4e2d\\ud83d\\ude00"}')
        elif m == 6:
            cases.append("not json at all %d" % i)
        elif m == 7:
            cases.append(hdr + ', "data": {"slot": "NaN", "material": null}}')
        elif m == 8:
            cases.append('{"header": {"schema_version": "v1"}, "data": {}}')
        else:
            cases.append(hdr + ', "data": 3.14159}')
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, value string")
    out = engine.validate_envelopes(parse_envelopes(df, keep=("i",))).collect()
    assert len(out) == len(cases)

    known_exact = {
        E.HEADER_REQUIRED, E.CATEGORY_REQUIRED, E.NAME_REQUIRED,
        E.VERSION_REQUIRED, E.VALIDATION_SUCCESSFUL,
    }
    for r in out:
        parts = r.error_message.split(E.ERROR_JOINER)
        for p in parts:
            ok = (
                p in known_exact
                or p.startswith("Schema not found: ")
                or p.startswith("Required field missing: ")
                or p.startswith("Invalid type")
                or p.startswith("Validation error: ")
            )
            assert ok, (r.i, r.error_message)


def test_duplicate_data_key_takes_the_last_value(spark, engine, registry):
    """A duplicate ``data`` key parses to its LAST value, as Jackson's
    readTree and json.loads (the oracle) do: the first value here is
    invalid and the last one is valid."""
    from pacts_spark.oracle import validate_envelope

    hdr = '{"schema_version": "v1", "schema_category": "inventory", "schema_name": "inventory_item"}'
    wire = (
        '{"header": ' + hdr + ', "data": {"slot": "one", "material": "P", "amount": 2},'
        ' "data": {"slot": 1, "material": "P", "amount": 2}}'
    )
    env = json.loads(wire)
    want = validate_envelope(
        env["header"], env["data"], registry.as_validator_dict()
    ).error_message
    df = spark.createDataFrame([(wire,)], "value string")
    got = engine.validate_envelopes(parse_envelopes(df)).collect()[0]
    assert got.error_message == want


def test_parse_envelopes_is_one_json_parse(spark):
    df = spark.createDataFrame([("{}",)], "value string")
    plan = parse_envelopes(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(") == 1
    assert "get_json_object" not in plan
