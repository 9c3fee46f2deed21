"""Spark-engine semantics tests: compiled relational/JSON validation must
match the pure-Python oracle row-for-row (SURVEY.md §5.2(2) differential
strategy), with exact error strings and exact intra-row order."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pacts_spark import errors as E
from pacts_spark import oracle
from pacts_spark.engine import ValidationException
from tests.conftest import payload_as_json


INV_PAYLOADS = [
    # (slot, material, amount) typed rows — relational mode
    (1, "Paper", 2.0),
    (None, "Paper", 2.0),       # missing slot
    (3, None, None),            # missing material+amount, ordered
    (4, "Stone", 1.5),
    (None, None, None),         # all required missing
]


@pytest.fixture(scope="module")
def inv_df(spark):
    return spark.createDataFrame(
        INV_PAYLOADS, "slot int, material string, amount double"
    )


def test_relational_matches_oracle(spark, engine, registry, inv_df):
    out = (
        engine.validate_data(inv_df, "inventory", "inventory_item")
        .select("slot", "material", "amount", "errors", "valid", "error_message")
        .collect()
    )
    schema = registry.load_schema("inventory", "inventory_item")
    for row in out:
        payload = payload_as_json(
            {"slot": row.slot, "material": row.material, "amount": row.amount}
        )
        expect = oracle.validate_data(payload, schema)
        assert row.errors == expect.errors, payload
        assert row.valid == expect.valid
        assert row.error_message == expect.error_message


def test_relational_static_type_mismatch(spark, engine):
    # a double column can never be a JSON integer (Jackson isIntegralNumber)
    df = spark.createDataFrame(
        [(1.0, "x", 2.0), (None, "y", 3.0)], "slot double, material string, amount double"
    )
    rows = engine.validate_data(df, "inventory", "inventory_item").orderBy("material").collect()
    assert rows[0].errors == ["Invalid type for field 'slot'. Expected: integer"]
    # NULL slot → absent → required fires, type check skipped
    assert rows[1].errors == ["Required field missing: slot"]


def test_missing_schema_error_row(spark, engine, inv_df):
    out = engine.validate_data(inv_df, "nope", "missing").limit(1).collect()[0]
    assert out.errors == ["Schema not found: bees/v1/nope/missing"]
    assert out.error_message == "Schema not found: bees/v1/nope/missing"


def test_json_mode_matches_oracle(spark, engine, registry):
    payloads = [
        {"slot": 1, "material": "Paper", "amount": 2},
        {"slot": "one", "material": "x", "amount": 2},
        {"slot": 5.0, "material": "x", "amount": 2},
        {"slot": 1, "material": None, "amount": 2},     # explicit null
        {"slot": 1},                                     # absent fields
        [],                                              # wrong top-level type
        {"slot": True, "material": "x", "amount": False},
        {"slot": 1, "material": "D", "amount": 1,
         "nbt_data": {"deep": {"nest": [1, 2]}}, "enchantment_data": [1]},
    ]
    df = spark.createDataFrame([(json.dumps(p),) for p in payloads], "data string")
    out = engine.validate_data(df, "inventory", "inventory_item", json_col="data").collect()
    schema = registry.load_schema("inventory", "inventory_item")
    for row, payload in zip(out, payloads):
        expect = oracle.validate_data(payload, schema)
        assert list(row.errors) == expect.errors, payload


def test_json_mode_malformed_json(spark, engine):
    df = spark.createDataFrame([("{not json",)], "data string")
    row = engine.validate_data(df, "inventory", "inventory_item", json_col="data").collect()[0]
    assert len(row.errors) == 1 and row.errors[0].startswith("Validation error: ")


def test_json_mode_null_payload_both_udfs(spark, engine, registry):
    """A NULL payload validates as JSON null in BOTH JSON-mode UDFs —
    validate_data(json_col=...) and validate_envelopes with data NULL —
    and equals the oracle's verdict on None (required fields missing +
    top-level type), not a parse error."""
    schema = registry.load_schema("inventory", "inventory_item")
    expect = oracle.validate_data(None, schema)
    assert expect.errors  # the schema has required fields and type object

    df = spark.createDataFrame([(None,)], "data string")
    row = engine.validate_data(
        df, "inventory", "inventory_item", json_col="data"
    ).collect()[0]
    assert list(row.errors) == expect.errors
    assert row.error_message == expect.error_message and not row.valid

    env = spark.createDataFrame(
        [(("v1", "inventory", "inventory_item", None, None), None)],
        "header struct<schema_version:string,schema_category:string,"
        "schema_name:string,timestamp:string,content_type:string>, data string",
    )
    row = engine.validate_envelopes(env).collect()[0]
    assert list(row.errors) == expect.errors
    assert row.error_message == expect.error_message and not row.valid


def test_envelope_lifecycle(spark, engine):
    rows = [
        # valid envelope
        (("v1", "inventory", "inventory_item", None, None),
         json.dumps({"slot": 1, "material": "P", "amount": 2})),
        # null header
        (None, json.dumps({"slot": 1})),
        # unknown coordinates
        (("v1", "cat", "name", None, None), "{}"),
        # missing version only
        ((None, "inventory", "inventory_item", None, None),
         json.dumps({"slot": 1, "material": "P", "amount": 2})),
        # all-empty coords ≙ header required (Rust semantics)
        (("", "", "", None, None), "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "header struct<schema_version:string,schema_category:string,"
        "schema_name:string,timestamp:string,content_type:string>, data string",
    )
    out = engine.validate_envelopes(df).collect()
    assert out[0].valid and out[0].error_message == "Validation successful"
    assert list(out[1].errors) == ["Header is required"]
    assert list(out[2].errors) == ["Schema not found: cat/name"]
    assert list(out[3].errors) == ["Schema version is required in header"]
    assert list(out[4].errors) == ["Header is required"]


def test_envelope_dispatch_single_arrow_pass(spark, engine, registry):
    """validate_envelopes must cost ONE ArrowEvalPython node regardless of
    registry size: the per-(category,name) dispatch happens inside one
    pandas UDF, not as a CASE of per-schema UDF branches (Catalyst
    evaluates CASE'd Python UDFs unconditionally — S schemas would mean S
    Arrow passes per row)."""
    assert len(registry.as_validator_dict()) >= 2  # dispatch is non-trivial
    df = spark.createDataFrame(
        [(("v1", "inventory", "inventory_item", None, None), "{}")],
        "header struct<schema_version:string,schema_category:string,"
        "schema_name:string,timestamp:string,content_type:string>, data string",
    )
    out = engine.validate_envelopes(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_explode_violations_order(spark, engine):
    df = spark.createDataFrame(
        [("c1", 2, None, None, None), ("c1", 1, None, "x", 2.0)],
        "conv_id string, turn_idx int, slot int, material string, amount double",
    )
    v = engine.validate_data(df, "inventory", "inventory_item")
    out = engine.explode_violations(v, ["conv_id", "turn_idx"]).collect()
    # sorted by (conv_id, turn_idx, error_idx); intra-row order = schema order
    assert [(r.conv_id, r.turn_idx, r.violation) for r in out] == [
        ("c1", 1, "Required field missing: slot"),
        ("c1", 2, "Required field missing: slot"),
        ("c1", 2, "Required field missing: material"),
        ("c1", 2, "Required field missing: amount"),
    ]


def test_partition_verdicts(spark, engine):
    df = spark.createDataFrame(
        [("p1", 1, "m", 2.0), ("p1", None, "m", 2.0), ("p2", 3, "m", 4.0)],
        "part string, slot int, material string, amount double",
    )
    v = engine.validate_data(df, "inventory", "inventory_item")
    out = {r.part: r for r in engine.partition_verdicts(v, "part").collect()}
    assert out["p1"]["pass"] is False and out["p1"].n_violations == 1
    assert out["p2"]["pass"] is True and out["p2"].n_rows == 1


def test_send_validated_gate(spark, engine):
    good = spark.createDataFrame([(1, "m", 2.0)], "slot int, material string, amount double")
    sent = []
    engine.send_validated(good, "inventory", "inventory_item", lambda d: sent.append(d.count()))
    assert sent == [1]

    bad = spark.createDataFrame([(None, "m", 2.0)], "slot int, material string, amount double")
    with pytest.raises(ValidationException) as ei:
        engine.send_validated(bad, "inventory", "inventory_item", lambda d: None)
    assert str(ei.value) == "Validation failed: Required field missing: slot"


def test_enum_and_pattern_extensions(spark, registry, engine):
    registry.put("transcripts", "turn_strict", {
        "type": "object",
        "properties": {
            "role": {"type": "string", "enum": ["system", "user", "assistant", "tool"]},
            "conv_id": {"type": "string", "pattern": r"conv-\d+"},
        },
        "required": ["role", "conv_id"],
    })
    df = spark.createDataFrame(
        [("user", "conv-1"), ("robot", "conv-2"), ("user", "nope")],
        "role string, conv_id string",
    )
    rows = engine.validate_data(df, "transcripts", "turn_strict").collect()
    assert rows[0].valid
    assert rows[1].errors == [
        "Invalid value for field 'role'. Expected one of: system, user, assistant, tool"
    ]
    assert rows[2].errors == [
        "Invalid format for field 'conv_id'. Expected pattern: conv-\\d+"
    ]


def test_huge_integer_json_mode_java_semantics(spark, engine, registry):
    """SURVEY §2.2 divergence: integers beyond u64. Jackson parses them as
    BigInteger — still isIntegralNumber → 'integer' PASSES
    (Validator.java:100-101); serde_json overflows to f64 → Rust would
    reject (validator.rs:125). The engine pins to Java semantics (JSON mode
    parses with Python int — arbitrary precision)."""
    registry.put("t", "huge_int", {
        "type": "object",
        "properties": {"k": {"type": "integer"}},
        "required": ["k"],
    })
    big = 2 ** 64  # 18446744073709551616 — overflows u64 AND i64
    df = spark.createDataFrame(
        [(1, f'{{"k": {big}}}'), (2, '{"k": 5.0}'), (3, '{"k": 7}')],
        "id int, payload string",
    )
    out = {
        r.id: (r.valid, r.error_message)
        for r in engine.validate_data(df, "t", "huge_int", json_col="payload").collect()
    }
    assert out[1] == (True, "Validation successful")       # Java: BigInteger is integral
    assert out[2] == (False, "Invalid type for field 'k'. Expected: integer")
    assert out[3] == (True, "Validation successful")
    # the pure-Python oracle agrees (differential pin)
    from pacts_spark import oracle as _o
    assert _o.validate_data({"k": big}, registry.load_schema("t", "huge_int")).valid


def test_conditional_required_checks(spark, registry, engine):
    """dependentRequired + if/then const extensions: fire rules, error
    ORDER (required -> props -> dependentRequired -> if/then), and the
    missing-column conventions (absent trigger never fires; absent dep
    always fires under the condition)."""
    registry.put("transcripts", "cond", {
        "type": "object",
        "properties": {"role": {"type": "string"}},
        "required": ["role"],
        "dependentRequired": {"tool": ["text"]},
        "if": {"properties": {"role": {"const": "assistant"}}},
        "then": {"required": ["text"]},
    })
    df = spark.createDataFrame(
        [
            ("assistant", "hi", None),      # ok (text set)
            ("assistant", None, None),      # if/then fires
            ("user", None, "t-1"),          # dependentRequired fires
            ("assistant", None, "t-1"),     # BOTH fire, depReq first
            (None, None, None),             # required fires; role null -> if doesn't
        ],
        "role string, text string, tool string",
    )
    rows = engine.validate_data(df, "transcripts", "cond").collect()
    msgs = {
        (r.role, r.tool): r.error_message for r in rows
    }
    assert msgs[("assistant", None)] == "Field 'text' is required when 'role' = 'assistant'"
    assert msgs[("user", "t-1")] == "Field 'text' is required when 'tool' is present"
    assert msgs[("assistant", "t-1")] == (
        "Field 'text' is required when 'tool' is present; "
        "Field 'text' is required when 'role' = 'assistant'"
    )
    assert msgs[(None, None)] == "Required field missing: role"
    ok = [r for r in rows if r.role == "assistant" and r.tool is None and r.valid]
    assert len(ok) == 1 and ok[0].error_message == "Validation successful"

    # absent trigger column: dependentRequired can never fire; absent
    # dep column: always missing when the condition holds
    registry.put("transcripts", "cond2", {
        "type": "object",
        "dependentRequired": {"nope": ["text"]},
        "if": {"properties": {"role": {"const": "assistant"}}},
        "then": {"required": ["ghost"]},
    })
    df2 = spark.createDataFrame([("assistant", "x")], "role string, text string")
    r2 = engine.validate_data(df2, "transcripts", "cond2").collect()[0]
    assert r2.error_message == "Field 'ghost' is required when 'role' = 'assistant'"
    assert not r2.valid


def test_conditional_required_exhaustive_state_space(spark, registry, engine):
    """Exhaustive 3-field cross product (role x text x tool, incl. NULLs)
    against an independent Python replay of the extension rules — every
    reachable (dependentRequired, if/then) state is checked."""
    registry.put("transcripts", "cond_x", {
        "type": "object",
        "properties": {"role": {"type": "string"}},
        "dependentRequired": {"tool": ["text"]},
        "if": {"properties": {"role": {"const": "assistant"}}},
        "then": {"required": ["text"]},
    })
    roles = ["assistant", "user", "tool", None]
    texts = ["x", None]
    tools = ["t-1", None]
    rows = [
        (i, r, x, o)
        for i, (r, x, o) in enumerate(
            (r, x, o) for r in roles for x in texts for o in tools
        )
    ]
    df = spark.createDataFrame(rows, "i long, role string, text string, tool string")
    got = {r.i: (r.valid, r.error_message) for r in
           engine.validate_data(df, "transcripts", "cond_x").collect()}

    def replay(role, text, tool):
        errs = []
        if tool is not None and text is None:
            errs.append("Field 'text' is required when 'tool' is present")
        if role == "assistant" and text is None:
            errs.append("Field 'text' is required when 'role' = 'assistant'")
        return (not errs, "; ".join(errs) or "Validation successful")

    for i, role, text, tool in rows:
        assert got[i] == replay(role, text, tool), (role, text, tool, got[i])
