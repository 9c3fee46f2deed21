"""Schema → compiled Column-expression predicate tree.

Replaces the reference's interpreted per-envelope tree-walk
(Validator.java:191-201; validator.rs:109-117) with a compile-once plan:
the schema dict is turned into an ORDERED list of ``(violation_condition:
Column, message: str)`` pairs, then fused into ONE projection
(``errors_column`` here, the rest in ``engine._finalize``, which every
mode ends in)::

    errors        = array_compact(array(when(cond_i, lit(msg_i)) ...))
    valid         = size(errors) == 0
    error_message = when(valid, "Validation successful")
                    .otherwise(array_join(errors, "; "))

Check order is the reference's exactly (Validator.java:196-198):
required[] in schema-array order → top-level type → properties in
schema-object insertion order. ``json.loads`` preserves key order, matching
Jackson ObjectNode / serde_json::Map insertion order (SURVEY.md §2.1).

Two modes:

- **relational** (fast path, whole-stage codegen, zero Python): the payload
  is the DataFrame's typed columns. "Field absent" ≙ column NULL (the
  fixed-schema relational encoding of open JSON — SURVEY.md §1.3). Type
  checks resolve STATICALLY from the column's Spark type (a DoubleType value
  can never be a JSON integer — Jackson isIntegralNumber semantics,
  Validator.java:100-101), so they compile to either nothing or
  ``isNotNull()``.

- **json** (schema-on-read path): the payload is a JSON-string column;
  checks run in a vectorized pandas UDF (Arrow batches, no per-row Python
  UDF registration) — ``json_mode_validator`` for one schema,
  ``json_mode_dispatch_validator`` for envelopes of mixed coordinates.
  Both apply ONE row function, ``_json_payload_errors``, which carries the
  oracle semantics and the absent-vs-explicit-null distinction the
  reference has (``has()`` passes required for explicit null,
  Validator.java:123, but a non-null type check then fails — SURVEY.md
  §7(b)).

Engine extensions beyond the reference's 3-check subset (mandated by
BASELINE.json north_star, NOT present in Pacts): per-property ``enum``
(compiled to ``isin`` — pure Column) and ``pattern`` (vectorized pandas-UDF
regex probe). Their error strings are engine-defined.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pacts_spark import errors as E
from pacts_spark import oracle

# JSON type names a Spark column type can satisfy (Validator.java:90-109).
# Timestamps/dates serialize to ISO strings in the reference's wire format
# (JavaTimeModule, Validator.java:29) → JSON "string".
_JSON_TYPES_OF: list[tuple[type, frozenset[str]]] = [
    (T.BooleanType, frozenset({"boolean"})),
    (T.ByteType, frozenset({"integer", "number"})),
    (T.ShortType, frozenset({"integer", "number"})),
    (T.IntegerType, frozenset({"integer", "number"})),
    (T.LongType, frozenset({"integer", "number"})),
    (T.FloatType, frozenset({"number"})),
    (T.DoubleType, frozenset({"number"})),
    (T.DecimalType, frozenset({"number"})),
    (T.StringType, frozenset({"string"})),
    (T.VarcharType, frozenset({"string"})),
    (T.CharType, frozenset({"string"})),
    (T.TimestampType, frozenset({"string"})),
    (T.TimestampNTZType, frozenset({"string"})),
    (T.DateType, frozenset({"string"})),
    (T.ArrayType, frozenset({"array"})),
    (T.StructType, frozenset({"object"})),
    (T.MapType, frozenset({"object"})),
    (T.NullType, frozenset({"null"})),
]

KNOWN_JSON_TYPES = {"object", "array", "string", "number", "integer", "boolean", "null"}


def json_types_of(dt: T.DataType) -> frozenset[str]:
    for cls, names in _JSON_TYPES_OF:
        if isinstance(dt, cls):
            return names
    return frozenset()


def _enum_error(field: str, values: list) -> str:
    """Engine extension (no reference analogue)."""
    return f"Invalid value for field '{field}'. Expected one of: {', '.join(map(str, values))}"


def _pattern_error(field: str, pattern: str) -> str:
    """Engine extension (no reference analogue)."""
    return f"Invalid format for field '{field}'. Expected pattern: {pattern}"


def _dependent_required_error(field: str, trigger: str) -> str:
    """Engine extension (JSON Schema 2019-09 ``dependentRequired``)."""
    return f"Field '{field}' is required when '{trigger}' is present"


def _conditional_required_error(field: str, conds: list[tuple[str, object]]) -> str:
    """Engine extension (simplified JSON Schema ``if``/``then``)."""
    desc = " and ".join(f"'{p}' = '{v}'" for p, v in conds)
    return f"Field '{field}' is required when {desc}"


def compile_relational(
    schema: dict, df_schema: T.StructType
) -> list[tuple[Column, str]]:
    """Compile a pact schema against a typed DataFrame schema.

    Returns the ordered ``(violation_condition, message)`` list. Conditions
    are pure Column expressions — Catalyst folds the constant ones and
    whole-stage-codegens the rest; the scan only reads referenced columns.
    """
    fields = {f.name: f.dataType for f in df_schema.fields}
    checks: list[tuple[Column, str]] = []

    # 1. required[] in schema order (Validator.java:118-128)
    for fname in schema.get("required", []) or []:
        if fname not in fields:
            checks.append((F.lit(True), E.required_field_missing(fname)))
        else:
            checks.append((F.col(fname).isNull(), E.required_field_missing(fname)))

    # 2. top-level type (Validator.java:137-144): a relational row is a JSON
    #    object → "object" and unknown names pass; anything else fails all rows.
    top = schema.get("type")
    if isinstance(top, str) and top in KNOWN_JSON_TYPES and top != "object":
        checks.append((F.lit(True), E.invalid_type(top)))

    # 3. properties in schema insertion order, present-only, non-recursive
    #    (Validator.java:154-182)
    props = schema.get("properties")
    if isinstance(props, dict):
        for pname, pschema in props.items():
            pschema = pschema or {}
            ptype = pschema.get("type")
            present = (
                F.col(pname).isNotNull() if pname in fields else F.lit(False)
            )
            if isinstance(ptype, str) and ptype in KNOWN_JSON_TYPES:
                matches = pname in fields and ptype in json_types_of(fields[pname])
                if pname in fields and not matches:
                    # static mismatch: every present value violates
                    checks.append((present, E.invalid_type_for_field(pname, ptype)))
                # static match or absent column → no check (absent ≙ skipped,
                # Validator.java:176)
            # engine extensions
            enum = pschema.get("enum")
            if isinstance(enum, list) and pname in fields:
                checks.append(
                    (present & ~F.col(pname).isin(enum), _enum_error(pname, enum))
                )
            pattern = pschema.get("pattern")
            if isinstance(pattern, str) and pname in fields:
                checks.append(
                    (
                        present & ~_regex_match_udf(pattern)(F.col(pname).cast("string")),
                        _pattern_error(pname, pattern),
                    )
                )

    # 4. engine extensions: CROSS-FIELD conditional requirements — checks
    #    the per-field reference validator structurally cannot express.
    #    Both compile to pure Column conjunctions (codegen, no UDF) and
    #    append AFTER the per-property checks in schema insertion order.
    #    Like enum/pattern above, these are RELATIONAL-mode extensions:
    #    json-mode validation (json_mode_validator → oracle.validate_data)
    #    stays a faithful reference port and ignores extension keywords.
    #    4a. JSON Schema 2019-09 `dependentRequired`:
    #        {"trigger": ["dep", ...]} — deps must be present whenever
    #        trigger is present.
    dep_req = schema.get("dependentRequired")
    if isinstance(dep_req, dict):
        for trigger, deps in dep_req.items():
            trig_present = (
                F.col(trigger).isNotNull() if trigger in fields else F.lit(False)
            )
            for dep in deps or []:
                dep_missing = F.col(dep).isNull() if dep in fields else F.lit(True)
                checks.append(
                    (trig_present & dep_missing, _dependent_required_error(dep, trigger))
                )
    #    4b. simplified `if`/`then`: if.properties.{p}.const values must
    #        ALL match (present + equal) for then.required to apply.
    cond_if = schema.get("if")
    cond_then = schema.get("then")
    if isinstance(cond_if, dict) and isinstance(cond_then, dict):
        if_props = (cond_if.get("properties") or {}).items()
        conds = [
            (p, ps["const"]) for p, ps in if_props
            if isinstance(ps, dict) and "const" in ps
        ]
        if conds:
            fire = F.lit(True)
            for p, v in conds:
                fire = fire & (
                    (F.col(p).isNotNull() & (F.col(p) == F.lit(v)))
                    if p in fields
                    else F.lit(False)
                )
            for req in cond_then.get("required", []) or []:
                req_missing = F.col(req).isNull() if req in fields else F.lit(True)
                checks.append(
                    (fire & req_missing, _conditional_required_error(req, conds))
                )
    return checks


def _regex_match_udf(pattern: str):
    """Vectorized regex probe: Python ``re`` semantics over Arrow batches
    (north_star: regex checks as pandas UDFs, never per-row Python UDFs).
    UNANCHORED search (str.contains / re.search), matching JSON Schema's
    ``pattern`` keyword semantics — authors anchor explicitly with ^/$.
    (str.match would silently prefix-anchor, so '\\d+$' — legal JSON
    Schema — would behave unlike every standard validator.)"""
    import re

    rx = re.compile(pattern)

    @pandas_udf(T.BooleanType())
    def _match(s: pd.Series) -> pd.Series:
        return s.str.contains(rx).fillna(False).astype(bool)

    return _match


def errors_column(checks: list[tuple[Column, str]]) -> Column:
    """Fuse ordered checks into one ``array<string>`` expression
    (ValidationResult algebra, ValidationResult.java:71-77)."""
    if not checks:
        return F.array().cast("array<string>")
    slots = [F.when(cond, F.lit(msg)) for cond, msg in checks]
    return F.array_compact(F.array(*slots))


def _json_payload_errors(raw: str | None, schema: dict) -> list[str]:
    """Errors of ONE JSON-string payload — the per-row semantics of both
    JSON-mode UDFs. A NULL payload validates as JSON ``null`` (required
    fields missing + top-level type check); malformed JSON gets the
    reference catch-all ``Validation error: {msg}`` (Validator.java:76-78);
    anything else goes to ``oracle.validate_data``, which keeps the
    absent-vs-explicit-null distinction (``has()``, Validator.java:123)."""
    if raw is None:
        return oracle.validate_data(None, schema).errors
    try:
        data = json.loads(raw)
    except Exception as exc:  # noqa: BLE001
        return [E.validation_error(str(exc))]
    return oracle.validate_data(data, schema).errors


def json_mode_validator(schema: dict):
    """Compile a pact schema into ONE vectorized pandas UDF for JSON-string
    payload columns: ``errors = udf(json_col)`` returning ``array<string>``,
    Arrow-batched (Series → Series), :func:`_json_payload_errors` per row.
    """

    @pandas_udf(T.ArrayType(T.StringType()))
    def _validate(s: pd.Series) -> pd.Series:
        return pd.Series([_json_payload_errors(raw, schema) for raw in s])

    return _validate


def json_mode_dispatch_validator(schemas: dict[str, dict], spark):
    """ONE vectorized pandas UDF for mixed-coordinate envelope validation:
    ``errors = udf(category, name, data_json)``. The per-row (category,
    name) dispatch happens INSIDE the UDF against a broadcast
    ``{category/name: schema}`` dict — one Arrow pass regardless of
    registry size, where a CASE of per-schema UDFs would cost one pass
    per schema (Catalyst evaluates every branch's Python UDF).

    Unknown coordinates get the validator-level 2-part string
    ``Schema not found: {category}/{name}`` (Validator.java:68); known
    ones get :func:`_json_payload_errors`, as in :func:`json_mode_validator`.
    """
    # ship the registry once per executor, not once per task closure
    bc = spark.sparkContext.broadcast(dict(schemas))

    @pandas_udf(T.ArrayType(T.StringType()))
    def _validate(cat: pd.Series, nam: pd.Series, data: pd.Series) -> pd.Series:
        table = bc.value
        out = []
        for c, n, raw in zip(cat, nam, data):
            schema = table.get(f"{c}/{n}")
            if schema is None:
                out.append([E.schema_not_found(c, n)])
            else:
                out.append(_json_payload_errors(raw, schema))
        return pd.Series(out)

    return _validate
