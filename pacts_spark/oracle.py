"""Pure-Python differential oracle: faithful port of the reference validator.

This is NOT the engine — it is the test oracle (SURVEY.md §5.2(2)). It
re-implements, row-at-a-time, the exact semantics of:

- ``Validator.validateData``        (Validator.java:191-201; validator.rs:109-117)
- ``Validator.validateRequiredFields`` (Validator.java:118-128; validator.rs:132-144)
- ``Validator.validateType``        (Validator.java:137-144; validator.rs:146-154)
- ``Validator.validateProperties``  (Validator.java:154-182; validator.rs:156-194)
- 7-way type dispatch, unknown type name → pass
                                    (Validator.java:90-109; validator.rs:119-130)
- ``Validator.validate`` header checks (Validator.java:39-81; validator.rs:73-106)
- ``ValidationResult`` algebra      (ValidationResult.java:8-77; validator.rs:6-56)

Semantics preserved exactly:
- check order: required[] in schema-array order → top-level type →
  properties in schema-object insertion order (Validator.java:196-198);
- an explicit JSON ``null`` field PASSES the required check (``has()`` /
  ``get().is_some()`` — Validator.java:123; validator.rs:137) but fails a
  non-null type check;
- absent optional properties are skipped (Validator.java:176; validator.rs:182);
- property checks are non-recursive — only the top-level JSON type of each
  present property is checked (SpringBootMessageTest.java:193-231);
- ``integer`` means integral (bool excluded; float like 5.0 rejected —
  Jackson isIntegralNumber / serde is_i64||is_u64);
- unknown type names validate as pass (Validator.java:106-107).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pacts_spark import errors as E

@dataclass
class ValidationResult:
    """Mirror of ValidationResult.java:8-77 / validator.rs:6-56."""

    valid: bool
    errors: list[str] = field(default_factory=list)

    @property
    def error_message(self) -> str:
        if not self.errors:
            return E.VALIDATION_SUCCESSFUL
        return E.ERROR_JOINER.join(self.errors)


def json_type_matches(value: Any, expected: str) -> bool:
    """7-way JSON type dispatch (Validator.java:90-109; validator.rs:119-130).

    ``value`` is a parsed-JSON Python value (dict/list/str/bool/int/float/None).
    Unknown type names return True (Validator.java:106-107; validator.rs:128).
    """
    if expected == "object":
        return isinstance(value, dict)
    if expected == "array":
        return isinstance(value, list)
    if expected == "string":
        return isinstance(value, str)
    if expected == "number":
        # bool is a subtype of int in Python but NOT a JSON number
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if expected == "integer":
        # Jackson isIntegralNumber / serde is_i64||is_u64: 5.0 is NOT integral
        return isinstance(value, int) and not isinstance(value, bool)
    if expected == "boolean":
        return isinstance(value, bool)
    if expected == "null":
        return value is None
    return True  # unknown type name → pass


def validate_data(data: Any, schema: dict) -> ValidationResult:
    """Port of Validator.validateData (Validator.java:191-201)."""
    errs: list[str] = []
    # 1. required fields, in schema-array order (Validator.java:118-128)
    for fname in schema.get("required", []) or []:
        present = isinstance(data, dict) and fname in data  # has(): null counts
        if not present:
            errs.append(E.required_field_missing(fname))
    # 2. top-level type (Validator.java:137-144)
    top = schema.get("type")
    if isinstance(top, str) and not json_type_matches(data, top):
        errs.append(E.invalid_type(top))
    # 3. per-property type, schema-object insertion order, present-only,
    #    non-recursive (Validator.java:154-182)
    props = schema.get("properties")
    if isinstance(props, dict) and isinstance(data, dict):
        for pname, pschema in props.items():
            if pname not in data:  # absent optional property → skip
                continue
            ptype = (pschema or {}).get("type")
            if isinstance(ptype, str) and not json_type_matches(data[pname], ptype):
                errs.append(E.invalid_type_for_field(pname, ptype))
    return ValidationResult(valid=not errs, errors=errs)


def validate_envelope(
    header: dict | None,
    data: Any,
    schemas: dict[str, dict],
    domain: str = "bees",
) -> ValidationResult:
    """Port of Validator.validate (Validator.java:39-81; validator.rs:73-106).

    ``schemas`` is keyed ``"{category}/{name}"`` (registry handles the full
    ``domain/version/category/name`` key; the validator looks up by
    category+name — SchemaLoader.java:81-101).
    """
    if header is None or not any(
        header.get(k) for k in ("schema_category", "schema_name", "schema_version")
    ):
        # Java: null header (Validator.java:43-46); Rust: all coords empty
        # (validator.rs:76-82). Engine accepts either (SURVEY.md §2.2).
        return ValidationResult(valid=False, errors=[E.HEADER_REQUIRED])

    errs: list[str] = []
    category = header.get("schema_category")
    name = header.get("schema_name")
    version = header.get("schema_version")
    if not category:
        errs.append(E.CATEGORY_REQUIRED)
    if not name:
        errs.append(E.NAME_REQUIRED)
    if not version:
        errs.append(E.VERSION_REQUIRED)

    if category and name:
        schema = schemas.get(f"{category}/{name}")
        if schema is None:
            errs.append(E.schema_not_found(category, name))
        else:
            errs.extend(validate_data(data, schema).errors)
    return ValidationResult(valid=not errs, errors=errs)
