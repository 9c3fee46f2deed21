"""PactsEngine — the service facade, lifted from row-at-a-time to DataFrames.

Mirrors PactsService (PactsService.java:18-169; rust/src/impl/service.rs:7-102):

- ``validate_data(df, category, name)``  ≙ PactsService.validateData
  (PactsService.java:68-94): schema lookup, missing → per-row error with the
  4-part string (Java graceful path; Rust panics — SURVEY.md §2.2), else the
  compiled 3-check validation.
- ``validate_envelopes(df)``             ≙ Validator.validate
  (Validator.java:39-81): header presence checks → per-coordinate schema
  dispatch → data validation; supports MIXED coordinates in one DataFrame
  via one dispatching pandas UDF over a broadcast schema dict.
- ``send_validated(df, ...)``            ≙ PactsService.sendValidatedData
  (PactsService.java:106-122): gate — valid rows reach the sink, any
  violation raises ``ValidationException("Validation failed: ...")``.

Execution model: the schema compiles ONCE on the driver into a fused
single-projection plan, so validating rows adds no shuffle. Violation rows
and per-partition verdicts are ``runner.ValidationRun``'s outputs, derived
from this projection together with the uniqueness and RI checks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pacts_spark import errors as E
from pacts_spark.compiler import (
    compile_relational,
    errors_column,
    json_mode_dispatch_validator,
    json_mode_validator,
)
from pacts_spark.registry import SchemaRegistry


class ValidationException(Exception):
    """Gate failure (PactsService.java:115-119; service.rs:83)."""


def _finalize(df: DataFrame, errors: Column) -> DataFrame:
    """The one projection every validation path ends in: ``errors``, then
    ``valid`` and ``error_message`` from it (ValidationResult.java:71-77)."""
    df = df.withColumn("errors", errors)
    df = df.withColumn("valid", F.size("errors") == F.lit(0))
    return df.withColumn(
        "error_message",
        F.when(F.col("valid"), F.lit(E.VALIDATION_SUCCESSFUL)).otherwise(
            F.array_join("errors", E.ERROR_JOINER)
        ),
    )


class PactsEngine:
    """Driver-side facade bound to one SchemaRegistry (PactsConfig.java:15-38
    defaults: domain ``bees``, version ``v1``)."""

    def __init__(self, registry: SchemaRegistry) -> None:
        self.registry = registry

    # -- core validation ----------------------------------------------------

    def validate_data(
        self, df: DataFrame, category: str, name: str, json_col: str | None = None
    ) -> DataFrame:
        """Validate a payload DataFrame against one schema
        (PactsService.validateData, PactsService.java:68-94). Header checks
        are skipped — this is the bare-payload API (SURVEY.md §3.2).

        ``json_col=None`` → relational mode over the typed columns;
        otherwise JSON mode over that string column.
        """
        schema = self.registry.load_schema(category, name)
        if schema is None:
            # Java behavior: synthetic failure row with the 4-part string
            # (PactsService.java:78-89); Rust would panic (SURVEY.md §2.2).
            msg = E.schema_not_found_full(
                self.registry.domain, self.registry.version, category, name
            )
            return _finalize(df, F.array(F.lit(msg)))
        if json_col is not None:
            return _finalize(df, json_mode_validator(schema)(F.col(json_col)))
        return _finalize(df, errors_column(compile_relational(schema, df.schema)))

    def validate_envelopes(self, df: DataFrame) -> DataFrame:
        """Full Validator.validate lifecycle (Validator.java:39-81) over an
        envelope DataFrame (columns: ``header`` struct, ``data`` raw-JSON
        string — model.parse_envelopes output).

        Mixed coordinates are handled by ONE dispatching pandas UDF over
        (category, name, data) against a broadcast schema dict — one Arrow
        pass per row regardless of registry size (a per-schema CASE of
        UDF branches is evaluated unconditionally by Catalyst: S schemas
        would cost S passes). Unknown coordinates get the dynamic
        ``Schema not found: {category}/{name}`` string (Validator.java:68).
        """
        h = F.col("header")
        cat = h.getField("schema_category")
        nam = h.getField("schema_name")
        ver = h.getField("schema_version")
        blank = lambda c: c.isNull() | (c == F.lit(""))  # noqa: E731

        # Java: header null; Rust: all three coords empty → same verdict
        # (SURVEY.md §2.2 pick-either).
        header_missing = h.isNull() | (blank(cat) & blank(nam) & blank(ver))

        coord_errs = F.array_compact(
            F.array(
                F.when(blank(cat), F.lit(E.CATEGORY_REQUIRED)),
                F.when(blank(nam), F.lit(E.NAME_REQUIRED)),
                F.when(blank(ver), F.lit(E.VERSION_REQUIRED)),
            )
        )

        # single-dispatch: one pandas UDF resolves (category, name) → schema
        # inside Python per Arrow batch (compiler.json_mode_dispatch_validator)
        dispatch_udf = json_mode_dispatch_validator(
            self.registry.as_validator_dict(), spark=df.sparkSession
        )
        schema_errs = dispatch_udf(cat, nam, F.col("data"))
        # schema lookup + data validation only when both coords present
        # (Validator.java:61-74)
        schema_errs = F.when(~blank(cat) & ~blank(nam), schema_errs).otherwise(
            F.array().cast("array<string>")
        )

        errors = F.when(
            header_missing, F.array(F.lit(E.HEADER_REQUIRED))
        ).otherwise(F.concat(coord_errs, schema_errs))
        return _finalize(df, errors)

    # -- gate ---------------------------------------------------------------

    def send_validated(
        self,
        df: DataFrame,
        category: str,
        name: str,
        sender: Callable[[DataFrame], None],
        key_cols: list[str] | None = None,
        json_col: str | None = None,
    ) -> DataFrame:
        """Validate-then-send gate (PactsService.sendValidatedData,
        PactsService.java:106-122): on ANY violation raise
        ``ValidationException("Validation failed: {first row's joined
        errors}")`` (deterministic first row under key order); else hand the
        validated DataFrame to ``sender``.
        """
        validated = self.validate_data(df, category, name, json_col=json_col)
        bad = validated.filter(~F.col("valid"))
        # deterministic first row: key order when keys are given, else the
        # minimum error_message — never an arbitrary partition-order pick
        # (repo invariant: no nondeterminism in any output path)
        bad = bad.orderBy(*key_cols) if key_cols else bad.orderBy("error_message")
        first = bad.select("error_message").limit(1).collect()
        if first:
            raise ValidationException(E.validation_failed(first[0][0]))
        sender(validated)
        return validated
