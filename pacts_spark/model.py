"""Envelope data model + JSON wire format.

Mirrors the reference's Envelope/Header (Envelope.java:9-18, Header.java:11-25;
rust/src/model/envelope.rs:7-16, header.rs:6-21) as a Spark StructType and
``from_json``/``to_json`` serde (PactsService.java:127-136 parity).

Wire format::

    {"header": {"schema_version": "...", "schema_category": "...",
                "schema_name": "...", "timestamp": "ISO-8601",
                "content_type": "..."},
     "data": <arbitrary JSON>,
     "metadata": {<string,string>}}

``data`` stays a raw JSON string inside the struct (arbitrary shape —
schema-on-read, validated by the JSON-mode compiler). ``metadata`` is
carried but NEVER validated (parity: the reference never reads it —
SURVEY.md §1.1). ``timestamp`` is auto-stamped now() in the reference
(Header.java:43; header.rs:30); the engine takes a deterministic injected
``run_ts`` instead so outputs are reproducible (SURVEY.md §7(d)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HEADER_SCHEMA = T.StructType(
    [
        T.StructField("schema_version", T.StringType()),
        T.StructField("schema_category", T.StringType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("timestamp", T.StringType()),  # ISO-8601 wire form
        T.StructField("content_type", T.StringType()),
    ]
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("header", HEADER_SCHEMA),
        # from_json keeps a StringType field's JSON subtree as its raw text;
        # the JSON-mode pandas UDF validates it
        T.StructField("data", T.StringType()),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
    ]
)


def parse_envelopes(
    df: DataFrame, json_col: str = "value", keep: tuple[str, ...] = ()
) -> DataFrame:
    """JSON string column → (header struct, data raw-JSON string, metadata).

    Parity with PactsService.parseEnvelope (PactsService.java:127-131).
    One ``from_json`` per row; a duplicate key takes its last value, as
    Jackson and ``json.loads`` do. ``keep`` carries key columns (e.g. a
    message/event id) alongside the parsed envelope.
    """
    # expanded in a second projection: field accesses on the from_json call
    # itself would each be rewritten into a pruned from_json of their own
    parsed = df.select(
        *keep, F.from_json(F.col(json_col), ENVELOPE_SCHEMA).alias("_envelope")
    )
    return parsed.select(*keep, "_envelope.*")


def envelope_json(
    data_json: Column,
    version: str,
    category: str,
    name: str,
    run_ts: str,
    content_type: str = "application/json",
    metadata: Column | None = None,
) -> Column:
    """Envelope → JSON string (PactsService.toJson, PactsService.java:133-136;
    header stamping per createEnvelope, PactsService.java:39-47 — version
    from the loader, content_type ``application/json``, deterministic
    ``run_ts`` instead of now())."""
    header = F.to_json(
        F.struct(
            F.lit(version).alias("schema_version"),
            F.lit(category).alias("schema_category"),
            F.lit(name).alias("schema_name"),
            F.lit(run_ts).alias("timestamp"),
            F.lit(content_type).alias("content_type"),
        )
    )
    meta = F.to_json(metadata) if metadata is not None else F.lit(None).cast("string")
    return F.concat(
        F.lit('{"header": '),
        header,
        F.lit(', "data": '),
        F.coalesce(data_json, F.lit("null")),
        F.when(meta.isNotNull(), F.concat(F.lit(', "metadata": '), meta)).otherwise(
            F.lit("")
        ),
        F.lit("}"),
    )
