"""Per-column statistics checks (north_star: null-rate, min/max, distinct).

Generalizes the reference's required-field check (Validator.java:118-128)
from a per-row verdict to per-partition column health metrics.

Scale design: one ``groupBy(partition, column)`` pass over the rows
exploded to one entry per column computes ALL per-column aggregates in a
single shuffle — partial aggregation (map-side combine) means the
shuffle carries one row per (mapper, partition, column), not per input
row. The approximate distinct count is ONE DataSketches HLL sketch per
(partition, column) group, fed a 64-bit hash of the value, so every
column type shares one sketch definition; ``exact_distinct=True``
dedupes on the value first (a second shuffle), for oracle-comparable
small-scale runs.

Cost: a distinct sketch is paid per input task, not once. Spark's HLL++
(``approx_count_distinct``) at rsd 0.01 carries a 1,639-long buffer in a
non-codegen aggregate and, next to the string min/max, planned the
aggregate as a sort; its stats CPU grew with the input tasks (1.0–1.4 s
with 1 task, 3.6 s with 4, 12.5–14.1 s with 16 at local[4]). The
DataSketches sketch (``hll_sketch_agg``) plans as one
``ObjectHashAggregate`` and took a third of that CPU on the benchmark's
stats write (10 days × 5 columns, 4 tasks).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pacts_spark.datapipe.similarity import VECTOR_MAX_ABS, healthy_element


def hll_lg_k(rsd: float) -> int:
    """HLL++'s register-count formula, ``ceil(2·log2(1.106/rsd))``, as a
    DataSketches ``lgConfigK``: rsd 0.01 → 14 (16,384 registers, as
    HLL++ holds). Raises ``ValueError`` outside the sketch's range 4–21
    (rsd above ~0.39 or below ~0.00077)."""
    lg_k = math.ceil(2 * math.log2(1.106 / rsd)) if rsd > 0 else None
    if lg_k is None or not 4 <= lg_k <= 21:
        raise ValueError(
            f"rsd={rsd} maps to no lgConfigK in 4-21, the range hll_sketch_agg accepts"
        )
    return lg_k


def hll_distinct(h: Column, lg_k: int) -> Column:
    """Approximate distinct count of the non-NULL 64-bit hashes ``h``
    (NULLs are not counted).

    The estimate goes through a union of the sketch with itself, which
    forces the composite estimator: a plain ``hll_sketch_estimate`` keeps
    the HIP estimator for a group whose rows all sat in one input
    partition, so its value would depend on how the input was split."""
    s = F.hll_sketch_agg(h, lg_k)
    return F.hll_sketch_estimate(F.hll_union(s, s))


def column_stats(
    df: DataFrame,
    columns: list[str],
    partition_col: Column | str | None = None,
    exact_distinct: bool = False,
    rsd: float = 0.01,
) -> DataFrame:
    """Long-form stats: one output row per (partition, column) with
    null_ppm (integer parts-per-million null rate), n_nulls, n_rows,
    n_distinct; min/max as strings (heterogeneous column types in one
    long-form table).

    Each input row explodes into one entry per column — (column, null
    flag, value as string, value identity) — and ONE
    ``groupBy(part, column)`` aggregates them: one shuffle for all
    columns.

    - Approximate (default): the identity is a 64-bit ``xxhash64`` of
      the value in its own type, and each group holds one DataSketches
      HLL sketch (:func:`hll_distinct`) with ``lgConfigK`` from
      :func:`hll_lg_k` (``ValueError`` for an ``rsd`` outside its
      range). The estimate does not depend on the input's partitioning.
      The aggregate is an ``ObjectHashAggregate``: past 128 (part,
      column) groups in one task
      (``spark.sql.objectHashAggregate.sortBased.fallbackThreshold``)
      it falls back to sorting that task's entries — still correct,
      slower.
    - ``exact_distinct=True``: the identity is the value in its own type
      (one slot per distinct column type, NULL elsewhere); the entries
      are deduped on (part, column, value) first and the non-NULL groups
      counted — the same answer as ``count(DISTINCT)``.
    """
    types = {f.name: f.dataType for f in df.select(*columns).schema.fields}
    if exact_distinct:
        slots = list(dict.fromkeys(types[c] for c in columns))
        vals = [f"v{i}" for i in range(len(slots))]
    else:
        lg_k = hll_lg_k(rsd)

    def entry(c: str, v: Column, nul: Column) -> Column:
        if exact_distinct:
            ident = [
                (v if types[c] == t else F.lit(None).cast(t)).alias(f"v{i}")
                for i, t in enumerate(slots)
            ]
        else:
            # NULL stays NULL, so the sketch does not count it
            ident = [F.when(v.isNotNull(), F.xxhash64(v)).alias("h")]
        return F.struct(
            F.lit(c).alias("column"), nul.alias("nul"), v.cast("string").alias("s"), *ident
        )

    if partition_col is None:
        part = F.lit("__all__")
    else:
        part = F.col(partition_col) if isinstance(partition_col, str) else partition_col
    long = df.select(
        part.alias("part"),
        F.inline(
            F.array(*[entry(c, F.col(c), F.col(c).isNull().cast("long")) for c in columns])
        ),
    )
    if partition_col is None:
        # one all-NULL marker entry per column (nul NULL: counted in no
        # aggregate) so an empty input still yields one row per column
        # with n_rows = 0, as a global aggregate does
        null = lambda t: F.lit(None).cast(t)  # noqa: E731
        long = long.unionByName(
            df.sparkSession.range(1).select(
                part.alias("part"),
                F.inline(F.array(*[entry(c, null(types[c]), null("long")) for c in columns])),
            )
        )

    if exact_distinct:
        # one group per distinct value: min(s) is non-NULL iff the value is
        long = long.groupBy("part", "column", *vals).agg(
            F.count("nul").alias("n_rows"),
            F.sum("nul").alias("n_nulls"),
            F.min("s").alias("s"),
            F.max("s").alias("s_max"),
        )
        aggs = [
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_nulls").alias("n_nulls"),
            F.count("s").alias("n_distinct"),
            F.min("s").alias("min_value"),
            F.max("s_max").alias("max_value"),
        ]
    else:
        aggs = [
            F.count("nul").alias("n_rows"),
            F.sum("nul").alias("n_nulls"),
            hll_distinct(F.col("h"), lg_k).alias("n_distinct"),
            F.min("s").alias("min_value"),
            F.max("s").alias("max_value"),
        ]
    # null rate as integer parts-per-million (long): exact cross-engine
    # representation — float rates serialize differently between engines
    # (CLAUDE.md invariant: prefer int/string outputs)
    return long.groupBy("part", "column").agg(*aggs).select(
        "part",
        "column",
        "n_rows",
        "n_nulls",
        F.expr("n_nulls * 1000000 div n_rows").alias("null_ppm"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def vector_column_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    expected_dim: int = 64,
    partition_col: Column | str | None = None,
    max_abs: float = VECTOR_MAX_ABS,
) -> DataFrame:
    """Vector-column health check: validates an ``array<float>`` column
    the way :func:`column_stats` validates scalars — the embedding
    analogue of the reference's per-field presence/type checks
    (Validator.java:118-176), lifted to the column level.

    One output row per partition with
    - ``n_rows`` / ``n_null`` — presence;
    - ``n_bad_dim`` — non-null vectors whose length != ``expected_dim``
      (the "wrong type" of the vector world);
    - ``n_nonfinite`` — right-length vectors containing an UNHEALTHY
      element: NULL / NaN / ±Inf (poisoned embeddings: one NaN silently
      zeroes a whole cosine-similarity matmul downstream) or
      ``|x| > max_abs`` (unquantizable magnitude — beyond the bound the
      micro² integer space itself overflows BIGINT, so the health check
      would CRASH on exactly the rows it exists to flag; poisoned-
      fixture regression). With the default bound (VECTOR_MAX_ABS=100) a vector's
      norm² is ≤ dim·1e16 micro² — overflow-safe to dim 900;
      embeddings are unit-norm-ish so real corpora sit orders below;
    - ``n_zero`` — GOOD vectors whose quantized norm is 0 (all elements
      |x| < 5e-7 — dead embeddings that rank arbitrarily under cosine);
    - ``min_norm2_micro2`` / ``max_norm2_micro2`` — exact min/max squared
      L2 norm over good vectors, in integer micro² units (elements
      quantized to round(x*1e6) BIGINT first — the repo's cross-engine
      number space, zero float rounding);
    - ``sum_norm2_micro`` — Σ over good vectors of floor(norm²·1e6)
      (per-row truncation BEFORE the sum keeps every intermediate a
      BIGINT and the total order-independent; at 1e12 rows × unit-norm
      vectors the sum is ~1e18 < 2^63).

    Scale: ONE scan, ONE aggregate (map-side combine) — the shuffle
    carries one partial row per (mapper, partition). No UDFs: the norm
    fold is a Column-tree ``aggregate`` inside whole-stage codegen.
    """
    v = F.col(vec_col)
    dbl = lambda x: x.cast("double")  # noqa: E731
    is_null = v.isNull()
    bad_dim = ~is_null & (F.size(v) != F.lit(int(expected_dim)))
    # single-sourced element rule (similarity.healthy_element); the
    # default bound is the SAME constant the SQL twins interpolate
    nonfinite_el = lambda x: ~healthy_element(x, max_abs)  # noqa: E731
    nonfinite = ~is_null & ~bad_dim & F.exists(v, nonfinite_el)
    good = ~is_null & ~bad_dim & ~nonfinite
    qv = F.transform(v, lambda x: F.round(dbl(x) * F.lit(1_000_000.0)).cast("long"))
    norm2 = F.aggregate(
        qv, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    # project to NAMED columns first so the truncation can use true
    # integer division (SQL `div`): the double-division trick is only
    # exact below 2^53 micro², which unnormalized vectors exceed
    pre = df.select(
        *([] if partition_col is None else [
            (F.col(partition_col) if isinstance(partition_col, str) else partition_col)
            .alias("part")
        ]),
        is_null.alias("__is_null"),
        bad_dim.alias("__bad_dim"),
        nonfinite.alias("__nonfinite"),
        good.alias("__good"),
        F.when(good, norm2).alias("__n2"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("__is_null").cast("long")).alias("n_null"),
        F.sum(F.col("__bad_dim").cast("long")).alias("n_bad_dim"),
        F.sum(F.col("__nonfinite").cast("long")).alias("n_nonfinite"),
        F.sum((F.col("__good") & (F.col("__n2") == 0)).cast("long")).alias("n_zero"),
        F.min("__n2").alias("min_norm2_micro2"),
        F.max("__n2").alias("max_norm2_micro2"),
        F.sum(F.expr("__n2 div 1000000")).alias("sum_norm2_micro"),
    ]
    if partition_col is None:
        return pre.agg(*aggs).select(F.lit("__all__").alias("part"), "*")
    return pre.groupBy("part").agg(*aggs)


def json_field_type_histogram(
    df: DataFrame,
    json_col: str,
    fields: list[str],
    partition_col: Column | str | None = None,
) -> DataFrame:
    """Observed-type histogram over top-level fields of a raw JSON
    payload column — payload schema-drift detection: a producer that
    starts sending ``"turn_idx": "5"`` (string) instead of ``5``
    (number) shows up as a new (field, jtype) row long before the typed
    validator's per-row errors are triaged.

    Per (field, jtype) counts where jtype ∈ string / number / boolean /
    null / object / array / missing (key absent OR payload NULL) /
    invalid (payload present but unparseable). Classification reads the
    RAW JSON value text (Spark 4 variant: ``try_parse_json`` →
    ``try_variant_get(.., 'variant')`` → ``to_json``), so it sees what
    the producer actually wrote — quoted numbers stay strings — which
    ``from_json``-to-map would erase (map<string,string> strips quotes).

    Scale: ONE scan; the parse happens once per row (one variant
    build, m cheap path extracts); the shuffle carries (field, jtype)
    pairs pre-combined map-side — output cardinality ≤ m·8 regardless
    of corpus size. Pure Column tree, no UDF.
    """
    payload = F.col(json_col)
    pj = F.try_parse_json(payload)

    def classify(field: str) -> Column:
        raw = F.to_json(F.try_variant_get(pj, f"$.{field}", "variant"))
        return (
            F.when(payload.isNotNull() & pj.isNull(), F.lit("invalid"))
            .when(raw.isNull(), F.lit("missing"))
            .when(raw.startswith('"'), F.lit("string"))
            .when(raw == "null", F.lit("null"))
            .when((raw == "true") | (raw == "false"), F.lit("boolean"))
            .when(raw.startswith("{"), F.lit("object"))
            .when(raw.startswith("["), F.lit("array"))
            .otherwise(F.lit("number"))
        )

    pairs = F.array(
        *[
            F.struct(F.lit(f).alias("field"), classify(f).alias("jtype"))
            for f in fields
        ]
    )
    exploded = df.select(
        *([] if partition_col is None else [F.col(partition_col).alias("part")]),
        F.explode(pairs).alias("fj"),
    )
    keys = (["part"] if partition_col is not None else []) + [
        F.col("fj.field").alias("field"),
        F.col("fj.jtype").alias("jtype"),
    ]
    return exploded.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def infer_payload_schema(hist: DataFrame) -> DataFrame:
    """Bootstrap a pact schema from observed payload types: consumes
    :func:`json_field_type_histogram` output (field, jtype, n) and
    emits, per field, the MODAL concrete type plus the evidence a
    schema author needs —

    - ``inferred_type``: most-observed jtype excluding null / missing /
      invalid ('unknown' when no concrete observation exists); ties
      break to the alphabetically first type (deterministic);
    - ``support_ppm``: modal-type observations as integer ppm of ALL
      observations for the field (exact-multiple integer division);
    - ``nullable``: any JSON-null observed;
    - ``required``: no missing-key observation.

    Feed the result through :func:`schema_dict_from_inference` to get a
    dict the compiler validates with directly — observed data to
    enforced contract with no human in the loop.

    Scale: the histogram is already tiny (≤ fields×8 rows), so the
    window/aggregate here are driver-bounded by construction; the heavy
    lifting happened in the histogram's single corpus scan.
    """
    from pyspark.sql import Window

    concrete = hist.filter(~F.col("jtype").isin("null", "missing", "invalid"))
    w = Window.partitionBy("field").orderBy(F.col("n").desc(), F.col("jtype").asc())
    modal = (
        concrete.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("field", F.col("jtype").alias("inferred_type"), F.col("n").alias("__n_modal"))
    )
    totals = hist.groupBy("field").agg(
        F.sum("n").alias("__n_total"),
        (F.sum(F.when(F.col("jtype") == "null", F.col("n")).otherwise(0)) > 0).alias(
            "nullable"
        ),
        (F.sum(F.when(F.col("jtype") == "missing", F.col("n")).otherwise(0)) == 0).alias(
            "required"
        ),
    )
    return (
        totals.join(modal, "field", "left")
        .select(
            "field",
            F.coalesce(F.col("inferred_type"), F.lit("unknown")).alias("inferred_type"),
            # true integer division (SQL div): exact for any BIGINT, no
            # 2^53 double-rounding bound on n_modal * 1e6
            F.expr(
                "coalesce(__n_modal, 0) * 1000000 div __n_total"
            ).alias("support_ppm"),
            "nullable",
            "required",
        )
    )


_JSON_TO_PACT_TYPE = {
    "string": "string",
    "number": "number",
    "boolean": "boolean",
    "object": "object",
    "array": "array",
}


def schema_dict_from_inference(
    inferred_rows, min_support_ppm: int = 900_000
) -> dict:
    """Collected :func:`infer_payload_schema` rows → a pact schema dict
    (the compiler's input format): fields whose modal type carries at
    least ``min_support_ppm`` support get a typed property; fields that
    were never missing AND never null become ``required``. Driver-side
    by design — the input is one row per field."""
    props: dict = {}
    required: list[str] = []
    for r in sorted(inferred_rows, key=lambda r: r["field"]):
        t = _JSON_TO_PACT_TYPE.get(r["inferred_type"])
        if t is not None and r["support_ppm"] >= min_support_ppm:
            props[r["field"]] = {"type": t}
        else:
            props[r["field"]] = {}
        if r["required"] and not r["nullable"]:
            required.append(r["field"])
    return {"type": "object", "properties": props, "required": required}
