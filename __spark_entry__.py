"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Both come from one table, ``QUERY_TABLE``: name → (Spark query, DuckDB
twin SQL, last round with a driver row). ``oracle_sql()`` lists the twins;
``queries()`` lists the Spark queries sorted stably by that round
(0 = no driver row yet), because the driver checks only about the first 50
entries in dict order: the queries it checked longest ago go first. After a
driver round, set each checked row's round to that round's number
(``tests/test_entry.py`` compares it with the newest
``CORRECTNESS_r*.json`` that has the name).

The engine's primary input shape is the BASELINE.json transcripts table
``(conv_id, turn_idx, role, text, tool, ts)``. Since the DuckDB side only
sees the pre-registered testdata views, the transcripts table is DERIVED
from ``events`` by the canonical deterministic mapping below — implemented
identically in Spark (pacts_spark.transcripts.transcripts_from_events) and
in SQL (TRANSCRIPTS_SQL) — so every validation check gets full oracle
coverage. The derivation deliberately injects violations (null text,
duplicate turn_idx, orphan conv/tool) so checks return non-empty results.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pacts_spark.checks import (
    category_histogram,
    column_stats,
    drift_scores,
    duplicate_keys,
    gap_quantiles_discrete,
    ri_violations,
)
from pacts_spark.datapipe.dedup import (
    exact_duplicate_pairs,
    exact_duplicates,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from pacts_spark.datapipe.packing import pack_oracle_sql
from pacts_spark.datapipe.similarity import (
    VECTOR_MAX_ABS as _VECTOR_MAX_ABS,
    cosine_topk,
    lsh_ann_topk,
)
from pacts_spark.datapipe.textstats import doc_fingerprint, language_id, text_stats
from pacts_spark.engine import PactsEngine
from pacts_spark.registry import SchemaRegistry
from pacts_spark.runner import RunResult, ValidationRun, day_part
from pacts_spark.session import local_frame
from pacts_spark.transcripts import (
    conversations_dim,
    tools_dim,
    transcripts_from_events,
)

# ---------------------------------------------------------------------------
# canonical transcripts derivation — MUST stay byte-equivalent to
# pacts_spark.transcripts.transcripts_from_events
# ---------------------------------------------------------------------------

TRANSCRIPTS_SQL = """
SELECT
  'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
  CAST(CASE WHEN event_id % 97 = 0 THEN 1
       ELSE row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type, props)
       END AS INTEGER) AS turn_idx,
  CASE event_type WHEN 'signup' THEN 'system'
                  WHEN 'view' THEN 'user'
                  WHEN 'error' THEN 'tool'
                  ELSE 'assistant' END AS role,
  NULLIF(props, '{"k": 0}') AS text,
  CASE WHEN event_type = 'error'
       THEN 'tool-' || CAST(event_id % 7 AS VARCHAR) END AS tool,
  ts AS ts
FROM events
"""

CONVS_SQL = """
SELECT DISTINCT 'conv-' || CAST(user_id AS VARCHAR) AS conv_id
FROM events WHERE user_id % 29 <> 7
"""

TOOLS_IN = "('tool-0', 'tool-1', 'tool-2', 'tool-3', 'tool-4')"

ORDERS_CHECK_SCHEMA = {
    "type": "object",
    "properties": {
        "o_orderkey": {"type": "integer"},
        "o_orderstatus": {"type": "string", "enum": ["O", "F"]},
        "o_totalprice": {"type": "integer"},
    },
    "required": ["o_orderkey", "o_custkey", "o_clerk"],
}

PROPS_CHECK_SCHEMA = {
    "type": "object",
    "properties": {"k": {"type": "integer"}},
    "required": ["k", "v"],
}

# strict transcript-turn schema exercising the enum + pattern engine
# extensions through the oracle (role 'tool' is deliberately outside the
# enum so real violations surface)
STRICT_TURN_SCHEMA = {
    "type": "object",
    "properties": {
        "conv_id": {"type": "string", "pattern": r"conv-\d+"},
        "turn_idx": {"type": "integer"},
        "role": {"type": "string", "enum": ["system", "user", "assistant"]},
        "text": {"type": "string"},
        "ts": {"type": "string"},
    },
    "required": ["conv_id", "turn_idx", "role", "text", "ts"],
}


# conditional-turn schema exercising the CROSS-FIELD engine extensions
# (JSON Schema dependentRequired + simplified if/then const) — contracts
# the reference's per-field validator structurally cannot express
CONDITIONAL_TURN_SCHEMA = {
    "type": "object",
    "properties": {
        "conv_id": {"type": "string"},
        "turn_idx": {"type": "integer"},
        "role": {"type": "string"},
        "text": {"type": "string"},
        "tool": {"type": "string"},
        "ts": {"type": "string"},
    },
    # text deliberately NOT unconditionally required: its requirement is
    # conditional below, so the conditional errors surface in isolation
    "required": ["conv_id", "turn_idx", "role", "ts"],
    "dependentRequired": {"tool": ["text"]},
    "if": {"properties": {"role": {"const": "assistant"}}},
    "then": {"required": ["text"]},
}


def _registry() -> SchemaRegistry:
    reg = SchemaRegistry(domain="bees", version="v1", schema_root=REPO / "schemas")
    reg.load_dir(REPO / "schemas")
    reg.put("tpch", "orders_check", ORDERS_CHECK_SCHEMA)
    reg.put("events", "props_check", PROPS_CHECK_SCHEMA)
    reg.put("transcripts", "turn_strict", STRICT_TURN_SCHEMA)
    reg.put("transcripts", "turn_conditional", CONDITIONAL_TURN_SCHEMA)
    return reg


def _engine() -> PactsEngine:
    return PactsEngine(_registry())


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcripts_from_events(_load(spark, sf_dir, "events"))


def _run(spark: SparkSession, sf_dir: str) -> RunResult:
    """``ValidationRun.run`` over the derived transcripts and dimensions:
    the one source of the violations and verdicts entry/queries return."""
    events = _load(spark, sf_dir, "events")
    # not persisted: with the checks on one flagged frame a cache no longer
    # pays (sf0.001, local[4], violations + verdicts, 5 interleaved warm
    # reps: 2.30 s median cached, 2.37 s not)
    t = transcripts_from_events(events)
    return ValidationRun(_engine()).run(
        spark, t, conversations=conversations_dim(events), tools=tools_dim(spark)
    )


# ---------------------------------------------------------------------------
# entry: flagship pipeline at sf0.001
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation run over the derived transcripts table —
    row-level schema checks + uniqueness + referential integrity, returning
    the exploded violations table under stable (conv_id, turn_idx) order."""
    sf_dir = "/root/testdata/sf0.001"
    return _run(spark, sf_dir).violations


# ---------------------------------------------------------------------------
# queries + oracle twins
# ---------------------------------------------------------------------------


# Shared healthy-embeddings source for every vector-kernel oracle twin —
# the SQL statement of similarity.healthy_vectors (dim=64 fixture space,
# max_abs=VECTOR_MAX_ABS): NULL / ragged vectors and NULL/NaN/Inf/huge
# elements never reach a list_cosine_similarity / micro-quantization
# (DuckDB raises on both; poisoned-fixture regression). Twins that read
# DERIVED vectors (embed_then_ann) keep their own source — derived
# vectors are healthy by construction.
# one comparison per element, same verdict as the expanded isnan/isinf
# OR-chain: NULL, NaN and +-Inf all FAIL abs(x) <= bound (DuckDB orders
# NaN greater than everything; Spark IEEE comparisons are false on NaN).
# DEAD (all-zero) vectors are excluded too: zero-vector cosine is a
# cross-engine CONVENTION (-1.0 in DuckDB vs the engine guard's 0.0).
# The bound interpolates the ENGINE constant so gate and twins cannot
# drift; 64 is the fixture dim (the twins are fixture-bound, see the
# _ann_sql dim assert).
_HEALTHY_EMB_PRED = (
    "embedding IS NOT NULL AND len(embedding) = 64"
    " AND len(list_filter(embedding, x -> x IS NULL"
    f" OR NOT (abs(CAST(x AS DOUBLE)) <= {_VECTOR_MAX_ABS}))) = 0"
    " AND len(list_filter(embedding,"
    " x -> abs(CAST(x AS DOUBLE)) > 0.0)) > 0"
)
_HEALTHY_EMB_SQL = f"(SELECT * FROM embeddings WHERE {_HEALTHY_EMB_PRED})"


def _q_validate_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    return _engine().validate_data(t, "transcripts", "turn").select(
        "conv_id", "turn_idx", "valid", "error_message"
    )


_VALIDATE_TRANSCRIPTS_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL})
SELECT conv_id, turn_idx,
       (conv_id IS NOT NULL AND turn_idx IS NOT NULL AND role IS NOT NULL
        AND text IS NOT NULL AND ts IS NOT NULL) AS valid,
       CASE WHEN conv_id IS NOT NULL AND turn_idx IS NOT NULL AND role IS NOT NULL
                 AND text IS NOT NULL AND ts IS NOT NULL
            THEN 'Validation successful'
            ELSE concat_ws('; ',
              CASE WHEN conv_id IS NULL THEN 'Required field missing: conv_id' END,
              CASE WHEN turn_idx IS NULL THEN 'Required field missing: turn_idx' END,
              CASE WHEN role IS NULL THEN 'Required field missing: role' END,
              CASE WHEN text IS NULL THEN 'Required field missing: text' END,
              CASE WHEN ts IS NULL THEN 'Required field missing: ts' END)
       END AS error_message
FROM t
"""


def _q_transcript_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir).violations.select(
        "conv_id", "turn_idx", F.col("check").alias("check_name"), "violation"
    )


_VIOLATIONS_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}), convs AS ({CONVS_SQL}),
dups AS (
  SELECT conv_id, turn_idx, count(*) AS cnt FROM t
  GROUP BY conv_id, turn_idx HAVING count(*) > 1
)
SELECT conv_id, turn_idx, 'schema' AS check_name,
       'Required field missing: conv_id' AS violation
FROM t WHERE conv_id IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'schema', 'Required field missing: turn_idx'
FROM t WHERE turn_idx IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'schema', 'Required field missing: role'
FROM t WHERE role IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'schema', 'Required field missing: text'
FROM t WHERE text IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'schema', 'Required field missing: ts'
FROM t WHERE ts IS NULL
UNION ALL
SELECT t.conv_id, t.turn_idx, 'uniqueness',
       'Duplicate key: (' || concat_ws(', ', 'conv_id=' || t.conv_id,
       'turn_idx=' || CAST(t.turn_idx AS VARCHAR)) || ') appears ' ||
       CAST(d.cnt AS VARCHAR) || ' times'
FROM t JOIN dups d ON t.conv_id IS NOT DISTINCT FROM d.conv_id
                  AND t.turn_idx IS NOT DISTINCT FROM d.turn_idx
UNION ALL
SELECT conv_id, turn_idx, 'referential_conv',
       'Referential violation: conv_id=' || conv_id || ' not in dimension'
FROM t WHERE conv_id NOT IN (SELECT conv_id FROM convs WHERE conv_id IS NOT NULL)
UNION ALL
SELECT conv_id, turn_idx, 'referential_tool',
       'Referential violation: tool=' || tool || ' not in dimension'
FROM t WHERE tool IS NOT NULL AND tool NOT IN {TOOLS_IN}
"""


def _q_partition_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir).verdicts


_VERDICTS_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}), convs AS ({CONVS_SQL}),
tp AS (SELECT *, CAST(ts AS DATE) AS part FROM t),
dups AS (
  SELECT conv_id, turn_idx FROM t GROUP BY conv_id, turn_idx HAVING count(*) > 1
),
checks AS (
  SELECT part, count(*) AS n_check FROM (
    SELECT tp.part FROM tp JOIN dups d
      ON tp.conv_id IS NOT DISTINCT FROM d.conv_id
     AND tp.turn_idx IS NOT DISTINCT FROM d.turn_idx
    UNION ALL
    SELECT part FROM tp WHERE conv_id NOT IN (SELECT conv_id FROM convs WHERE conv_id IS NOT NULL)
    UNION ALL
    SELECT part FROM tp WHERE tool IS NOT NULL AND tool NOT IN {TOOLS_IN}
  ) GROUP BY part
),
rowv AS (
  -- ALL of turn-schema's required fields, not just text: a NULL
  -- user_id/ts in events makes Spark emit conv_id/ts required errors
  -- the text-only reduction would miss (n_schema_viol counts ERROR
  -- STRINGS, n_invalid_rows counts rows with any)
  SELECT part,
         count(*) AS n_rows,
         sum(CASE WHEN conv_id IS NULL OR turn_idx IS NULL OR role IS NULL
                       OR text IS NULL OR ts IS NULL THEN 1 ELSE 0 END) AS n_invalid_rows,
         sum(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END
             + CASE WHEN turn_idx IS NULL THEN 1 ELSE 0 END
             + CASE WHEN role IS NULL THEN 1 ELSE 0 END
             + CASE WHEN text IS NULL THEN 1 ELSE 0 END
             + CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS n_schema_viol
  FROM tp GROUP BY part
)
SELECT r.part,
       (r.n_schema_viol + coalesce(c.n_check, 0) = 0) AS "pass",
       CAST(r.n_schema_viol + coalesce(c.n_check, 0) AS BIGINT) AS n_violations,
       CAST(r.n_invalid_rows AS BIGINT) AS n_invalid_rows,
       CAST(r.n_rows AS BIGINT) AS n_rows
-- null-safe: a NULL-ts row's part is NULL and its check rows still count
FROM rowv r LEFT JOIN checks c ON r.part IS NOT DISTINCT FROM c.part
"""


_TRANSCRIPT_STAT_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]
_LINEITEM_STAT_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus"
]


def _q_colstats_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    return column_stats(
        t, _TRANSCRIPT_STAT_COLS, exact_distinct=True
    ).withColumnRenamed("column", "col_name")


def _colstats_sql(table_expr: str, cols: list[str]) -> str:
    # CAST sums to BIGINT: DuckDB sum() returns HUGEINT, which the driver's
    # pandas conversion turns into float64 — hash-mismatch vs Spark's long.
    # null rate is integer ppm for the same reason (no float serialization).
    pieces = []
    for c in cols:
        pieces.append(f"""
SELECT '__all__' AS part, '{c}' AS col_name,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS null_ppm,
       count(DISTINCT {c}) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_value,
       max(CAST({c} AS VARCHAR)) AS max_value
FROM src""")
    return f"WITH src AS ({table_expr})" + " UNION ALL ".join(pieces)


_COLSTATS_TRANSCRIPTS_SQL = _colstats_sql(TRANSCRIPTS_SQL, _TRANSCRIPT_STAT_COLS)
_COLSTATS_LINEITEM_SQL = _colstats_sql("SELECT * FROM lineitem", _LINEITEM_STAT_COLS)


def _q_colstats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    return column_stats(
        li, _LINEITEM_STAT_COLS, exact_distinct=True
    ).withColumnRenamed("column", "col_name")


def _q_vector_stats_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column health check (checks/stats.vector_column_stats):
    null / wrong-dim / non-finite / zero-vector counts plus exact
    integer-micro² norm extrema and an order-independent truncated norm
    sum — ONE scan, ONE map-side-combined aggregate, pure Column fold
    (no UDF). The embedding analogue of colstats."""
    from pacts_spark.checks.stats import vector_column_stats

    return vector_column_stats(
        _load(spark, sf_dir, "embeddings"), vec_col="embedding", expected_dim=64
    )


_VECTOR_STATS_SQL = f"""
WITH f AS (
  SELECT embedding IS NULL AS is_null,
         embedding IS NOT NULL AND len(embedding) <> 64 AS bad_dim,
         -- one comparison: NULL/NaN/Inf all fail abs(x) <= bound
         -- (bound interpolated from the engine default, no drift)
         embedding IS NOT NULL AND len(embedding) = 64
           AND len(list_filter(embedding, x -> x IS NULL
                 OR NOT (abs(CAST(x AS DOUBLE)) <= {_VECTOR_MAX_ABS}))) > 0 AS nonfinite,
         embedding AS v
  FROM embeddings
), g AS (
  -- norm2 ONLY for good rows: CAST(round(NaN|Inf * 1e6) AS BIGINT) is a
  -- DuckDB ConversionException, so an unguarded norm2 would CRASH the
  -- twin on exactly the rows the check exists to count. list_sum of
  -- BIGINT squares, NOT list_dot_product: DuckDB evaluates dot products
  -- in DOUBLE (loses exactness above 2^53 micro²), while Spark's BIGINT
  -- fold is exact — the health check's remit includes huge vectors.
  SELECT is_null, bad_dim, nonfinite,
         NOT is_null AND NOT bad_dim AND NOT nonfinite AS good,
         CASE WHEN NOT is_null AND NOT bad_dim AND NOT nonfinite THEN
           CAST(list_sum(list_transform(v,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                  * CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
           )) AS BIGINT)
         END AS norm2
  FROM f
)
SELECT '__all__' AS part,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(sum(CASE WHEN bad_dim THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
       CAST(sum(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
       CAST(sum(CASE WHEN good AND norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       min(CASE WHEN good THEN norm2 END) AS min_norm2_micro2,
       max(CASE WHEN good THEN norm2 END) AS max_norm2_micro2,
       CAST(sum(CASE WHEN good THEN norm2 // 1000000 END) AS BIGINT) AS sum_norm2_micro
FROM g
"""


def _q_role_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    return category_histogram(t, "role", day_part())


_ROLE_HIST_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL})
SELECT CAST(ts AS DATE) AS part,
       coalesce(role, '__null__') AS category,
       count(*) AS n
FROM t GROUP BY 1, 2
"""


def _q_drift_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    # the per-part histogram is also the baseline (drift_scores sums it
    # over parts), as in ValidationRun.run
    hist = category_histogram(t, "role", day_part())
    return drift_scores(hist, hist)


_DRIFT_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
cur AS (
  SELECT CAST(ts AS DATE) AS part,
         coalesce(role, '__null__') AS category, count(*) AS n
  FROM t GROUP BY 1, 2
),
base AS (SELECT coalesce(role, '__null__') AS category, count(*) AS m FROM t GROUP BY 1),
domain AS (
  SELECT p.part, b.category FROM (SELECT DISTINCT part FROM cur) p, base b
  UNION
  SELECT part, category FROM cur
),
j AS (
  SELECT d.part, d.category, coalesce(cur.n, 0) AS n, coalesce(base.m, 0) AS m
  FROM domain d
  -- null-safe on part: the NULL-ts partition is scored, not dropped
  LEFT JOIN cur ON d.part IS NOT DISTINCT FROM cur.part AND d.category = cur.category
  LEFT JOIN base ON d.category = base.category
),
tot AS (
  SELECT part, sum(n) AS tot_n, sum(m) AS tot_m, count(*) AS n_cats
  FROM j GROUP BY part
)
SELECT j.part,
       -- ordered left fold (list_reduce over list ORDER BY category),
       -- matching the engine's deterministic category-order summation
       round(list_reduce(list(
                 ((j.n + 1.0) / (t2.tot_n + t2.n_cats)) *
                 ln(((j.n + 1.0) / (t2.tot_n + t2.n_cats)) /
                    ((j.m + 1.0) / (t2.tot_m + t2.n_cats)))
             ORDER BY j.category), (a, b) -> a + b), 6) AS kl_divergence,
       round(list_reduce(list(
                 (j.n - ((j.m + 1.0) / (t2.tot_m + t2.n_cats)) * t2.tot_n) *
                 (j.n - ((j.m + 1.0) / (t2.tot_m + t2.n_cats)) * t2.tot_n) /
                 (((j.m + 1.0) / (t2.tot_m + t2.n_cats)) * t2.tot_n)
             ORDER BY j.category), (a, b) -> a + b), 6) AS chi_squared,
       max(t2.n_cats) AS n_categories
FROM j JOIN tot t2 ON j.part IS NOT DISTINCT FROM t2.part
GROUP BY j.part
"""


def _q_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    return gap_quantiles_discrete(t, partition_col=day_part())


# All-long outputs (integer microseconds, discrete rank-based quantiles):
# float interpolation + rounding serialize differently across engines.
# rank of quantile num/den = ceil(n*num/den) in pure integer arithmetic.
_GAPS_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
g AS (
  SELECT CAST(ts AS DATE) AS part,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY conv_id ORDER BY turn_idx, ts) AS gap_us
  FROM t
),
r AS (
  SELECT part, gap_us,
         row_number() OVER (PARTITION BY part ORDER BY gap_us) AS rn,
         count(*) OVER (PARTITION BY part) AS n
  FROM g WHERE gap_us IS NOT NULL
)
SELECT part,
       CAST(max(CASE WHEN rn = (1 * n + 1) // 2 THEN gap_us END) AS BIGINT) AS p50_us,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END) AS BIGINT) AS p90_us,
       CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN gap_us END) AS BIGINT) AS p99_us,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(sum(CASE WHEN gap_us < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative_gaps,
       count(gap_us) AS n_gaps
FROM r
GROUP BY part
"""


def _q_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    return _engine().validate_data(orders, "tpch", "orders_check").select(
        "o_orderkey", "valid", "error_message"
    )


_VALIDATE_ORDERS_SQL = """
SELECT o_orderkey,
       FALSE AS valid,
       concat_ws('; ',
         CASE WHEN o_orderkey IS NULL THEN 'Required field missing: o_orderkey' END,
         CASE WHEN o_custkey IS NULL THEN 'Required field missing: o_custkey' END,
         'Required field missing: o_clerk',
         CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F')
              THEN 'Invalid value for field ''o_orderstatus''. Expected one of: O, F' END,
         CASE WHEN o_totalprice IS NOT NULL
              THEN 'Invalid type for field ''o_totalprice''. Expected: integer' END
       ) AS error_message
FROM orders
"""


def _q_validate_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _load(spark, sf_dir, "events")
    return _engine().validate_data(ev, "events", "props_check", json_col="props").select(
        "event_id", "valid", "error_message"
    )


# Structural replay of json_mode_validator over PROPS_CHECK_SCHEMA
# ({k: integer}, required [k, v]): required-in-schema-order -> top-level
# type -> per-property type, present = has() via json_type (explicit
# null counts as PRESENT: json_type returns 'NULL' for it and SQL NULL
# only for an absent path — json_extract would conflate the two, probed
# live). integer =
# Jackson isIntegralNumber = DuckDB json_type BIGINT/UBIGINT (9.5/"3"/
# true all fail in both engines). Validity bounds (probed):
# - MALFORMED payloads: the engine embeds Python's parser message; the
#   twin states the first-token form ('char 0'), exact for any payload
#   whose first byte is already invalid (both poisoned rows; a
#   mid-string parse error would need the Python offset and is
#   untwinnable in SQL).
# - non-standard literals (NaN/Infinity): Python json AND DuckDB both
#   accept them, so the structural replay agrees end-to-end; the
#   REFERENCE's Jackson/serde would reject (strictness divergence
#   inherited from the Python parser, noted not hidden).
# - integer literals beyond uint64: integral to Python/Jackson but
#   normalized to DOUBLE by DuckDB's json parser ('1e26' — original
#   token unrecoverable), so the twin would flag a type error the
#   engine (and reference) accept. Untwinnable; bound documented.
_VALIDATE_EVENTS_JSON_SQL = """
WITH p AS (
  SELECT event_id, props,
         props IS NOT NULL AND json_valid(props) AS is_json,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.k') IS NOT NULL ELSE FALSE END AS has_k,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.v') IS NOT NULL ELSE FALSE END AS has_v,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props) = 'OBJECT' ELSE FALSE END AS is_obj,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.k') END AS k_type
  FROM events
),
e AS (
  SELECT event_id,
    CASE
      WHEN props IS NOT NULL AND NOT is_json
        THEN 'Validation error: Expecting value: line 1 column 1 (char 0)'
      ELSE concat_ws('; ',
        CASE WHEN NOT has_k THEN 'Required field missing: k' END,
        CASE WHEN NOT has_v THEN 'Required field missing: v' END,
        CASE WHEN NOT is_obj THEN 'Invalid type. Expected: object' END,
        CASE WHEN is_obj AND has_k AND k_type NOT IN ('BIGINT', 'UBIGINT')
             THEN 'Invalid type for field ''k''. Expected: integer' END)
    END AS msg
  FROM p
)
SELECT event_id, msg = '' AS valid,
       CASE WHEN msg = '' THEN 'Validation successful' ELSE msg END AS error_message
FROM e
"""


def _q_uniqueness_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    return duplicate_keys(li, ["l_orderkey", "l_linenumber"])


_UNIQ_LINEITEM_SQL = """
SELECT l_orderkey, l_linenumber, count(*) AS dup_count
FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
"""


def _q_ri_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    return ri_violations(
        orders, cust, "o_custkey", "c_custkey",
        select_cols=["o_orderkey", "o_custkey"],
    )


_RI_ORDERS_SQL = """
SELECT o_orderkey, o_custkey,
       'Referential violation: o_custkey=' || CAST(o_custkey AS VARCHAR) ||
       ' not in dimension' AS violation
FROM orders
WHERE o_custkey IS NOT NULL
  -- IS NOT NULL guard on the dim side: one NULL c_custkey would make
  -- NOT IN return zero rows while the Spark anti-join keeps all orphans
  AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
"""


def _q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return exact_duplicates(docs).select("content_hash", "canonical_id", "dup_count")


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
       count(*) AS dup_count
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def _q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(_load(spark, sf_dir, "documents"))


_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def _q_dsir_logratio_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores toward the lang='en' target: per-doc
    sum of Laplace-smoothed unigram log-ratios ln(p_en/p_corpus) in
    integer micro-nats; both models from ONE explode (count +
    conditional count). Top-24 vocabulary exercises the smoothed-OOV
    constant too."""
    from pacts_spark.datapipe.textstats import dsir_logratio

    return dsir_logratio(
        _load(spark, sf_dir, "documents"), F.col("lang") == "en", vocab_size=24
    )


_DSIR_SQL = """
WITH base AS (
  SELECT doc_id, (lang = 'en') AS is_t, trim(text) AS t,
         CASE WHEN trim(text) IS NULL OR length(trim(text)) = 0
              THEN CAST([] AS VARCHAR[]) ELSE string_split(trim(text), ' ') END AS toks
  FROM documents
),
tok AS (SELECT u.tk, b.is_t FROM base b, UNNEST(b.toks) AS u(tk)),
freq AS (SELECT tk AS token, CAST(count(*) AS BIGINT) AS cs,
                CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
         FROM tok GROUP BY tk),
tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ns, CAST(sum(ct) AS BIGINT) AS nt,
               CAST(count(*) AS BIGINT) AS v FROM freq),
vocab AS (SELECT token, cs, ct, ns, nt, v FROM freq, tot
          ORDER BY (cs + ct) DESC, token LIMIT 24),
lrs AS (
  SELECT token,
         CAST(round(ln( (CAST(ct + 1 AS DOUBLE) / (nt + v))
                      / (CAST(cs + 1 AS DOUBLE) / (ns + v)) ) * 1000000) AS BIGINT) AS lr
  FROM vocab
),
oov AS (SELECT CAST(round(ln(CAST(ns + v AS DOUBLE) / (nt + v)) * 1000000) AS BIGINT) AS lr FROM tot),
exploded AS (SELECT doc_id, u.tk FROM base, UNNEST(base.toks) AS u(tk)),
contrib AS (
  SELECT e.doc_id, COALESCE(l.lr, (SELECT lr FROM oov)) AS lr
  FROM exploded e LEFT JOIN lrs l ON e.tk = l.token
),
sums AS (SELECT doc_id, CAST(sum(lr) AS BIGINT) AS s FROM contrib GROUP BY doc_id)
SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.s, 0) AS BIGINT) AS dsir_micronats
FROM base b LEFT JOIN sums s USING (doc_id)
"""


def _q_unigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality scoring (unigram LM filter): top-24
    vocabulary by corpus frequency, per-doc sum of token log-probs
    quantized to integer micro-nats (order-independent exact sums; the
    fixture has 31 distinct tokens so vocab_size=24 exercises the OOV
    floor ln(1/N) too)."""
    from pacts_spark.datapipe.textstats import unigram_logprob

    return unigram_logprob(_load(spark, sf_dir, "documents"), vocab_size=24)


_UNIGRAM_LOGPROB_SQL = """
WITH base AS (
  SELECT doc_id, trim(text) AS t,
         CASE WHEN trim(text) IS NULL OR length(trim(text)) = 0
              THEN CAST([] AS VARCHAR[]) ELSE string_split(trim(text), ' ') END AS toks
  FROM documents
),
tok AS (SELECT u.tk FROM base, UNNEST(base.toks) AS u(tk)),
freq AS (SELECT tk AS token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tk),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
vocab AS (SELECT token, c, n FROM freq, tot ORDER BY c DESC, token LIMIT 24),
exploded AS (SELECT doc_id, u.tk FROM base, UNNEST(base.toks) AS u(tk)),
contrib AS (
  SELECT e.doc_id,
         CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS ov,
         COALESCE(CAST(round(ln(CAST(v.c AS DOUBLE) / v.n) * 1000000) AS BIGINT),
                  (SELECT CAST(round(ln(1.0 / n) * 1000000) AS BIGINT) FROM tot)) AS lp
  FROM exploded e LEFT JOIN vocab v ON e.tk = v.token
),
sums AS (SELECT doc_id, CAST(sum(ov) AS BIGINT) AS n_oov,
                CAST(sum(lp) AS BIGINT) AS lpsum
         FROM contrib GROUP BY doc_id)
SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.n_oov, 0) AS BIGINT) AS n_oov,
       CAST(COALESCE(s.lpsum, 0) AS BIGINT) AS logprob_micronats
FROM base b LEFT JOIN sums s USING (doc_id)
"""


def _q_bigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring (textstats.bigram_logprob): the
    two-gram upgrade of the unigram filter — per-transition
    ln(0.7*P(w2|w1) + 0.3*P_uni(w2)) in integer micro-nats; unigram
    vocab cut at 24 so the OOV floor and the missing-c1 branch are both
    exercised; bigram table stays distributed (one gram-keyed join)."""
    from pacts_spark.datapipe.textstats import bigram_logprob

    return bigram_logprob(_load(spark, sf_dir, "documents"), vocab_size=24, lam=0.7)


def _bigram_logprob_sql() -> str:
    from pacts_spark.datapipe.textstats import bigram_logprob_sql

    return bigram_logprob_sql(vocab_size=24, lam=0.7)


def _q_winnow_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (k=8-char grams, window w=4):
    the local/partial-overlap fingerprint set — guaranteed shared
    fingerprint for any common substring of length >= k+w-1 = 11. SQL
    twin recomputes the identical md5-prefix gram hashes with a rows-
    window min."""
    from pacts_spark.datapipe.textstats import winnowing_fingerprints

    return winnowing_fingerprints(
        _load(spark, sf_dir, "documents"), k=8, w=4
    )


_WINNOW_SQL = r"""
WITH s AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t
  FROM documents
),
g AS (
  SELECT doc_id, u.i AS i,
         CAST('0x' || substr(md5(substr(t, u.i, 8)), 1, 15) AS BIGINT) AS h,
         length(t) - 8 + 1 AS m
  FROM s, UNNEST(range(1, greatest(length(t) - 8 + 1, 0) + 1)) AS u(i)
),
wmin AS (
  SELECT doc_id, i, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
  FROM g
)
SELECT DISTINCT doc_id, mn AS fingerprint
FROM wmin WHERE i <= greatest(m - 4 + 1, 1)
"""


def _q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap near-dup pairs via shared winnowing fingerprints
    (>= 3 shared, boilerplate fingerprints df-capped at 10) — catches
    partial duplication that whole-set Jaccard dilutes. The tight df_cap
    matters on this synthetic corpus: common 8-char grams of shared
    vocabulary are its boilerplate (df_cap=100 admitted ~80% of all
    pairs; df_cap=10 + 3 shared keeps the 280 genuinely overlapping
    ones at sf0.01)."""
    from pacts_spark.datapipe.textstats import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _load(spark, sf_dir, "documents"), min_shared=3, k=8, w=4, df_cap=10
    )


_WINNOW_PAIRS_SQL = r"""
WITH s AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t
  FROM documents
),
g AS (
  SELECT doc_id, u.i AS i,
         CAST('0x' || substr(md5(substr(t, u.i, 8)), 1, 15) AS BIGINT) AS h,
         length(t) - 8 + 1 AS m
  FROM s, UNNEST(range(1, greatest(length(t) - 8 + 1, 0) + 1)) AS u(i)
),
wmin AS (
  SELECT doc_id, i, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id, mn AS fingerprint
  FROM wmin WHERE i <= greatest(m - 4 + 1, 1)
),
freq AS (
  SELECT fingerprint FROM fp GROUP BY fingerprint HAVING count(*) <= 10
),
kept AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN freq USING (fingerprint))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM kept a JOIN kept b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
"""


def _q_repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition signals (top-2/3-gram char
    fraction, duplicate-bigram occurrence fraction): one fused projection
    per doc — run-length folds over sorted n-gram arrays, no explode, no
    shuffle. SQL twin recomputes via unnest + groupBy + row_number with
    the same (count DESC, gram ASC) tie-break."""
    from pacts_spark.datapipe.textstats import repetition_stats

    return repetition_stats(_load(spark, sf_dir, "documents"))


_REPETITION_SQL = r"""
WITH s AS (
  SELECT doc_id,
         lower(regexp_replace(trim(coalesce(text, '')), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t
  FROM documents
),
w AS (SELECT doc_id, t, length(t) AS nc, string_split(t, ' ') AS ws FROM s),
base AS (
  SELECT doc_id, nc,
         CASE WHEN nc = 0 THEN 0 ELSE len(ws) END AS nt
  FROM w
),
bi AS (
  SELECT doc_id, ws[u.i] || ' ' || ws[u.i + 1] AS g
  FROM w, UNNEST(range(1, greatest(len(ws) - 1, 0) + 1)) AS u(i)
),
tri AS (
  SELECT doc_id, ws[u.i] || ' ' || ws[u.i + 1] || ' ' || ws[u.i + 2] AS g
  FROM w, UNNEST(range(1, greatest(len(ws) - 2, 0) + 1)) AS u(i)
),
bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
btop AS (
  SELECT doc_id, c, g FROM (
    SELECT doc_id, c, g,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
    FROM bc
  ) WHERE rn = 1
),
ttop AS (
  SELECT doc_id, c, g FROM (
    SELECT doc_id, c, g,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
    FROM tc
  ) WHERE rn = 1
),
bdup AS (
  SELECT doc_id,
         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup,
         sum(c) AS tot
  FROM bc GROUP BY 1
)
SELECT b.doc_id,
  CAST(b.nt AS BIGINT) AS n_tokens,
  CAST(coalesce(btop.c, 0) AS BIGINT) AS top_bigram_count,
  round(CASE WHEN btop.c IS NOT NULL AND b.nc > 0
             THEN least(1.0, btop.c * length(btop.g) / b.nc)
             ELSE 0.0 END, 6) AS top_bigram_char_frac,
  CAST(coalesce(ttop.c, 0) AS BIGINT) AS top_trigram_count,
  round(CASE WHEN ttop.c IS NOT NULL AND b.nc > 0
             THEN least(1.0, ttop.c * length(ttop.g) / b.nc)
             ELSE 0.0 END, 6) AS top_trigram_char_frac,
  round(CASE WHEN bdup.tot > 0
             THEN CAST(coalesce(bdup.dup, 0) AS DOUBLE) / bdup.tot
             ELSE 0.0 END, 6) AS dup_bigram_frac
FROM base b
LEFT JOIN btop USING (doc_id)
LEFT JOIN ttop USING (doc_id)
LEFT JOIN bdup USING (doc_id)
"""


def _q_decontamination_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: deterministic md5(id)%100 split (5%
    eval), winnowing fingerprints with k=16/w=4 (guaranteed hit for any
    shared substring >= 19 chars), eval set BROADCAST, output = train
    docs sharing >= 1 fingerprint with any eval doc."""
    from pacts_spark.datapipe.textstats import decontamination_hits

    return decontamination_hits(
        _load(spark, sf_dir, "documents"), eval_pct=5, k=16, w=4
    )


_DECONTAM_SQL = r"""
WITH s AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t
  FROM documents
),
g AS (
  SELECT doc_id, u.i AS i,
         CAST('0x' || substr(md5(substr(t, u.i, 16)), 1, 15) AS BIGINT) AS h,
         length(t) - 16 + 1 AS m
  FROM s, UNNEST(range(1, greatest(length(t) - 16 + 1, 0) + 1)) AS u(i)
),
wmin AS (
  SELECT doc_id, i, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id, mn AS fingerprint
  FROM wmin WHERE i <= greatest(m - 4 + 1, 1)
),
lab AS (
  SELECT doc_id, fingerprint,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
  FROM fp
)
SELECT t.doc_id AS doc_id,
       CAST(count(DISTINCT t.fingerprint) AS BIGINT) AS n_shared_fps,
       CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
FROM lab t JOIN lab e ON t.fingerprint = e.fingerprint AND t.b >= 5 AND e.b < 5
GROUP BY 1
"""


def _q_pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a deterministically-dirtied corpus: the synthetic
    documents carry no PII, so the query first appends a doc_id-derived
    email+URL / IPv4 / phone suffix to 3 of every 4 docs (both engines
    derive the identical dirty text), then runs the 4-pattern redaction
    (url -> email -> ipv4 -> phone) with per-class removal counts."""
    from pacts_spark.datapipe.pii import pii_scrub

    df = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    suffix = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit(" contact user"),
                s(d),
                F.lit("@example.com or http://site"),
                s(d % 100),
                F.lit(".example.com/path?id="),
                s(d),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(F.lit(" from host 10."), s(d % 256), F.lit(".0."), s((d * 7) % 256)),
        )
        .when(d % 4 == 2, F.concat(F.lit(" call +1555"), F.lpad(s(d), 7, "0")))
        .otherwise(F.lit(""))
    )
    dirty = df.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))
    return pii_scrub(dirty)


_PII_URL = "https?://[A-Za-z0-9._~:/?#@!$&*+,;=%-]+"
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\+[0-9]{7,15}"

_PII_SCRUB_SQL = f"""
WITH dirty AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or http://site' || CAST(doc_id % 100 AS VARCHAR) || '.example.com/path?id=' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 4 = 1 THEN ' from host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
           WHEN doc_id % 4 = 2 THEN ' call +1555' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
           ELSE '' END AS text
  FROM documents
),
r1 AS (SELECT doc_id, text AS t0, regexp_replace(text, '{_PII_URL}', '<URL>', 'g') AS t1 FROM dirty),
r2 AS (SELECT *, regexp_replace(t1, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t2 FROM r1),
r3 AS (SELECT *, regexp_replace(t2, '{_PII_IPV4}', '<IP>', 'g') AS t3 FROM r2)
SELECT doc_id,
       regexp_replace(t3, '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(t0, '{_PII_URL}')) AS BIGINT) AS n_url,
       CAST(len(regexp_extract_all(t1, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t2, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t3, '{_PII_PHONE}')) AS BIGINT) AS n_phone
FROM r3
"""


def _q_pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing (budget=256 whitespace tokens,
    16 md5-hash groups): the pretraining 'pack documents into
    fixed-token training examples' step. DuckDB twin replays the same
    per-group recurrence as a recursive CTE."""
    from pacts_spark.datapipe.packing import pack_sequences

    return pack_sequences(
        _load(spark, sf_dir, "documents"), budget=256, n_groups=16
    )


_PACK_SEQUENCES_SQL = pack_oracle_sql("SELECT * FROM documents", budget=256, n_groups=16)


def _q_chunk_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide passage dedup at 8-token chunk granularity (Lee et
    al.-style exact substring dedup, chunk-quantized): keep only the
    corpus-wide first occurrence — min (doc_id, chunk_idx) — of every
    distinct chunk; reassemble per-doc deduplicated text. First-occurrence
    is an arg-min AGGREGATE (map-side combine absorbs boilerplate hot
    chunks), never a hash-partitioned window; the decision shuffle
    carries (md5, id, idx) only."""
    from pacts_spark.datapipe.dedup import chunk_dedup

    return chunk_dedup(_load(spark, sf_dir, "documents"), k=8)


_CHUNK_DEDUP_SQL = """
WITH docs AS (
  SELECT doc_id, string_split(trim(coalesce(text, '')), ' ') AS ws
  FROM documents
),
chunks AS (
  SELECT doc_id, u.i AS chunk_idx,
         array_to_string(ws[(u.i * 8 + 1):(u.i * 8 + 8)], ' ') AS chunk
  FROM docs, UNNEST(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS u(i)
),
kept AS (
  SELECT doc_id, chunk_idx, chunk FROM (
    SELECT doc_id, chunk_idx, chunk,
           row_number() OVER (PARTITION BY md5(chunk)
                              ORDER BY doc_id, chunk_idx) AS rn
    FROM chunks
  ) WHERE rn = 1
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
SELECT t.doc_id, CAST(t.n_chunks AS BIGINT) AS n_chunks,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(a.dedup_text, '') AS dedup_text
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


def _q_top_ngrams_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-100 word trigrams by total occurrence count
    (boilerplate/contamination survey). Two-level aggregation — (gram,
    doc) pre-reduce, then gram with map-side combine — and a TakeOrdered
    final cut; the (count DESC, ngram ASC) total order makes the top-100
    set deterministic in both engines."""
    from pacts_spark.datapipe.textstats import top_ngrams

    return top_ngrams(_load(spark, sf_dir, "documents"), n=3, topk=100)


_TOP_NGRAMS_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(trim(coalesce(text, '')), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, t[u.i] || ' ' || t[u.i + 1] || ' ' || t[u.i + 2] AS ngram
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
),
pd AS (SELECT ngram, doc_id, count(*) AS c FROM grams GROUP BY 1, 2)
SELECT ngram, CAST(sum(c) AS BIGINT) AS total_count,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pd GROUP BY 1
ORDER BY total_count DESC, ngram ASC
LIMIT 100
"""


def _q_incremental_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a delta batch (doc_id % 5 == 0) against the
    already-ingested corpus's content-hash index (the other 80%):
    batch-local arg-min then anti-join on md5 — the never-re-dedup-the-
    corpus ingest pattern."""
    from pacts_spark.datapipe.dedup import dedup_against_index

    docs = _load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("content_hash")
    )
    return dedup_against_index(batch, index)


_INCREMENTAL_DEDUP_SQL = """
WITH batch AS (
  SELECT doc_id, md5(coalesce(text, '')) AS h
  FROM documents WHERE doc_id % 5 = 0
),
idx AS (
  SELECT md5(coalesce(text, '')) AS h
  FROM documents WHERE doc_id % 5 <> 0
),
w AS (SELECT h, min(doc_id) AS doc_id FROM batch GROUP BY 1)
SELECT w.doc_id, w.h AS content_hash
FROM w
WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.h = w.h)
"""


def _q_global_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-wide training-order shuffle with a global
    0-based ordinal (seeded md5 total order). Spark assigns ranks with
    the bounded-driver zipWithIndex pattern (256 hash-prefix buckets,
    per-bucket window + cumulative offsets); the oracle replays the same
    total order as one row_number — equal because a string-PREFIX bucket
    preserves lexicographic order."""
    from pacts_spark.datapipe.sampling import global_shuffle

    return global_shuffle(_load(spark, sf_dir, "documents"), seed=42)


_GLOBAL_SHUFFLE_SQL = """
SELECT doc_id,
       CAST(row_number() OVER (
              ORDER BY md5('42:' || COALESCE(CAST(doc_id AS VARCHAR), '')), doc_id
            ) - 1 AS BIGINT) AS shuffle_rank
FROM documents
"""


def _q_shard_assign_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget output sharding in global shuffle order: shard_id =
    exclusive-prefix-sum(n_tokens) DIV budget over the seeded md5 total
    order. Spark uses the bounded-driver two-phase prefix sum (256
    hash-prefix buckets; per-bucket running sums + driver-side token
    offsets); the oracle replays the same order as one window sum."""
    from pacts_spark.datapipe.sampling import shard_assign

    return shard_assign(
        _load(spark, sf_dir, "documents"), budget_tokens=512, seed=42
    )


_SHARD_ASSIGN_SQL = """
WITH s AS (
  SELECT doc_id,
         md5('42:' || COALESCE(CAST(doc_id AS VARCHAR), '')) AS h,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
         END AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_rank,
       n_tokens,
       CAST(COALESCE(sum(n_tokens) OVER (
              ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) // 512 AS BIGINT) AS shard_id
FROM s
"""


def _q_mixture_upsample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture re-weighting: per-source epoch factors
    rep_s = (w_s/count_s)/min_t(w_t/count_t) realized as floor(rep)
    copies + one hash-sampled fractional copy; output one row per
    (doc, rep_ix). Strata outside the weight map are dropped."""
    from pacts_spark.datapipe.sampling import mixture_upsample

    return mixture_upsample(
        _load(spark, sf_dir, "documents"),
        {"src0": 0.4, "src1": 0.25, "src2": 0.2, "src3": 0.15},
        stratum_col="source",
    )


_MIXTURE_UPSAMPLE_SQL = """
WITH cur AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
w(source, wt) AS (VALUES ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.25 AS DOUBLE)),
                         ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.15 AS DOUBLE))),
r AS (SELECT cur.source, wt / c AS ratio FROM cur JOIN w USING (source)),
m AS (SELECT min(ratio) AS minr FROM r),
rep AS (SELECT source, ratio / minr AS rep FROM r, m),
plan AS (SELECT source, CAST(floor(rep) AS BIGINT) AS base,
                CAST(floor((rep - floor(rep)) * 10000 + 0.5) AS BIGINT) AS thr
         FROM rep),
n AS (SELECT doc_id, d.source,
             base + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < thr
                         THEN 1 ELSE 0 END AS nc
      FROM documents d JOIN plan USING (source))
SELECT doc_id, source, CAST(u.x AS BIGINT) AS rep_ix
FROM n, UNNEST(range(n.nc)) AS u(x)
WHERE nc >= 1
"""


def _q_token_blocks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing (GPT-style): the corpus concatenated in
    global shuffle order and cut every 256 tokens; docs split across
    block boundaries via pure integer arithmetic on the bounded-driver
    global token offsets — zero padding waste, exact tiling."""
    from pacts_spark.datapipe.sampling import token_blocks

    return token_blocks(
        _load(spark, sf_dir, "documents"), block_tokens=256, seed=42
    )


_TOKEN_BLOCKS_SQL = """
WITH s AS (
  SELECT doc_id,
         md5('42:' || COALESCE(CAST(doc_id AS VARCHAR), '')) AS h,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
         END AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM s
)
SELECT doc_id, CAST(u.b AS BIGINT) AS block_idx,
       CAST(greatest(0, u.b * 256 - off) AS BIGINT) AS tok_start,
       CAST(least(n_tokens, (u.b + 1) * 256 - off) AS BIGINT) AS tok_end
FROM o, UNNEST(range(off // 256, (off + n_tokens - 1) // 256 + 1)) AS u(b)
WHERE n_tokens >= 1
"""


def _q_duplicate_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-span detection (overlapping 8-token windows;
    global first occurrence kept): per-doc maximal duplicated intervals
    via arg-min aggregate + hash join + sessionize-style interval union
    on one doc-keyed exchange."""
    from pacts_spark.datapipe.dedup import duplicate_spans

    return duplicate_spans(_load(spark, sf_dir, "documents"), L=8)


_DUPLICATE_SPANS_SQL = """
WITH base AS (
  SELECT doc_id, string_split(trim(coalesce(text, '')), ' ') AS w FROM documents
),
g AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         md5(array_to_string(w[u.i:u.i+7], ' ')) AS h
  FROM base, UNNEST(range(1, greatest(len(w) - 7, 0) + 1)) AS u(i)
),
r AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM g
),
dups AS (SELECT doc_id, pos FROM r WHERE rn > 1),
s AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dups),
x AS (SELECT doc_id, pos,
             CAST(sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM s)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS tok_start,
       CAST(max(pos) + 7 AS BIGINT) AS tok_end
FROM x GROUP BY doc_id, sid
"""


def _q_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.5, df_cap=100)


_JACCARD_SQL = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(t[u.i:u.i + 2], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
kept AS (
  SELECT sh.id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100) f
    USING (shingle)
),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.id
JOIN sizes sb ON i.id_b = sb.id
WHERE round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) >= 0.5
"""


def _q_textstats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_load(spark, sf_dir, "documents"))


_TEXTSTATS_SQL = """
WITH s AS (
  SELECT doc_id, text, trim(text) AS t,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
         END AS n_tok
  FROM documents
)
SELECT doc_id,
       length(text) AS n_chars,
       n_tok AS n_tokens,
       len(list_distinct(string_split(t, ' '))) AS n_unique_tokens,
       round(CASE WHEN n_tok > 0
                  THEN len(list_distinct(string_split(t, ' '))) / n_tok
                  ELSE 0.0 END, 6) AS ttr,
       round(CASE WHEN n_tok > 0
                  THEN (length(t) - (n_tok - 1)) / n_tok
                  ELSE 0.0 END, 6) AS mean_token_len,
       round(least(1.0,
         (CASE WHEN n_tok > 0
               THEN len(list_distinct(string_split(t, ' '))) / n_tok
               ELSE 0.0 END) * least(n_tok / 50.0, 1.0)), 6) AS quality_score
FROM s
"""


def _q_langid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    pred = language_id(docs)
    return (
        docs.join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_LANGID_SQL = """
WITH s AS (
  SELECT lang, ' ' || trim(text) || ' ' AS p FROM documents
),
scored AS (
  SELECT lang,
    (CASE WHEN contains(p, ' der ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' die ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' und ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' ist ') THEN 1 ELSE 0 END) AS s_de,
    (CASE WHEN contains(p, ' the ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' and ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' of ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' is ') THEN 1 ELSE 0 END) AS s_en,
    (CASE WHEN contains(p, ' el ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' los ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' es ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' y ') THEN 1 ELSE 0 END) AS s_es,
    (CASE WHEN contains(p, ' le ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' et ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' est ') THEN 1 ELSE 0 END) AS s_fr,
    (CASE WHEN contains(p, ' 的 ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' 是 ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' 了 ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' 在 ') THEN 1 ELSE 0 END) AS s_zh
  FROM s
),
pred AS (
  SELECT lang,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         WHEN s_fr >= s_zh THEN 'fr'
         ELSE 'zh' END AS pred_lang
  FROM scored
)
SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
"""


def _q_cosine_nn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    return cosine_topk(emb, k=1, dim=64).select("vec_id", "nn_id")


_COSINE_NN_SQL = f"""
SELECT vec_id, nn_id FROM (
  SELECT a.vec_id, b.vec_id AS nn_id,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(
             CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC,
           b.vec_id ASC) AS rn
  FROM {_HEALTHY_EMB_SQL} a JOIN {_HEALTHY_EMB_SQL} b ON a.vec_id <> b.vec_id
) WHERE rn = 1
"""


def _q_validate_transcripts_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    return _engine().validate_data(t, "transcripts", "turn_strict").select(
        "conv_id", "turn_idx", "valid", "error_message"
    )


_VALIDATE_STRICT_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
v AS (
  SELECT conv_id, turn_idx,
         (conv_id IS NOT NULL AND turn_idx IS NOT NULL AND role IS NOT NULL
          AND text IS NOT NULL AND ts IS NOT NULL
          AND NOT (conv_id IS NOT NULL AND NOT regexp_matches(conv_id, 'conv-\\d+'))
          AND NOT (role IS NOT NULL
                   AND role NOT IN ('system', 'user', 'assistant'))) AS ok,
         conv_id AS c, turn_idx AS i, role AS r, text AS x, ts AS s
  FROM t
)
SELECT conv_id, turn_idx, ok AS valid,
       CASE WHEN ok THEN 'Validation successful'
            ELSE concat_ws('; ',
              CASE WHEN c IS NULL THEN 'Required field missing: conv_id' END,
              CASE WHEN i IS NULL THEN 'Required field missing: turn_idx' END,
              CASE WHEN r IS NULL THEN 'Required field missing: role' END,
              CASE WHEN x IS NULL THEN 'Required field missing: text' END,
              CASE WHEN s IS NULL THEN 'Required field missing: ts' END,
              CASE WHEN c IS NOT NULL AND NOT regexp_matches(c, 'conv-\\d+')
                   THEN 'Invalid format for field ''conv_id''. Expected pattern: conv-\\d+' END,
              CASE WHEN r IS NOT NULL AND r NOT IN ('system', 'user', 'assistant')
                   THEN 'Invalid value for field ''role''. Expected one of: system, user, assistant' END)
       END AS error_message
FROM v
"""


def _q_conversation_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level shape contracts (checks/sequence.
    conversation_shape_violations): opener ∈ {system,user}, closer =
    assistant, 50 ≤ turns ≤ 80 — whole-dialogue properties no per-row
    check can see. ONE conv-keyed aggregate (endpoint struct min/max
    combine map-side; no window sort)."""
    from pacts_spark.checks.sequence import conversation_shape_violations

    return conversation_shape_violations(
        _transcripts(spark, sf_dir),
        open_roles=("system", "user"),
        close_roles=("assistant",),
        min_turns=50,
        max_turns=80,
    )


_CONV_SHAPE_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
a AS (
  SELECT conv_id,
    first(role ORDER BY turn_idx, coalesce(role,''), coalesce(text,''), coalesce(tool,'')) AS fr,
    first(turn_idx ORDER BY turn_idx, coalesce(role,''), coalesce(text,''), coalesce(tool,'')) AS fi,
    last(role ORDER BY turn_idx, coalesce(role,''), coalesce(text,''), coalesce(tool,'')) AS lr,
    last(turn_idx ORDER BY turn_idx, coalesce(role,''), coalesce(text,''), coalesce(tool,'')) AS li,
    count(*) AS n
  FROM t WHERE turn_idx IS NOT NULL GROUP BY conv_id
),
u AS (
  SELECT conv_id, fi AS turn_idx,
         'Conversation opens with role ''' || coalesce(fr, '__null__') || '''' AS violation
  FROM a WHERE coalesce(fr, '__null__') NOT IN ('system', 'user')
  UNION ALL
  SELECT conv_id, li,
         'Conversation ends with role ''' || coalesce(lr, '__null__') || ''''
  FROM a WHERE coalesce(lr, '__null__') NOT IN ('assistant')
  UNION ALL
  SELECT conv_id, fi, 'Conversation has ' || n || ' turns (minimum 50)'
  FROM a WHERE n < 50
  UNION ALL
  SELECT conv_id, li, 'Conversation has ' || n || ' turns (maximum 80)'
  FROM a WHERE n > 80
)
SELECT conv_id, turn_idx, 'shape' AS check_name, violation FROM u
"""


def _q_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT training-pair assembly (datapipe/sft.sft_pairs): every
    assistant turn with text becomes (prompt = preceding turns rendered
    'role: text' in the pinned sequence order, response = the turn) —
    ONE conv-keyed window exchange, validated transcripts straight to
    training data."""
    from pacts_spark.datapipe.sft import sft_pairs

    return sft_pairs(_transcripts(spark, sf_dir))


def _q_sft_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT pair assembly with BOUNDED context (datapipe/sft.sft_pairs,
    max_context_turns=4, max_context_chars=256): the window frame is
    ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING, so a whale conversation's
    task materializes O(turns * 4) prompt characters instead of
    O(turns²) — the production-shape variant (every real SFT pipeline
    truncates context); the char cap keeps the prompt TAIL (most recent
    context). The uncapped contract output is sft_pairs_transcripts."""
    from pacts_spark.datapipe.sft import sft_pairs

    return sft_pairs(
        _transcripts(spark, sf_dir), max_context_turns=4, max_context_chars=256
    )


_SFT_PAIRS_CAPPED_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
o AS (
  SELECT conv_id, turn_idx, role, text,
         string_agg(coalesce(role, '') || ': ' || coalesce(text, ''), chr(10))
           OVER (PARTITION BY conv_id
                 ORDER BY turn_idx, ts NULLS LAST, coalesce(role, ''),
                          coalesce(text, ''), coalesce(tool, '')
                 ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS prompt_full
  FROM t WHERE turn_idx IS NOT NULL
)
SELECT conv_id, turn_idx,
       CASE WHEN length(prompt_full) > 256 THEN right(prompt_full, 256)
            ELSE prompt_full END AS prompt,
       text AS response
FROM o
WHERE role = 'assistant' AND text IS NOT NULL
  AND prompt_full IS NOT NULL AND prompt_full <> ''
"""


_SFT_PAIRS_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
o AS (
  SELECT conv_id, turn_idx, role, text,
         string_agg(coalesce(role, '') || ': ' || coalesce(text, ''), chr(10))
           OVER (PARTITION BY conv_id
                 ORDER BY turn_idx, ts NULLS LAST, coalesce(role, ''),
                          coalesce(text, ''), coalesce(tool, '')
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prompt
  FROM t WHERE turn_idx IS NOT NULL
)
SELECT conv_id, turn_idx, prompt, text AS response
FROM o
WHERE role = 'assistant' AND text IS NOT NULL
  AND prompt IS NOT NULL AND prompt <> ''
"""


def _q_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: for every EVAL vector
    (vec_id % 10 = 0, a deterministic split) the nearest TRAIN vector
    and its rounded cosine — the semantic twin of the fingerprint-based
    decontamination_documents (paraphrased leakage that n-gram overlap
    misses). First oracled consumer of cosine_topk's cross-frame
    ``candidates`` path (queries and candidates are DIFFERENT frames —
    eval rows are the grid's queries, train rows its candidates; exact, not
    LSH, because the eval set is the small side by construction)."""
    emb = _load(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 10 == 0)
    tr = emb.filter(F.col("vec_id") % 10 != 0)
    return cosine_topk(ev, k=1, candidates=tr, dim=64).select(
        "vec_id", "nn_id", "cosine"
    )


_EMBEDDING_DECON_SQL = f"""
SELECT vec_id, nn_id, cosine FROM (
  SELECT a.vec_id, b.vec_id AS nn_id,
         round(list_cosine_similarity(
           CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
           AS cosine,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(
             CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC,
           b.vec_id ASC) AS rn
  FROM {_HEALTHY_EMB_SQL} a JOIN {_HEALTHY_EMB_SQL} b
    ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
) WHERE rn = 1
"""


def _q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector INT8 quantization stats (datapipe/embedding.
    quantize_int8_stats — the FAISS-SQ8-style compression step before
    ANN): scale = max|x|/127, codes = round(x/scale), reconstruction-
    error bound per vector; ids + BIGINTs only. Pure Column codegen on
    the scan — no shuffle, no UDF."""
    from pacts_spark.datapipe.embedding import quantize_int8_stats

    return quantize_int8_stats(_load(spark, sf_dir, "embeddings"), dim=64)


_QUANTIZE_INT8_SQL = f"""
WITH q AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM {_HEALTHY_EMB_SQL}
)
SELECT vec_id,
  CAST(round(scale * 1000000) AS BIGINT) AS scale_micro,
  CAST(list_sum(list_transform(embedding,
    x -> round(CAST(x AS DOUBLE) / scale))) AS BIGINT) AS code_sum,
  CAST(list_min(list_transform(embedding,
    x -> round(CAST(x AS DOUBLE) / scale))) AS BIGINT) AS code_min,
  CAST(list_max(list_transform(embedding,
    x -> round(CAST(x AS DOUBLE) / scale))) AS BIGINT) AS code_max,
  CAST(round(list_max(list_transform(embedding,
    x -> abs(CAST(x AS DOUBLE)
             - round(CAST(x AS DOUBLE) / scale) * scale))) * 1000000)
    AS BIGINT) AS max_err_micro
FROM q
"""


def _q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO-style preference-pair mining (datapipe/sft.preference_pairs):
    consecutive assistant responses sharing a (conv, turn_idx) slot —
    the transcripts' injected duplicate-turn_idx rows are exactly the
    regenerated-response shape — pair as (rejected = earlier, chosen =
    later) in the pinned total order. Linear per slot (lag, never
    all-pairs); one (conv, turn_idx)-keyed exchange."""
    from pacts_spark.datapipe.sft import preference_pairs

    return preference_pairs(_transcripts(spark, sf_dir))


_PREFERENCE_PAIRS_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
b AS (
  SELECT conv_id, turn_idx, text, tool, epoch_us(ts) AS us
  FROM t
  WHERE role = 'assistant' AND text IS NOT NULL AND turn_idx IS NOT NULL
),
p AS (
  SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         lag(text) OVER (PARTITION BY conv_id, turn_idx
           ORDER BY coalesce(us, 9223372036854775807), text, tool) AS rejected,
         text AS chosen
  FROM b
)
SELECT conv_id, turn_idx, rejected, chosen FROM p WHERE rejected IS NOT NULL
"""


def _q_conversation_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-LEVEL near-duplicate detection: each conversation
    becomes one document (turn texts joined in pinned (turn_idx, text)
    order — NULL idx coalesced to a sentinel so both engines sort
    identically), then the standard MinHash candidate-verify pipeline
    (dedup.minhash_verified_pairs, 2-token shingles, exact Jaccard
    re-score ≥ 0.5). Finds scripted/replayed dialogues exact turn dedup
    misses. Conversations whose turns are ALL NULL text derive '' and
    are dropped in BOTH engines (content-less convs aren't near-dups of
    each other — they would otherwise form an N² jaccard-1.0 clique on
    the single '' shingle). Same miss bound as minhash_pairs_documents
    vs its exact all-pairs twin: (1-j²)^32 ≈ 2e-4 at j=0.5. The derived
    frame is checkpointed once — minhash references its input twice
    (signatures + verify shingles)."""
    from pacts_spark.datapipe.dedup import minhash_verified_pairs

    t = _transcripts(spark, sf_dir)
    conv_docs = (
        t.groupBy("conv_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.coalesce(
                                    F.col("turn_idx"), F.lit(2147483647)
                                ).alias("i"),
                                F.coalesce(F.col("text"), F.lit("")).alias("x"),
                            )
                        )
                    ),
                    lambda s: s.getField("x"),
                ),
            ).alias("text")
        )
        .filter(F.trim(F.col("text")) != "")
        .localCheckpoint(eager=False)
    )
    return minhash_verified_pairs(
        conv_docs, id_col="conv_id", k=64, shingle_n=2, threshold=0.5
    )


_CONV_NEARDUP_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
cd AS (
  SELECT conv_id,
         string_agg(coalesce(text, ''), ' '
           ORDER BY coalesce(turn_idx, 2147483647), coalesce(text, '')) AS text
  FROM t GROUP BY conv_id
),
toks AS (
  -- all-NULL-text conversations derive '' and are dropped (engine
  -- filter twin): they'd otherwise clique at jaccard 1.0 on shingle ''
  SELECT conv_id, string_split(trim(text), ' ') AS t
  FROM cd WHERE trim(text) <> ''
),
sh AS (
  SELECT DISTINCT conv_id AS id, array_to_string(t[u.i:u.i + 1], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS u(i)
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.id
JOIN sizes sb ON i.id_b = sb.id
WHERE round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) >= 0.5
"""


def _q_vocab_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training round (textstats.
    vocab_merge_candidates): corpus-wide adjacent piece-pair counts,
    top-50 merge candidates under a pinned (count DESC, pair ASC) total
    order — vocabulary-bounded shuffle, TakeOrdered cut, one scan."""
    from pacts_spark.datapipe.textstats import vocab_merge_candidates

    return vocab_merge_candidates(_load(spark, sf_dir, "documents"), top_k=50)


def _vocab_merges_sql(top_k: int = 50) -> str:
    from pacts_spark.datapipe.textstats import BPE_ISH_PATTERN

    pat = BPE_ISH_PATTERN.replace("'", "''")
    return f"""
WITH p AS (
  SELECT regexp_extract_all(text, '{pat}') AS ps FROM documents
),
pr AS (
  -- adjacent pairs via zipped slices (DuckDB 1.0's range() cannot take
  -- lateral column bounds); numeric struct indexes — list_zip structs
  -- are unnamed
  SELECT z[1] AS piece_a, z[2] AS piece_b FROM (
    SELECT unnest(list_zip(ps[1:len(ps) - 1], ps[2:len(ps)])) AS z
    FROM p WHERE len(ps) >= 2
  )
)
SELECT piece_a, piece_b, CAST(count(*) AS BIGINT) AS n
FROM pr GROUP BY 1, 2
ORDER BY n DESC, piece_a, piece_b
LIMIT {int(top_k)}
"""


def _q_centroid_drift_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding-centroid drift (checks/drift.
    embedding_centroid_drift): exact integer micro/milli math — per-dim
    BIGINT sums with map-side combine, truncating-division centroids
    identical in both engines, integer cos² threshold inequality. The
    vector analogue of drift_scores; flags an embedding-model change or
    poisoned source before any scalar stat moves."""
    from pacts_spark.checks.drift import embedding_centroid_drift

    emb = _load(spark, sf_dir, "embeddings")
    docs = _load(spark, sf_dir, "documents")
    joined = emb.join(docs, emb.vec_id == docs.doc_id).select(
        F.col("source").alias("part"), "embedding"
    )
    return embedding_centroid_drift(
        joined, part_col="part", min_cos_ppm=200_000, expected_dim=64
    )


def _centroid_drift_sql(min_cos_ppm: int = 200_000) -> str:
    t = (min_cos_ppm * min_cos_ppm) // 1_000_000
    return f"""
WITH e AS (
  SELECT d.source AS part,
         list_transform(e.embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  -- explicit health filter matching the engine's expected_dim rule:
  -- the range cross-join below would otherwise COUNT NULL/ragged
  -- vectors Spark's posexplode drops, and quantizing a NaN/Inf/huge
  -- element crashes the CAST in both engines
  WHERE e.embedding IS NOT NULL AND len(e.embedding) = 64
    AND len(list_filter(e.embedding, x -> x IS NULL
          OR NOT (abs(CAST(x AS DOUBLE)) <= {_VECTOR_MAX_ABS}))) = 0
),
x AS (SELECT part, r.i AS pos, q[CAST(r.i AS INT)] AS val FROM e, range(1, 65) r(i)),
ps AS (SELECT part, pos, CAST(sum(val) AS BIGINT) AS s, count(*) AS n FROM x GROUP BY 1, 2),
pc AS (SELECT part, pos, (s // n) // 1000 AS c, n FROM ps),
gs AS (SELECT pos, CAST(sum(s) AS BIGINT) AS s, CAST(sum(n) AS BIGINT) AS n FROM ps GROUP BY 1),
gc AS (SELECT pos, (s // n) // 1000 AS g FROM gs),
agg AS (
  SELECT part, CAST(max(n) AS BIGINT) AS n_vecs,
         CAST(sum(c * g) AS BIGINT) AS dot,
         CAST(sum(c * c) AS BIGINT) AS norm2_part,
         CAST(sum(g * g) AS BIGINT) AS norm2_global
  FROM pc JOIN gc USING (pos) GROUP BY part
)
SELECT part, n_vecs, dot, norm2_part, norm2_global,
       (dot <= 0 OR dot * dot < (({t} * norm2_part) // 1000000) * norm2_global)
         AS drifted
FROM agg
"""


def _q_json_type_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload schema-drift detection (checks/stats.
    json_field_type_histogram): observed-JSON-type histogram per field,
    read from the RAW value text via Spark-4 variant extraction (quoted
    numbers stay strings). The payload simulates producer drift: every
    turn_idx % 7 == 0 row serializes turn_idx as a STRING — the
    histogram surfaces the (turn_idx, string) rows a typed validator
    only reports row by row. One scan, (field,jtype) shuffle only."""
    from pacts_spark.checks.stats import json_field_type_histogram

    t = _transcripts(spark, sf_dir)

    def payload_of(idx_col):
        return F.to_json(
            F.struct(
                F.col("conv_id"),
                idx_col.alias("turn_idx"),
                F.col("role"),
                F.col("text"),
                F.col("tool"),
            ),
            {"ignoreNullFields": "false"},
        )

    payload = F.when(
        F.col("turn_idx") % 7 == 0, payload_of(F.col("turn_idx").cast("string"))
    ).otherwise(payload_of(F.col("turn_idx")))
    return json_field_type_histogram(
        t.select(payload.alias("payload")),
        "payload",
        ["conv_id", "turn_idx", "role", "text", "tool", "session_id"],
    )


_JSON_TYPES_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}), u AS (
  SELECT 'conv_id' AS field,
         CASE WHEN conv_id IS NULL THEN 'null' ELSE 'string' END AS jtype FROM t
  UNION ALL
  SELECT 'turn_idx',
         CASE WHEN turn_idx IS NULL THEN 'null'
              WHEN turn_idx % 7 = 0 THEN 'string'
              ELSE 'number' END FROM t
  UNION ALL
  SELECT 'role', CASE WHEN role IS NULL THEN 'null' ELSE 'string' END FROM t
  UNION ALL
  SELECT 'text', CASE WHEN text IS NULL THEN 'null' ELSE 'string' END FROM t
  UNION ALL
  SELECT 'tool', CASE WHEN tool IS NULL THEN 'null' ELSE 'string' END FROM t
  UNION ALL
  SELECT 'session_id', 'missing' FROM t
)
SELECT field, jtype, count(*) AS n FROM u GROUP BY 1, 2
"""


def _q_inferred_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema bootstrap (checks/stats.infer_payload_schema): observed
    type histogram → per-field modal type + support ppm + nullable /
    required evidence — data to enforceable contract (the collected
    rows feed schema_dict_from_inference → the compiler). Heavy work is
    the histogram's one scan; this stage is catalog-sized."""
    from pacts_spark.checks.stats import infer_payload_schema

    return infer_payload_schema(_q_json_type_histogram(spark, sf_dir))


def _inferred_schema_sql() -> str:
    return f"""
WITH h AS ({_JSON_TYPES_SQL}),
m AS (
  SELECT field, jtype AS inferred_type, n FROM (
    SELECT field, jtype, n,
           row_number() OVER (PARTITION BY field ORDER BY n DESC, jtype ASC) AS rk
    FROM h WHERE jtype NOT IN ('null', 'missing', 'invalid')
  ) WHERE rk = 1
),
tot AS (
  SELECT field, CAST(sum(n) AS BIGINT) AS n_total,
         sum(CASE WHEN jtype = 'null' THEN n ELSE 0 END) > 0 AS nullable,
         sum(CASE WHEN jtype = 'missing' THEN n ELSE 0 END) = 0 AS required
  FROM h GROUP BY field
)
SELECT t.field, coalesce(m.inferred_type, 'unknown') AS inferred_type,
       CAST(coalesce(m.n, 0) * 1000000 // t.n_total AS BIGINT) AS support_ppm,
       t.nullable, t.required
FROM tot t LEFT JOIN m USING (field)
"""


def _q_anomalous_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sigma outlier partitions over the run's own per-partition
    verdicts (checks/drift.anomalous_partitions): exact integer z-test
    — per-mille rates, population variance, the inequality multiplied
    through by n_p² so no float mean/σ ever exists. Three scalars to
    the driver; flag pass is a pure projection."""
    from pacts_spark.checks.drift import anomalous_partitions

    return anomalous_partitions(_q_partition_verdicts(spark, sf_dir), k=2)


def _anomalous_partitions_sql() -> str:
    return f"""
WITH v AS ({_VERDICTS_SQL}),
r AS (
  SELECT part, n_rows, n_invalid_rows,
         CAST(n_invalid_rows * 1000 // n_rows AS BIGINT) AS rate_pm
  FROM v
),
s AS (
  SELECT count(*) AS np, CAST(sum(rate_pm) AS BIGINT) AS s,
         CAST(sum(rate_pm * rate_pm) AS BIGINT) AS r2
  FROM r
)
SELECT part, n_rows, n_invalid_rows, rate_pm,
       (np * rate_pm - s) * (np * rate_pm - s) > 4 * (np * r2 - s * s) AS anomalous
FROM r, s
"""


def _q_validate_transcripts_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field conditional requirements (compiler.py §4 engine
    extensions): dependentRequired tool→text + if role='assistant' then
    text required — pure Column conjunctions fused into the same single
    errors_column projection as every other check (no UDF, no extra
    pass)."""
    t = _transcripts(spark, sf_dir)
    return _engine().validate_data(t, "transcripts", "turn_conditional").select(
        "conv_id", "turn_idx", "valid", "error_message"
    )


_VALIDATE_CONDITIONAL_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL})
SELECT conv_id, turn_idx,
       (conv_id IS NOT NULL AND turn_idx IS NOT NULL AND role IS NOT NULL
        AND ts IS NOT NULL
        AND NOT (tool IS NOT NULL AND text IS NULL)
        AND NOT (role IS NOT NULL AND role = 'assistant' AND text IS NULL)) AS valid,
       CASE WHEN (conv_id IS NOT NULL AND turn_idx IS NOT NULL AND role IS NOT NULL
                  AND ts IS NOT NULL
                  AND NOT (tool IS NOT NULL AND text IS NULL)
                  AND NOT (role IS NOT NULL AND role = 'assistant' AND text IS NULL))
            THEN 'Validation successful'
            ELSE concat_ws('; ',
              CASE WHEN conv_id IS NULL THEN 'Required field missing: conv_id' END,
              CASE WHEN turn_idx IS NULL THEN 'Required field missing: turn_idx' END,
              CASE WHEN role IS NULL THEN 'Required field missing: role' END,
              CASE WHEN ts IS NULL THEN 'Required field missing: ts' END,
              CASE WHEN tool IS NOT NULL AND text IS NULL
                   THEN 'Field ''text'' is required when ''tool'' is present' END,
              CASE WHEN role IS NOT NULL AND role = 'assistant' AND text IS NULL
                   THEN 'Field ''text'' is required when ''role'' = ''assistant''' END)
       END AS error_message
FROM t
"""


def _q_schema_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution impact report (SchemaLoader versioning v1→v2,
    SchemaLoader.java:257-259 scaled up): per-day counts of turns that
    pass the v1 turn schema but fail the stricter v2 candidate —
    the gating signal for rolling a schema version forward."""
    t = _transcripts(spark, sf_dir)
    eng = _engine()
    # both verdicts in ONE fused projection chain — no self-join, no
    # shuffle beyond the final per-day aggregation
    both = eng.validate_data(t, "transcripts", "turn").withColumnRenamed(
        "valid", "valid_v1"
    ).drop("errors", "error_message")
    both = eng.validate_data(both, "transcripts", "turn_strict").withColumnRenamed(
        "valid", "valid_v2"
    )
    return (
        both.groupBy(F.to_date("ts").alias("part"))
        .agg(
            F.sum((F.col("valid_v1") & ~F.col("valid_v2")).cast("long")).alias(
                "n_break_on_upgrade"
            ),
            F.sum(F.col("valid_v1").cast("long")).alias("n_valid_v1"),
            F.sum(F.col("valid_v2").cast("long")).alias("n_valid_v2"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_SCHEMA_DIFF_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
v AS (
  SELECT CAST(ts AS DATE) AS part,
         (conv_id IS NOT NULL AND turn_idx IS NOT NULL AND role IS NOT NULL
          AND text IS NOT NULL AND ts IS NOT NULL) AS v1,
         (conv_id IS NOT NULL AND turn_idx IS NOT NULL AND role IS NOT NULL
          AND text IS NOT NULL AND ts IS NOT NULL
          AND (conv_id IS NULL OR regexp_matches(conv_id, 'conv-\\d+'))
          AND (role IS NULL OR role IN ('system', 'user', 'assistant'))) AS v2
  FROM t
)
SELECT part,
       CAST(sum(CASE WHEN v1 AND NOT v2 THEN 1 ELSE 0 END) AS BIGINT) AS n_break_on_upgrade,
       CAST(sum(CASE WHEN v1 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_v1,
       CAST(sum(CASE WHEN v2 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_v2,
       count(*) AS n_rows
FROM v GROUP BY 1
"""


def _q_validate_envelopes_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PRIMARY entry point end to end: envelope JSON parse
    (PactsService.parseEnvelope) → Validator.validate lifecycle
    (Validator.java:39-81) with MIXED per-row coordinates — header-null,
    blank coordinate triple, each single blank coordinate, unknown schema
    ("Schema not found: {category}/{name}", Validator.java:68), top-level
    type failure, and a fully valid envelope. Envelopes are built
    deterministically from events (event_id % 8 selects the case)."""
    from pacts_spark.model import parse_envelopes

    ev = _load(spark, sf_dir, "events")
    m = F.col("event_id") % 8
    props = F.col("props")
    hdr = '{"header": {"schema_version": "v1", "schema_category": "events", "schema_name": "props_check"}'
    env = (
        F.when(m == 0, F.concat(F.lit('{"data": '), props, F.lit("}")))
        .when(m == 1, F.concat(
            F.lit('{"header": {"schema_version": "", "schema_category": "", "schema_name": ""}, "data": '),
            props, F.lit("}")))
        .when(m == 2, F.concat(
            F.lit('{"header": {"schema_version": "v1", "schema_name": "props_check"}, "data": '),
            props, F.lit("}")))
        .when(m == 3, F.concat(
            F.lit('{"header": {"schema_version": "v1", "schema_category": "events"}, "data": '),
            props, F.lit("}")))
        .when(m == 4, F.concat(
            F.lit('{"header": {"schema_category": "events", "schema_name": "props_check"}, "data": '),
            props, F.lit("}")))
        .when(m == 5, F.concat(
            F.lit('{"header": {"schema_version": "v1", "schema_category": "nope", "schema_name": "nada"}, "data": '),
            props, F.lit("}")))
        .when(m == 6, F.lit(hdr + ', "data": 5}'))
        .otherwise(F.lit(hdr + ', "data": {"k": 1, "v": 2}}'))
    )
    parsed = parse_envelopes(
        ev.select("event_id", env.alias("value")), keep=("event_id",)
    )
    return _engine().validate_envelopes(parsed).select(
        "event_id", "valid", "error_message"
    )


# The envelope embeds raw `props` for m in 0..5, so a NULL or non-JSON
# props corrupts the WHOLE envelope: from_json(PERMISSIVE) yields a NULL
# header -> 'Header is required' (poisoned-fixture parity, probed). The
# m=4 branch replays the data errors structurally (same fragments as
# _VALIDATE_EVENTS_JSON_SQL) instead of assuming the clean fixture's
# props shape.
_VALIDATE_ENVELOPES_SQL = """
WITH p AS (
  SELECT event_id, event_id % 8 AS m, props,
         props IS NULL OR NOT json_valid(props) AS bad_embed,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.k') IS NOT NULL ELSE FALSE END AS has_k,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.v') IS NOT NULL ELSE FALSE END AS has_v,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props) = 'OBJECT' ELSE FALSE END AS is_obj,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.k') END AS k_type
  FROM events
),
d AS (
  SELECT *, concat_ws('; ',
      CASE WHEN NOT has_k THEN 'Required field missing: k' END,
      CASE WHEN NOT has_v THEN 'Required field missing: v' END,
      CASE WHEN NOT is_obj THEN 'Invalid type. Expected: object' END,
      CASE WHEN is_obj AND has_k AND k_type NOT IN ('BIGINT', 'UBIGINT')
           THEN 'Invalid type for field ''k''. Expected: integer' END) AS data_errs
  FROM p
)
SELECT event_id, (m = 7) AS valid,
  CASE
    WHEN m <= 5 AND bad_embed THEN 'Header is required'
    WHEN m = 0 THEN 'Header is required'
    WHEN m = 1 THEN 'Header is required'
    WHEN m = 2 THEN 'Schema category is required in header'
    WHEN m = 3 THEN 'Schema name is required in header'
    WHEN m = 4 THEN concat_ws('; ', 'Schema version is required in header',
                              nullif(data_errs, ''))
    WHEN m = 5 THEN 'Schema not found: nope/nada'
    WHEN m = 6 THEN 'Required field missing: k; Required field missing: v; Invalid type. Expected: object'
    ELSE 'Validation successful'
  END AS error_message
FROM d
"""


def _q_validate_orders_missing_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-level graceful miss (PactsService.validateData,
    PactsService.java:78-89): the requested (category, name) is not in the
    registry, so EVERY row gets the 4-part
    ``Schema not found: {domain}/{version}/{category}/{name}`` string —
    the Java facade's synthetic-failure path (Rust panics instead;
    SURVEY.md §2.2 picks the graceful branch). Covers the last reference
    error string with a driver-oracled row."""
    orders = _load(spark, sf_dir, "orders")
    return _engine().validate_data(orders, "tpch", "orders_v9").select(
        "o_orderkey", "valid", "error_message"
    )


_ORDERS_MISSING_SCHEMA_SQL = """
SELECT o_orderkey, FALSE AS valid,
       'Schema not found: bees/v1/tpch/orders_v9' AS error_message
FROM orders
"""


def _q_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCER → CONSUMER round trip: build envelopes with the factory/serde
    (model.envelope_json ≙ PactsService.createEnvelope + toJson,
    PactsService.java:39-47,133-136) → parse_envelopes (parseEnvelope,
    :127-131) → full Validator lifecycle. Covers the produce-side factory
    (#13) and JSON serde (#16) end to end with an oracled verdict; the
    metadata map is carried through both directions (and never validated —
    reference parity, SURVEY.md §1.1) and re-emitted as ``meta_source``."""
    from pacts_spark.model import envelope_json, parse_envelopes

    ev = _load(spark, sf_dir, "events")
    m = F.col("event_id") % 3
    data = (
        F.when(m == 0, F.col("props"))          # {"k": N} → missing v
        .when(m == 1, F.lit('{"k": 1, "v": 2}'))  # valid
        .otherwise(F.lit("5"))                    # top-level type failure
    )
    wire = envelope_json(
        data,
        version="v1",
        category="events",
        name="props_check",
        run_ts="2026-01-01T00:00:00Z",
        metadata=F.create_map(F.lit("source"), F.lit("roundtrip")),
    )
    parsed = parse_envelopes(
        ev.select("event_id", wire.alias("value")), keep=("event_id",)
    )
    validated = _engine().validate_envelopes(parsed)
    return validated.select(
        "event_id",
        "valid",
        "error_message",
        F.col("metadata").getItem("source").alias("meta_source"),
    )


# m=0 embeds raw props in the wire envelope: non-JSON props make the
# wire malformed (from_json PERMISSIVE -> NULL header -> 'Header is
# required', metadata NULL too), while NULL props serialize as JSON null
# (envelope_json coalesce) and validate as None;
# valid props replay their data errors structurally (same fragments as
# _VALIDATE_EVENTS_JSON_SQL) instead of assuming the clean fixture's
# props shape (poisoned-fixture parity).
_ENVELOPE_ROUNDTRIP_SQL = """
WITH p AS (
  -- bad_embed EXCLUDES NULL: envelope_json coalesces NULL data to JSON
  -- null (the wire stays well-formed; the validator then sees None ->
  -- 3-error string), unlike validate_envelopes_mixed's raw concat where
  -- NULL props nulls the whole envelope
  SELECT event_id, event_id % 3 AS m, props,
         props IS NOT NULL AND NOT json_valid(props) AS bad_embed,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.k') IS NOT NULL ELSE FALSE END AS has_k,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.v') IS NOT NULL ELSE FALSE END AS has_v,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props) = 'OBJECT' ELSE FALSE END AS is_obj,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_type(props, '$.k') END AS k_type
  FROM events
),
d AS (
  SELECT *, concat_ws('; ',
      CASE WHEN NOT has_k THEN 'Required field missing: k' END,
      CASE WHEN NOT has_v THEN 'Required field missing: v' END,
      CASE WHEN NOT is_obj THEN 'Invalid type. Expected: object' END,
      CASE WHEN is_obj AND has_k AND k_type NOT IN ('BIGINT', 'UBIGINT')
           THEN 'Invalid type for field ''k''. Expected: integer' END) AS data_errs
  FROM p
)
SELECT event_id,
       CASE WHEN m = 1 THEN TRUE
            WHEN m = 0 AND NOT bad_embed AND data_errs = '' THEN TRUE
            ELSE FALSE END AS valid,
       CASE
         WHEN m = 0 AND bad_embed THEN 'Header is required'
         WHEN m = 0 THEN CASE WHEN data_errs = '' THEN 'Validation successful'
                              ELSE data_errs END
         WHEN m = 1 THEN 'Validation successful'
         ELSE 'Required field missing: k; Required field missing: v; Invalid type. Expected: object'
       END AS error_message,
       CASE WHEN m = 0 AND bad_embed THEN NULL
            ELSE 'roundtrip' END AS meta_source
FROM d
"""


def _q_neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pacts_spark.datapipe.similarity import cosine_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, threshold=0.4, dim=64)


_NEARDUP_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(
         CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM {_HEALTHY_EMB_SQL} a JOIN {_HEALTHY_EMB_SQL} b ON a.vec_id < b.vec_id
-- threshold the ROUNDED value (matching the engine): raw-sim thresholds
-- let BLAS-vs-DuckDB summation ulps flip boundary pairs between engines
WHERE round(list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""


def _q_ivf_cosine_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pacts_spark.datapipe.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    return ivf_topk(emb, block_col="label", k=1, dim=64).select("vec_id", "nn_id", "label")


_IVF_NN_SQL = f"""
SELECT vec_id, nn_id, label FROM (
  SELECT a.vec_id, b.vec_id AS nn_id, a.label,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(
             CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC,
           b.vec_id ASC) AS rn
  FROM {_HEALTHY_EMB_SQL} a
  JOIN {_HEALTHY_EMB_SQL} b ON a.label = b.label AND a.vec_id <> b.vec_id
) WHERE rn = 1
"""


_IVFQ_CELLS = 8
_IVFQ_NPROBE = 2


def _q_ivf_trained_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full FAISS-IVF shape: trained coarse quantizer (deterministic
    hash-ranked seed centroids) + multi-probe assignment + cell-local
    scoring. The SQL twin replays the IDENTICAL algorithm (same centroid
    rule, same probe ranking, same tie-breaks), so parity is exact."""
    from pacts_spark.datapipe.similarity import ivf_quantized_topk

    emb = _load(spark, sf_dir, "embeddings")
    return ivf_quantized_topk(
        emb, n_cells=_IVFQ_CELLS, nprobe=_IVFQ_NPROBE, k=1, dim=64
    )


def _ivfq_sql(
    n_cells: int = _IVFQ_CELLS,
    nprobe: int = _IVFQ_NPROBE,
    source_sql: str | None = None,
) -> str:
    """SQL twin of ivf_quantized_topk (trained quantizer + multi-probe +
    cell-local scoring). ``source_sql``: optional SELECT producing
    (vec_id, embedding) replacing the embeddings table — lets the same
    replay run over DERIVED vectors (embed_then_ann)."""
    pre, src = ("", _HEALTHY_EMB_SQL) if source_sql is None else (
        f"emb AS ({source_sql}), ",
        "emb",
    )
    return f"""
WITH {pre}ranked_seeds AS (
  SELECT vec_id AS cid, embedding AS cv,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell
  FROM {src}
),
cells AS (SELECT * FROM ranked_seeds WHERE cell <= {n_cells}),
sims AS (
  SELECT e.vec_id, e.embedding, c.cell,
         list_cosine_similarity(
           CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS s
  FROM {src} e CROSS JOIN cells c
),
pranked AS (
  SELECT vec_id, embedding, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS pr
  FROM sims
),
assign AS (SELECT vec_id, embedding, cell FROM pranked WHERE pr = 1),
probes AS (SELECT vec_id, embedding, cell FROM pranked WHERE pr <= {nprobe}),
scored AS (
  SELECT p.vec_id AS qid, a.vec_id AS cid,
         list_cosine_similarity(
           CAST(p.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.vec_id
),
dedup AS (SELECT qid, cid, max(sim) AS sim FROM scored GROUP BY qid, cid)
SELECT vec_id, nn_id, rank FROM (
  SELECT qid AS vec_id, cid AS nn_id,
         CAST(row_number() OVER (
           PARTITION BY qid ORDER BY sim DESC, cid ASC) AS INT) AS rank
  FROM dedup
) WHERE rank <= 1
"""


def _q_quality_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = text_stats(_load(spark, sf_dir, "documents"))
    return stats.filter(
        (F.col("quality_score") >= 0.5) & (F.col("n_tokens") >= 30)
    ).select("doc_id", "n_tokens", "quality_score")


_QUALITY_FILTER_SQL = """
WITH s AS (
  SELECT doc_id, trim(text) AS t,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
         END AS n_tok
  FROM documents
),
q AS (
  SELECT doc_id, n_tok,
         round(least(1.0,
           (CASE WHEN n_tok > 0
                 THEN len(list_distinct(string_split(t, ' '))) / n_tok
                 ELSE 0.0 END) * least(n_tok / 50.0, 1.0)), 6) AS quality_score
  FROM s
)
SELECT doc_id, n_tok AS n_tokens, quality_score
FROM q WHERE quality_score >= 0.5 AND n_tok >= 30
"""


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the oracle: documents become opaque
    binary media blobs (deterministic modality assignment); the
    mapInPandas feature extractor's verifiable outputs (byte length,
    sha256) are compared — the fake decode vector itself is engine-only."""
    from pacts_spark.datapipe.multimodal import extract_features

    docs = _load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return extract_features(media, dim=8).select(
        "media_id", "modality", "n_bytes", "sha256"
    )


_MEDIA_FEATURES_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


def _q_windowed_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming per-event-time-window verdict aggregation
    (streaming.windowed_verdicts), exercised on the batch path — identical
    plan (tumbling F.window groupBy); emits epoch-second window starts
    (all-long output for cross-engine hash parity)."""
    from pacts_spark.streaming import windowed_verdicts

    t = _transcripts(spark, sf_dir)
    v = _engine().validate_data(t, "transcripts", "turn")
    w = windowed_verdicts(v, window="1 hour", watermark="2 hours")
    return w.select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "pass",
        "n_violations",
        "n_rows",
    )


_WINDOWED_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL})
-- date_trunc, not //: DuckDB // truncates toward zero, so a pre-1970
-- (negative-µs) timestamp would land in the wrong hour bucket vs
-- Spark's window(), which floors; calendar truncation floors always
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
       (sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) = 0) AS pass,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       count(*) AS n_rows
-- ts IS NOT NULL pins Spark's event-time rule: window() drops
-- null-timestamp rows (poisoned-fixture parity)
FROM t WHERE ts IS NOT NULL GROUP BY 1
"""


def _q_dedup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUP assignment: connected components over the union of
    exact-dup and verified near-dup (Jaccard >= 0.5) edges — every
    document gets a row (unpaired docs are singleton canonicals); the
    oracle recomputes components with a recursive-CTE transitive
    closure."""
    from pacts_spark.datapipe.clusters import dedup_clusters

    docs = _load(spark, sf_dir, "documents")
    ex_pairs = exact_duplicate_pairs(docs)
    near = minhash_verified_pairs(docs, k=64, threshold=0.5).select("id_a", "id_b")
    pairs = ex_pairs.unionByName(near)
    return dedup_clusters(docs, pairs)


_CLUSTERS_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(t[u.i:u.i + 2], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
jacc AS (
  SELECT i.id_a, i.id_b
  FROM inter i JOIN sizes sa ON i.id_a = sa.id JOIN sizes sb ON i.id_b = sb.id
  WHERE round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) >= 0.5
),
ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b
    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
e0 AS (SELECT * FROM jacc UNION SELECT * FROM ex),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM e0
  UNION
  SELECT id_b AS src, id_a AS dst FROM e0
),
nodes AS (SELECT doc_id AS id FROM documents),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src
)
SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS is_canonical
FROM reach GROUP BY id
"""


def _q_quality_head_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30%-by-quality head per language WITHOUT a corpus sort: the
    round-6 score makes the (lang, score) histogram bounded, so the
    k-th-largest threshold comes from an aggregate + tiny window;
    threshold ties are all kept (deterministic)."""
    from pacts_spark.datapipe.sampling import quality_head
    from pacts_spark.datapipe.textstats import text_stats

    docs = _load(spark, sf_dir, "documents")
    scored = text_stats(docs, keep=("lang",)).select(
        "doc_id", "lang", "quality_score"
    )
    return quality_head(scored, frac=0.3, score_col="quality_score", stratum_col="lang")


_QUALITY_HEAD_SQL = """
WITH q AS (
  SELECT doc_id, lang,
         round(least(1.0,
           (CASE WHEN n_tok > 0
                 THEN len(list_distinct(string_split(t, ' '))) / n_tok
                 ELSE 0.0 END) * least(n_tok / 50.0, 1.0)), 6) AS quality_score
  FROM (
    SELECT doc_id, lang, trim(text) AS t,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
           END AS n_tok
    FROM documents
  )
),
hist AS (SELECT lang, quality_score AS s, count(*) AS c FROM q GROUP BY 1, 2),
cum AS (
  SELECT lang, s,
         sum(c) OVER (PARTITION BY lang ORDER BY s DESC
                      ROWS UNBOUNDED PRECEDING) AS cumc,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
thr AS (
  SELECT lang, max(s) AS thr
  FROM cum
  WHERE cumc >= floor(0.3 * n + 0.5) AND floor(0.3 * n + 0.5) >= 1
  GROUP BY lang
)
SELECT q.doc_id, q.lang, q.quality_score
FROM q JOIN thr USING (lang)
WHERE q.quality_score >= thr.thr
"""


def _q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (15-min inactivity): per-user 1-based
    session index via lag + running sum on ONE user-keyed exchange;
    timestamps compare as integer microseconds (the repo's exact
    cross-engine time idiom)."""
    from pacts_spark.datapipe.sessions import sessionize

    return sessionize(_load(spark, sf_dir, "events"), gap_seconds=900)


_SESSIONIZE_SQL = """
WITH o AS (
  SELECT event_id, user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) AS prev_ts
  FROM events
)
SELECT event_id, user_id,
       CAST(sum(CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 900000000
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
FROM o
"""


def _q_session_transcripts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw events -> session transcripts (15-min gap): one row per
    session with the exact (ts, event_id)-ordered event-type sequence;
    the assembly groupBy EXTENDS the session window's partition key, so
    sessionize + assembly is ONE shuffle (plan-verified)."""
    from pacts_spark.datapipe.sessions import session_transcripts

    return session_transcripts(_load(spark, sf_dir, "events"), gap_seconds=900)


_SESSION_TRANSCRIPTS_SQL = """
WITH o AS (
  SELECT event_id, user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) AS prev_ts
  FROM events
),
s AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
         CAST(sum(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 900000000
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM o
)
SELECT user_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(us) AS BIGINT) AS start_us,
       CAST(max(us) AS BIGINT) AS end_us,
       -- event_type appended as the FINAL tiebreak: Spark's array_sort
       -- struct (us, id-null-flag, id, type) is type-deterministic on
       -- fully tied (us, id) rows; bare string_agg order would be
       -- unspecified there (duplicate-id corpora)
       string_agg(event_type, ' ' ORDER BY us, event_id, event_type) AS transcript
FROM s GROUP BY user_id, session_idx
"""


def _q_session_windows_native_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's BUILT-IN session_window (the idiomatic
    aggregate that transfers unchanged to Structured Streaming); the SQL
    twin pins the native boundary rule — a gap of EXACTLY gap_seconds
    still merges, only strictly-greater closes (probed live, see
    test_native_session_window_boundary_rule) — end = last event + gap."""
    from pacts_spark.datapipe.sessions import native_session_windows

    return native_session_windows(_load(spark, sf_dir, "events"), gap_seconds=900)


_SESSION_WINDOWS_NATIVE_SQL = """
WITH o AS (
  -- ts IS NOT NULL pins Spark's native rule: session_window (like every
  -- event-time window) DROPS null-timestamp rows; the lag/sum replay
  -- would otherwise give them their own session (poisoned-fixture parity)
  SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) AS prev_ts
  FROM events
  WHERE ts IS NOT NULL
),
s AS (
  -- the running-sum window must order IDENTICALLY to the lag window
  -- (ts, event_id): ordering by ts alone makes sidx nondeterministic on
  -- tied timestamps and can split a session Spark's session_window merges
  SELECT user_id, us,
         CAST(sum(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 900000000
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sidx
  FROM o
)
SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
       CAST(max(us) + 900000000 AS BIGINT) AS end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sidx
"""


def _q_leakage_safe_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination-safe train/eval split: the eval/train decision is
    a hash of the dedup CLUSTER id (exact + verified near-dup edges), so
    duplicates never straddle the split; oracle replays the transitive
    closure and the same md5 bucket rule on min-reachable-id."""
    from pacts_spark.datapipe.clusters import leakage_safe_split

    docs = _load(spark, sf_dir, "documents")
    ex_pairs = exact_duplicate_pairs(docs)
    near = minhash_verified_pairs(docs, k=64, threshold=0.5).select("id_a", "id_b")
    return leakage_safe_split(docs, ex_pairs.unionByName(near), eval_rate=0.2)


_LEAKAGE_SPLIT_SQL = _CLUSTERS_SQL.replace(
    "SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS is_canonical\nFROM reach GROUP BY id",
    """SELECT id AS doc_id, min(r) AS cluster_id,
       CASE WHEN CAST('0x' || substr(md5(CAST(min(r) AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 2000
            THEN 'eval' ELSE 'train' END AS split
FROM reach GROUP BY id""",
)
assert "split" in _LEAKAGE_SPLIT_SQL  # the replace anchored correctly


def _q_sample_documents_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified hash sample (per-language mixing rates) —
    retry/partitioning-independent, nested under rate increase; oracle
    computes the identical md5 bucket in SQL."""
    from pacts_spark.datapipe.sampling import stratified_hash_sample

    docs = _load(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, {"en": 0.5, "de": 0.3}, "lang", key_col="doc_id", default_rate=0.1
    ).select("doc_id", "lang")


_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000
      < CASE lang WHEN 'de' THEN 3000 WHEN 'en' THEN 5000 ELSE 1000 END
"""


# -- sketch queries, candidate-then-verify with exact-twin oracles ----------


def _q_minhash_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidates (k=64, 2-row bands) re-scored with EXACT
    Jaccard: output equals the exact all-pairs Jaccard >= 0.5 set up to a
    (1-j^2)^32 ~ 2e-4 miss bound (dedup.minhash_verified_pairs docstring;
    verified exactly equal at sf0.01 AND sf0.1) — oracled against the
    exact all-pairs SQL."""
    docs = _load(spark, sf_dir, "documents")
    return minhash_verified_pairs(docs, k=64, threshold=0.5)


_MINHASH_SQL = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(t[u.i:u.i + 2], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.id
JOIN sizes sb ON i.id_b = sb.id
WHERE round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) >= 0.5
"""


_SIMHASH_BITS = 60
_SIMHASH_MAX_HAMMING = 8


def _q_simhash_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs with the pigeonhole recall guarantee
    (max_hamming+1 chunks) and an md5-prefix token hash computable
    identically in DuckDB — the oracle recomputes the fingerprints in SQL
    and checks the exact all-pairs Hamming <= h set.

    ``small_corpus=True`` is a deliberate oracle-richness choice: h=8 on
    60 bits gives 9 chunks of ~6 bits — a 64-value keyspace per chunk
    that degrades toward all-pairs at corpus scale (the operator guard
    would reject it). It stays because the wide Hamming radius surfaces
    thousands of verifiable pairs from the small test corpus; production
    parameters are the operator default (64 bits, h=3, 16-bit chunks)."""
    docs = _load(spark, sf_dir, "documents")
    return simhash_near_pairs(
        docs,
        max_hamming=_SIMHASH_MAX_HAMMING,
        token_hash="md5_60",
        bits=_SIMHASH_BITS,
        small_corpus=True,
    )


def _simhash_sql(bits: int = _SIMHASH_BITS, h: int = _SIMHASH_MAX_HAMMING) -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    fp = " | ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST(1 AS BIGINT) << {j} ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS tk
  FROM documents
),
hs AS (SELECT doc_id, CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS th FROM toks),
b AS (SELECT doc_id, {bit_sums} FROM hs GROUP BY doc_id),
fp AS (SELECT doc_id, ({fp}) AS fp FROM b)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {h}
"""


_ANN_PLANES = 16
_ANN_BANDS = 8


def _q_ann_nn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (ids-only band shuffle). The oracle is a
    faithful SQL twin of the SAME deterministic algorithm — seeded plane
    literals, band bucketing, candidate join, exact cosine re-rank — so
    the driver checks the banding/bucketing/re-rank logic end to end."""
    emb = _load(spark, sf_dir, "embeddings")
    # MODE-dim probe (similarity.infer_dim — the same rule the gate
    # uses): a first-row probe crashes or mis-dims on a dirty corpus
    # whose first vector is NULL/ragged; an EMPTY corpus has no dim to
    # probe and no neighbors to emit
    from pacts_spark.datapipe.similarity import infer_dim

    dim = infer_dim(emb)
    if dim is None:
        return local_frame(spark, "vec_id long, nn_id long")
    # the SQL twin's plane literals are generated for dim=64 — fail loudly
    # rather than let a dim drift surface as a baffling parity mismatch
    assert dim == 64, f"_ann_sql() hyperplanes are dim=64, embeddings are dim={dim}"
    return lsh_ann_topk(
        emb, dim=dim, k=1, n_planes=_ANN_PLANES, bands=_ANN_BANDS
    ).select("vec_id", "nn_id")


def _ann_sql(
    dim: int = 64,
    n_planes: int = _ANN_PLANES,
    bands: int = _ANN_BANDS,
    source_sql: str | None = None,
) -> str:
    """SQL twin of lsh_ann_topk. ``source_sql``: optional SELECT producing
    (vec_id, embedding) to replace the embeddings table — lets the same
    LSH replay run over DERIVED vectors (embed_then_ann)."""
    from pacts_spark.datapipe.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=42)
    rows_per_band = n_planes // bands
    pre, src = ("", _HEALTHY_EMB_SQL) if source_sql is None else (
        f"emb AS ({source_sql}), ",
        "emb",
    )
    sig_elems = ", ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(x) for x in p)
        + "]) >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"array_to_string(s[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}], '') AS bucket "
        "FROM sig"
        for b in range(bands)
    )
    return f"""
WITH {pre}sig AS (SELECT vec_id, [{sig_elems}] AS s FROM {src}),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT c.qid, c.cid,
         list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                CAST(eb.embedding AS DOUBLE[])) AS sim
  FROM cand c
  JOIN {src} ea ON c.qid = ea.vec_id
  JOIN {src} eb ON c.cid = eb.vec_id
)
SELECT qid AS vec_id, cid AS nn_id FROM (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


_EMBED_DIM = 64
_EMBED_IVF_CELLS = 64
_EMBED_IVF_NPROBE = 2


def _q_embed_then_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text -> hashing-trick vector -> trained-IVF ANN, end to end:
    the operator chain that previously had a seam (ANN consumed fixture
    embeddings that 'appeared from nowhere'). The vectorizer is a pure
    Column projection (no vocabulary, no shuffle); its output feeds
    ivf_quantized_topk, and the oracle replays BOTH stages in SQL —
    ids-only output per the float invariant.

    Engineering notes (measured at sf0.1, 5000 docs):
    - the ANN stage is the TRAINED-IVF quantizer, not random-hyperplane
      LSH: hashed count vectors are all-positive, so sign(v·h) bits come
      out heavily correlated (bucket skew measured at 0.6-0.95 of the
      corpus in ONE bucket per band; even per-row DC-centering only
      halved the pair volume) — LSH degenerates to bands x brute force
      on this vector family, while data-dependent corpus-seed centroids
      split it well (max cell 304/5000 at 64 cells);
    - the vectorizer's internal exchange barrier (embedding.py module
      docstring) pins one md5 per gram and parallelizes the single-file
      corpus; the derived embedding is then localCheckpoint'd so the
      ANN's two references (seed collect + routing) don't re-run the
      vectorizer. Measured 36 s -> 3.4 s for the full query at sf0.1.
    """
    from pacts_spark.datapipe.embedding import hashed_ngram_embedding
    from pacts_spark.datapipe.similarity import ivf_quantized_topk

    docs = _load(spark, sf_dir, "documents")
    emb = (
        hashed_ngram_embedding(docs, dim=_EMBED_DIM)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .localCheckpoint(eager=False)
    )
    return ivf_quantized_topk(
        emb,
        n_cells=_EMBED_IVF_CELLS,
        nprobe=_EMBED_IVF_NPROBE,
        k=1,
        dim=_EMBED_DIM,
    ).select("vec_id", "nn_id")


def _embed_ann_sql() -> str:
    from pacts_spark.datapipe.embedding import hashed_ngram_embedding_sql

    src = (
        "SELECT doc_id AS vec_id, embedding FROM ("
        + hashed_ngram_embedding_sql(dim=_EMBED_DIM, source="documents")
        + ")"
    )
    sql = _ivfq_sql(
        n_cells=_EMBED_IVF_CELLS, nprobe=_EMBED_IVF_NPROBE, source_sql=src
    )
    # ids-only output (rank dropped like the Spark side)
    return f"SELECT vec_id, nn_id FROM ({sql})"


def _q_token_pieces_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting at both granularities (whitespace tokens + BPE-ish
    regex pieces — the model-cost estimate). The regex pattern is
    restricted to constructs with identical Java-regex/RE2 semantics, so
    the piece counts are cross-engine exact."""
    from pacts_spark.datapipe.textstats import token_pieces

    return token_pieces(_load(spark, sf_dir, "documents"))


def _token_pieces_sql() -> str:
    from pacts_spark.datapipe.textstats import BPE_ISH_PATTERN

    pat = BPE_ISH_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
            END AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_pieces
FROM documents
"""


def _q_pretraining_tail_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE-side analogue of curation_pipeline, composed end to end
    in one query: per-language quality HEAD (top 50% by score, bounded
    histogram threshold) -> per-source mixture UPSAMPLING (integer +
    hash-fractional epochs) -> instance ids -> global shuffle order ->
    concat-then-chunk TOKEN BLOCKS. Output one row per (doc copy,
    covered block): (doc_id, rep_ix, block_idx, tok_start, tok_end).
    The oracle replays all four stages in ONE SQL. Instance id =
    doc_id*8 + rep_ix (epoch factors here are < 8)."""
    from pacts_spark.datapipe.sampling import (
        mixture_upsample,
        quality_head,
        token_blocks,
    )
    from pacts_spark.datapipe.textstats import text_stats

    docs = _load(spark, sf_dir, "documents")
    scored = text_stats(docs, keep=("lang", "source")).select(
        "doc_id", "lang", "source", "quality_score"
    )
    head = quality_head(
        scored, frac=0.5, score_col="quality_score", stratum_col="lang"
    )
    ups = mixture_upsample(
        head,
        {"src0": 0.4, "src1": 0.25, "src2": 0.2, "src3": 0.15},
        stratum_col="source",
    )
    inst = (
        ups.select(
            (F.col("doc_id") * 8 + F.col("rep_ix")).alias("iid"), "doc_id"
        )
        .join(docs.select("doc_id", "text"), "doc_id")
        .select("iid", "text")
    )
    blocks = token_blocks(inst, block_tokens=256, id_col="iid")
    return blocks.select(
        ((F.col("iid") - F.pmod(F.col("iid"), F.lit(8))) / F.lit(8))
        .cast("long")
        .alias("doc_id"),
        F.pmod(F.col("iid"), F.lit(8)).cast("long").alias("rep_ix"),
        "block_idx",
        "tok_start",
        "tok_end",
    )


_PRETRAINING_TAIL_SQL = """
WITH q AS (
  SELECT doc_id, lang, source,
         round(least(1.0,
           (CASE WHEN n_tok > 0
                 THEN len(list_distinct(string_split(t, ' '))) / n_tok
                 ELSE 0.0 END) * least(n_tok / 50.0, 1.0)), 6) AS quality_score
  FROM (
    SELECT doc_id, lang, source, trim(text) AS t,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
           END AS n_tok
    FROM documents
  )
),
hist AS (SELECT lang, quality_score AS s, count(*) AS c FROM q GROUP BY 1, 2),
cum AS (
  SELECT lang, s,
         sum(c) OVER (PARTITION BY lang ORDER BY s DESC
                      ROWS UNBOUNDED PRECEDING) AS cumc,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
thr AS (
  SELECT lang, max(s) AS thr FROM cum
  WHERE cumc >= floor(0.5 * n + 0.5) AND floor(0.5 * n + 0.5) >= 1
  GROUP BY lang
),
head AS (
  SELECT q.doc_id, q.source FROM q JOIN thr USING (lang)
  WHERE q.quality_score >= thr.thr
),
cur AS (SELECT source, count(*) AS c FROM head GROUP BY source),
w(source, wt) AS (VALUES ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.25 AS DOUBLE)),
                         ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.15 AS DOUBLE))),
r AS (SELECT cur.source, wt / c AS ratio FROM cur JOIN w USING (source)),
m AS (SELECT min(ratio) AS minr FROM r),
rep AS (SELECT source, ratio / minr AS rep FROM r, m),
plan AS (SELECT source, CAST(floor(rep) AS BIGINT) AS base,
                CAST(floor((rep - floor(rep)) * 10000 + 0.5) AS BIGINT) AS thr2
         FROM rep),
nc AS (SELECT h.doc_id, h.source,
              base + CASE WHEN CAST('0x' || substr(md5(CAST(h.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < thr2
                          THEN 1 ELSE 0 END AS n_copies
       FROM head h JOIN plan USING (source)),
inst AS (
  SELECT doc_id * 8 + u.x AS iid, doc_id
  FROM nc, UNNEST(range(nc.n_copies)) AS u(x)
  WHERE n_copies >= 1
),
tk AS (
  SELECT i.iid,
         md5('42:' || COALESCE(CAST(i.iid AS VARCHAR), '')) AS h,
         CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
              ELSE length(trim(d.text)) - length(replace(trim(d.text), ' ', '')) + 1
         END AS BIGINT) AS n_tokens
  FROM inst i JOIN documents d ON i.doc_id = d.doc_id
),
o AS (
  SELECT iid, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY h, iid
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM tk
)
SELECT CAST(iid // 8 AS BIGINT) AS doc_id,
       CAST(iid % 8 AS BIGINT) AS rep_ix,
       CAST(u.b AS BIGINT) AS block_idx,
       CAST(greatest(0, u.b * 256 - off) AS BIGINT) AS tok_start,
       CAST(least(n_tokens, (u.b + 1) * 256 - off) AS BIGINT) AS tok_end
FROM o, UNNEST(range(off // 256, (off + n_tokens - 1) // 256 + 1)) AS u(b)
WHERE n_tokens >= 1
"""


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data curation — the composed flow an LLM-data
    user actually runs, as ONE oracled query: quality filter (score >=
    0.3, >= 20 tokens) → dedup-cluster the survivors (exact + verified
    MinHash near-dup edges → connected components) → keep canonicals
    only → deterministic stratified hash sample by language. Each stage
    is an already-oracled operator; this query pins their COMPOSITION
    (filters feeding dedup feeding sampling) against a single SQL
    replay."""
    from pacts_spark.datapipe.clusters import dedup_clusters
    from pacts_spark.datapipe.sampling import stratified_hash_sample

    docs = _load(spark, sf_dir, "documents")
    stats = text_stats(docs)
    kept = docs.join(
        stats.filter(
            (F.col("quality_score") >= 0.3) & (F.col("n_tokens") >= 20)
        ).select("doc_id"),
        "doc_id",
    )
    ex_pairs = exact_duplicate_pairs(kept)
    near = minhash_verified_pairs(kept, k=64, threshold=0.5).select("id_a", "id_b")
    clusters = dedup_clusters(kept, ex_pairs.unionByName(near))
    canon = kept.join(
        clusters.filter(F.col("is_canonical")).select("doc_id"), "doc_id"
    )
    return stratified_hash_sample(
        canon, {"en": 0.5, "de": 0.3}, "lang", key_col="doc_id", default_rate=0.1
    ).select("doc_id", "lang")


_CURATION_SQL = """
WITH RECURSIVE s AS (
  SELECT doc_id, lang, trim(text) AS t,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
         END AS n_tok
  FROM documents
),
kept AS (
  SELECT s.doc_id, s.lang, s.t, d.text FROM s JOIN documents d ON s.doc_id = d.doc_id
  WHERE round(least(1.0,
          (CASE WHEN n_tok > 0
                THEN len(list_distinct(string_split(t, ' '))) / n_tok
                ELSE 0.0 END) * least(n_tok / 50.0, 1.0)), 6) >= 0.3
    AND n_tok >= 20
),
toks AS (SELECT doc_id, string_split(t, ' ') AS tt FROM kept),
sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(tt[u.i:u.i + 2], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(tt) - 2, 1) + 1)) AS u(i)
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
jacc AS (
  SELECT i.id_a, i.id_b
  FROM inter i JOIN sizes sa ON i.id_a = sa.id JOIN sizes sb ON i.id_b = sb.id
  WHERE round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) >= 0.5
),
ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
e0 AS (SELECT * FROM jacc UNION SELECT * FROM ex),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM e0
  UNION
  SELECT id_b AS src, id_a AS dst FROM e0
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM kept
  UNION
  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src
),
canon AS (
  SELECT id AS doc_id FROM reach GROUP BY id HAVING id = min(r)
)
SELECT k.doc_id, k.lang
FROM kept k JOIN canon c ON k.doc_id = c.doc_id
WHERE CAST('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000
      < CASE k.lang WHEN 'de' THEN 3000 WHEN 'en' THEN 5000 ELSE 1000 END
"""


_LSH_PAIRS_THRESHOLD = 0.4


def _q_lsh_neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic embedding near-dup pairs (the scale path next to the
    exact O(N²) neardup_embeddings): LSH band-bucket candidates, exact
    in-bucket cosine >= threshold, id_a < id_b. The SQL twin replays the
    seeded signatures, so parity is exact (not merely recall-bounded)."""
    from pacts_spark.datapipe.similarity import lsh_cosine_near_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return lsh_cosine_near_pairs(
        emb, dim=64, threshold=_LSH_PAIRS_THRESHOLD,
        n_planes=_ANN_PLANES, bands=_ANN_BANDS,
    )


def _lsh_pairs_sql(
    dim: int = 64,
    n_planes: int = _ANN_PLANES,
    bands: int = _ANN_BANDS,
    threshold: float = _LSH_PAIRS_THRESHOLD,
) -> str:
    from pacts_spark.datapipe.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=42)
    rows_per_band = n_planes // bands
    sig_elems = ", ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(x) for x in p)
        + "]) >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"array_to_string(s[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}], '') AS bucket "
        "FROM sig"
        for b in range(bands)
    )
    return f"""
WITH sig AS (SELECT vec_id, [{sig_elems}] AS s FROM {_HEALTHY_EMB_SQL}),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS cosine FROM (
  SELECT c.id_a, c.id_b,
         list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                CAST(eb.embedding AS DOUBLE[])) AS sim
  FROM cand c
  JOIN {_HEALTHY_EMB_SQL} ea ON c.id_a = ea.vec_id
  JOIN {_HEALTHY_EMB_SQL} eb ON c.id_b = eb.vec_id
) WHERE round(sim, 6) >= {threshold}
"""


def _q_semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: LSH cosine near-pairs (seeded
    hyperplanes, exact verify) -> connected components -> keep the min-id
    representative per semantic group; every vector gets a row. Oracle
    replays the seeded signatures AND the transitive closure."""
    from pacts_spark.datapipe.clusters import semantic_dedup

    emb = _load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, threshold=_LSH_PAIRS_THRESHOLD, dim=64,
        n_planes=_ANN_PLANES, bands=_ANN_BANDS,
    )


def _semantic_dedup_sql() -> str:
    pairs = _lsh_pairs_sql(threshold=_LSH_PAIRS_THRESHOLD)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
e0 AS (SELECT id_a, id_b FROM pairs),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM e0
  UNION
  SELECT id_b AS src, id_a AS dst FROM e0
),
nodes AS (SELECT vec_id AS id FROM embeddings),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src
)
SELECT id AS vec_id, min(r) AS rep_id, (id = min(r)) AS is_kept
FROM reach GROUP BY id
"""


def _q_drift_rebalanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift→action loop closed: language_id's DETECTED labels are
    rebalanced toward the STORED baseline histogram (the declared ``lang``
    column stands in for the manifest-persisted histogram of the last
    validated run) with COMPUTED per-stratum rates — least(1,
    target/current) — not literal ones. Over-detected languages are
    downsampled toward the baseline; 'und' (absent from the baseline)
    drops to rate 0."""
    from pacts_spark.datapipe.sampling import rebalanced_hash_sample

    docs = _load(spark, sf_dir, "documents")
    pred = language_id(docs)
    tagged = docs.select("doc_id").join(pred, "doc_id")
    baseline = docs.groupBy(F.col("lang").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return rebalanced_hash_sample(tagged, baseline, "pred_lang").select(
        "doc_id", "pred_lang"
    )


_DRIFT_REBALANCE_SQL = """
WITH s AS (
  SELECT doc_id, ' ' || trim(text) || ' ' AS p FROM documents
),
scored AS (
  SELECT doc_id,
    (CASE WHEN contains(p, ' der ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' die ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' und ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' ist ') THEN 1 ELSE 0 END) AS s_de,
    (CASE WHEN contains(p, ' the ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' and ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' of ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' is ') THEN 1 ELSE 0 END) AS s_en,
    (CASE WHEN contains(p, ' el ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' los ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' es ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' y ') THEN 1 ELSE 0 END) AS s_es,
    (CASE WHEN contains(p, ' le ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' la ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' et ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' est ') THEN 1 ELSE 0 END) AS s_fr,
    (CASE WHEN contains(p, ' 的 ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' 是 ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' 了 ') THEN 1 ELSE 0 END +
     CASE WHEN contains(p, ' 在 ') THEN 1 ELSE 0 END) AS s_zh
  FROM s
),
pred AS (
  SELECT doc_id,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         WHEN s_fr >= s_zh THEN 'fr'
         ELSE 'zh' END AS pred_lang
  FROM scored
),
base AS (SELECT lang AS pred_lang, count(*) AS target FROM documents GROUP BY 1),
cur AS (SELECT pred_lang, count(*) AS n_cur FROM pred GROUP BY 1),
thr AS (
  SELECT c.pred_lang,
         CAST(floor(least(1.0,
           coalesce(CAST(b.target AS DOUBLE) / c.n_cur, 0.0)) * 10000 + 0.5)
           AS BIGINT) AS t
  FROM cur c LEFT JOIN base b ON c.pred_lang = b.pred_lang
)
SELECT p.doc_id, p.pred_lang
FROM pred p JOIN thr ON p.pred_lang = thr.pred_lang
WHERE CAST('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      % 10000 < thr.t
"""


def _q_conversation_state_finals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the CUSTOM STATEFUL streaming operator
    (conversation_state_verdicts, applyInPandasWithState) to COMPLETION
    and oracle its FINAL per-conversation states — the last substantive
    operator leaving pytest-only territory.

    Completion protocol (availableNow, maxFilesPerTrigger=1, mtime-ordered
    files):
    - file 1: ALL real transcript turns in ONE parquet file → one
      micro-batch; the operator counts turns whose turn_idx fails to
      exceed the running max in EVENT-TIME order (chunking-invariant),
      which the twin replays as a (ts, turn_idx)-ordered window — and
      since any chunking that respects arrival time gives the same
      count, the one-file staging is a convenience, not a semantic crutch;
    - file 2: a sentinel turn 100 days ahead → its batch END advances the
      event-time watermark past every real conversation's last_ts + ttl;
    - file 3: a second sentinel one hour later → its batch STARTS with the
      advanced watermark, firing every real conversation's event-time
      timeout → is_final rows, state dropped.
    Sentinel conversations never time out (their ttl sits beyond the final
    watermark) and are filtered from the output. The temp dir backs the
    returned (lazy) DataFrame, so it is left for the OS tmp reaper.

    Staging is ONE Spark action: the turns write. max(ts) is read from the
    staged file's parquet footer statistics and the two 1-row sentinel
    files are written with pyarrow directly — on this host every extra
    Spark action costs ~5 s of fixed driver overhead, and the original
    max(ts)-action + two 1-row-write version spent 16 s on what is now
    ~milliseconds (29.7 s -> ~13 s at sf0.1). The sentinels reuse the
    staged file's exact arrow ts type, so the watermark arithmetic happens
    on raw int64 microseconds with no tz round-trip.
    """
    import glob
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pacts_spark.streaming import conversation_state_verdicts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    turns = transcripts_from_events(ev).select("conv_id", "turn_idx", "ts")

    base = tempfile.mkdtemp(prefix="conv_state_finals_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)

    tmp = os.path.join(base, "w_turns")
    # repartition(1), NOT coalesce(1): coalesce narrows the whole upstream
    # window derivation to one task; the extra exchange keeps the window
    # stage at full parallelism and only the final file write is serial
    turns.repartition(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    turns_dst = os.path.join(src, "000_turns.parquet")
    shutil.copy(part, turns_dst)

    pf = pq.ParquetFile(turns_dst)
    ts_field = pf.schema_arrow.field("ts")
    ts_idx = pf.schema_arrow.get_field_index("ts")
    ts_maxes = [
        st.max
        for st in (
            pf.metadata.row_group(g).column(ts_idx).statistics
            for g in range(pf.metadata.num_row_groups)
        )
        if st is not None and st.has_min_max
    ]
    if not ts_maxes:
        # empty corpus (or all-NULL event times): no watermark can ever
        # advance, so no conversation can reach a FINAL state — empty
        # output with the contract schema (empty-fixture regression:
        # max() over zero row groups raised)
        shutil.rmtree(base, ignore_errors=True)
        return local_frame(
            spark,
            "conv_id string, n_turns long, max_turn_idx long, "
            "n_regressed long, monotonic boolean",
        )
    mx_us = max(ts_maxes)
    if not isinstance(mx_us, int):  # stats may decode to datetime; back to us
        import datetime

        if mx_us.tzinfo is None:
            mx_us = mx_us.replace(tzinfo=datetime.timezone.utc)
        mx_us = int(mx_us.timestamp() * 1_000_000)

    def _sentinel(name, conv_id, ts_us):
        tbl = pa.table(
            {
                "conv_id": pa.array([conv_id], pa.string()),
                "turn_idx": pa.array([1], pa.int32()),
                "ts": pa.array([ts_us], pa.int64()).cast(ts_field.type),
            }
        )
        pq.write_table(tbl, os.path.join(src, name))

    day_us = 86_400_000_000
    _sentinel("001_sentinel.parquet", "sentinel-1", mx_us + 100 * day_us)
    _sentinel("002_sentinel.parquet", "sentinel-2", mx_us + 100 * day_us + day_us // 24)

    now = int(os.stat(turns_dst).st_mtime)
    for off, name in ((300, "000_turns.parquet"), (200, "001_sentinel.parquet"), (100, "002_sentinel.parquet")):
        p = os.path.join(src, name)
        os.utime(p, (now - off, now - off))

    schema = "conv_id string, turn_idx int, ts timestamp"

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    verdicts = conversation_state_verdicts(
        stream, watermark="2 hours", ttl_ms=2 * 3600 * 1000
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(out)

    # The state store opens+commits one delta per shuffle partition per
    # micro-batch; at 32 partitions x 4 batches that fixed cost dwarfs the
    # ~1.5k-conversation state itself. 8 partitions is plenty for the
    # state volume here and the plan's partition count is baked into the
    # FRESH checkpoint at start, so this never conflicts with a restore.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            verdicts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.read.parquet(out)
        .filter(F.col("is_final") & ~F.col("conv_id").startswith("sentinel-"))
        .select("conv_id", "n_turns", "max_turn_idx", "n_regressed", "monotonic")
    )


_CONV_STATE_FINALS_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
r AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx <= max(turn_idx) OVER (
                PARTITION BY conv_id ORDER BY ts, turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_reg
  -- pins the engine's event-time rules (poisoned-fixture parity, all
  -- probed live): a NULL-ts row PASSES the stateful late filter (the
  -- <=-watermark predicate is NULL -> not late -> processed), a row AT
  -- the initial watermark (epoch 0 exactly) is dropped as late (epoch 0
  -- dropped, epoch 500us kept), and NULL conv_id rows are removed by
  -- the query's own startswith output filter (NULL -> filtered)
  FROM t WHERE conv_id IS NOT NULL AND (ts IS NULL OR epoch_us(ts) > 0)
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(max(turn_idx) AS BIGINT) AS max_turn_idx,
       CAST(sum(is_reg) AS BIGINT) AS n_regressed,
       (sum(is_reg) = 0) AS monotonic
FROM r
-- corpus-level gate mirroring the engine's SENTINEL-STAGING rule
-- (footer stats present = ANY non-NULL ts): with one real ts anywhere
-- — even epoch 0, itself late-dropped — sentinels stage, the watermark
-- advances, and every surviving conversation (including all-NULL-ts
-- ones, whose NaT state still times out) finalizes; with NO non-NULL
-- ts the engine stages nothing and emits nothing. Validity bound: a
-- corpus whose every real ts predates ~1969-09 (sentinel + 100 days
-- still <= the initial watermark) would stage sentinels that cannot
-- advance the watermark — untwinnable without pinning the sentinel
-- arithmetic, and absurd as data.
WHERE EXISTS (SELECT 1 FROM t WHERE ts IS NOT NULL)
GROUP BY conv_id
"""


def _q_asof_last_error_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (datapipe/joins.asof_join): for every non-error event,
    the same user's latest error at-or-before it — union + tag + ONE
    user-keyed window carrying last(ref, ignorenulls), never a
    BroadcastNestedLoopJoin. Boundary rules pinned: exact ts tie
    matches (refs sort first); highest ref id wins a ref/ref ts tie."""
    from pacts_spark.datapipe.joins import asof_join

    ev = _load(spark, sf_dir, "events")
    points = ev.filter(F.col("event_type") != "error")
    refs = ev.filter(F.col("event_type") == "error")
    return asof_join(points, refs).select(
        "event_id",
        "user_id",
        F.col("ref_id").alias("last_error_id"),
        F.col("gap_us").alias("us_since_error"),
    )


_ASOF_SQL = """
WITH u AS (
  SELECT user_id, epoch_us(ts) AS us, 0 AS src,
         event_id AS rid, CAST(NULL AS BIGINT) AS pid
  FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT user_id, epoch_us(ts), 1, NULL, event_id
  FROM events WHERE event_type <> 'error'
),
w AS (
  SELECT user_id, us, src, pid,
         last_value(rid IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY us, src, coalesce(rid, pid)
            ROWS UNBOUNDED PRECEDING) AS last_rid,
         last_value(CASE WHEN src = 0 THEN us END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY us, src, coalesce(rid, pid)
            ROWS UNBOUNDED PRECEDING) AS last_rus
  FROM u
)
SELECT pid AS event_id, user_id, last_rid AS last_error_id,
       CAST(us - last_rus AS BIGINT) AS us_since_error
FROM w WHERE src = 1
"""


def _q_incident_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval RANGE join (datapipe/joins.interval_join):
    ±120 s incident windows around high-value purchases, errors counted
    into every containing window (inclusive ends) via the bucketed
    equi-join — never a nested-loop range join; zero-hit incidents kept
    with 0 counts."""
    from pacts_spark.datapipe.joins import interval_join

    ev = _load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    half = 120_000_000
    ivls = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= F.lit(150.0))
    ).select(
        F.col("event_id").alias("ivl_id"),
        (us - F.lit(half)).cast("long").alias("start_us"),
        (us + F.lit(half)).cast("long").alias("end_us"),
    )
    pts = ev.filter(F.col("event_type") == "error").select(
        "event_id", us.cast("long").alias("us"), "user_id"
    )
    pairs = interval_join(
        pts, ivls, bucket_us=2 * half, point_keep=("user_id",)
    )
    agg = pairs.groupBy("ivl_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_errors"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return (
        ivls.select("ivl_id")
        .join(agg, "ivl_id", "left")
        .select(
            F.col("ivl_id").alias("incident_id"),
            F.coalesce("n_errors", F.lit(0)).cast("long").alias("n_errors"),
            F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
        )
    )


_INCIDENT_SQL = """
WITH i AS (
  SELECT event_id AS incident_id,
         epoch_us(ts) - 120000000 AS s, epoch_us(ts) + 120000000 AS e
  FROM events
  WHERE event_type = 'purchase' AND value >= CAST(150 AS DOUBLE)
),
p AS (
  SELECT event_id, user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'error'
)
SELECT i.incident_id,
       CAST(count(p.event_id) AS BIGINT) AS n_errors,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
FROM i LEFT JOIN p ON p.us >= i.s AND p.us <= i.e
GROUP BY i.incident_id
"""


def _q_time_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade
    (datapipe/rollup.time_rollup): minute/hour/day rollups where each
    coarser level re-aggregates the previous level's partials — the raw
    table is scanned once and only the minute level shuffles corpus-
    sized data. Measures are integer cents (order-independent sums)."""
    from pacts_spark.datapipe.rollup import time_rollup

    return time_rollup(_load(spark, sf_dir, "events"))


_ROLLUP_SQL = """
WITH b AS (
  -- quantizable-measure CASE matching rollup.time_rollup: NaN/Inf/huge
  -- values contribute NULL cents (CAST would raise), rows still count
  SELECT event_type, epoch_us(ts) AS us,
         CASE WHEN NOT isnan(value) AND abs(value) <= 9e15
              THEN CAST(round(value * CAST(100 AS DOUBLE)) AS BIGINT)
         END AS c
  FROM events
)
SELECT 'minute' AS resolution, event_type, us - us % 60000000 AS bucket_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(c) AS BIGINT) AS cents_sum,
       min(c) AS cents_min, max(c) AS cents_max
FROM b GROUP BY 2, 3
UNION ALL
SELECT 'hour', event_type, us - us % 3600000000,
       CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT), min(c), max(c)
FROM b GROUP BY 2, 3
UNION ALL
SELECT 'day', event_type, us - us % 86400000000,
       CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT), min(c), max(c)
FROM b GROUP BY 2, 3
"""


def _q_kmeans_clusters_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (datapipe/clusters.kmeans_assign):
    fixed 2 rounds in integer micro-unit space — integer squared
    distances, argmin tie-break on cluster index, round-half-away
    centroid means — hash-ranked seeds; the cluster-balanced-curation
    primitive (SemDeDup cells / per-cluster sampling)."""
    from pacts_spark.datapipe.clusters import kmeans_assign

    return kmeans_assign(_load(spark, sf_dir, "embeddings"), k=8, iters=2, dim=64)


def _kmeans_sql() -> str:
    from pacts_spark.datapipe.clusters import kmeans_oracle_sql

    return kmeans_oracle_sql(k=8, iters=2, d=64, table=_HEALTHY_EMB_SQL)


_BM25_TERMS = ("vector", "hash", "stream", "window")


def _q_pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 (similarity.pq_topk): 8 subspaces
    × 16 codewords trained with two Lloyd rounds in integer micro
    space; candidates ship as m-code arrays (8× less shuffle than raw
    vectors); asymmetric lookup-table scoring; ADC top-32 shortlist
    re-ranked exactly (the FAISS pattern — recall@3 0.155 → ~0.77 on
    the fixture); integer micro² output (zero float rounding)."""
    from pacts_spark.datapipe.similarity import pq_topk

    return pq_topk(
        _load(spark, sf_dir, "embeddings"),
        k=3,
        m=8,
        k_codes=16,
        iters=2,
        rerank=32,
        dim=64,
    )


def _pq_sql() -> str:
    from pacts_spark.datapipe.similarity import pq_oracle_sql

    return pq_oracle_sql(
        k=3, m=8, k_codes=16, d=64, iters=2, rerank=32,
        table=_HEALTHY_EMB_SQL,
    )


def _q_bm25_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-50 (datapipe/ranking.bm25_topk): literal query
    terms → per-doc tf via array filters (no token explode/shuffle),
    one-row corpus-stats broadcast, integer micro-unit contributions,
    TakeOrdered cut on the pinned (score desc, doc_id) total order."""
    from pacts_spark.datapipe.ranking import bm25_topk

    return bm25_topk(_load(spark, sf_dir, "documents"), _BM25_TERMS, k=50)


def _bm25_sql() -> str:
    from pacts_spark.datapipe.ranking import bm25_topk_sql

    return bm25_topk_sql(_BM25_TERMS, k=50)


def _q_domain_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (sampling.domain_cap): keep at most 10 docs per
    source under a seeded hash order — fully distributed two-phase rank
    (per-(stratum, md5-prefix-bucket) counts, tiny per-stratum prefix
    window, rank join riding one (stratum,bucket) exchange); no driver
    state, no whale-domain single-task sort."""
    from pacts_spark.datapipe.sampling import domain_cap

    return domain_cap(
        _load(spark, sf_dir, "documents"), cap=10, seed=42
    ).select("doc_id", "source")


_DOMAIN_CAP_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('42:' || coalesce(CAST(source AS VARCHAR), '')
                        || ':' || coalesce(CAST(doc_id AS VARCHAR), '')),
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 10
"""


def _q_sequence_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-contract check (checks/sequence.py): turn-index gaps,
    running-max timestamp regressions and user/assistant role stutters
    per conversation — three rules in ONE window projection on ONE
    conv-keyed exchange; intra-conversation order pinned to the full
    column tuple with NULLS LAST (cross-engine tie safety)."""
    from pacts_spark.checks import sequence_violations

    return sequence_violations(_transcripts(spark, sf_dir))


_SEQUENCE_SQL = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
seq AS (
  SELECT conv_id, turn_idx, role, ts,
         lag(turn_idx) OVER w AS prev_idx,
         lag(role) OVER w AS prev_role,
         max(ts) OVER (PARTITION BY conv_id
                       ORDER BY turn_idx ASC, ts ASC NULLS LAST,
                                role ASC NULLS LAST, text ASC NULLS LAST,
                                tool ASC NULLS LAST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS run_max_ts
  FROM t WHERE turn_idx IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id
               ORDER BY turn_idx ASC, ts ASC NULLS LAST,
                        role ASC NULLS LAST, text ASC NULLS LAST,
                        tool ASC NULLS LAST)
),
v AS (
  SELECT conv_id, turn_idx,
    CASE WHEN prev_idx IS NOT NULL AND turn_idx > prev_idx + 1 THEN
      CASE WHEN turn_idx = prev_idx + 2
           THEN 'Missing turn index ' || CAST(prev_idx + 1 AS VARCHAR)
           ELSE 'Missing turn indexes ' || CAST(prev_idx + 1 AS VARCHAR)
                || '..' || CAST(turn_idx - 1 AS VARCHAR) END END AS v_gap,
    CASE WHEN run_max_ts IS NOT NULL AND ts IS NOT NULL AND ts < run_max_ts
         THEN 'Timestamp regression at turn ' || CAST(turn_idx AS VARCHAR)
         END AS v_reg,
    CASE WHEN prev_role = role AND role IN ('user', 'assistant')
         THEN 'Role ''' || role || ''' repeated at turn '
              || CAST(turn_idx AS VARCHAR) END AS v_rep
  FROM seq
)
SELECT conv_id, turn_idx, 'sequence' AS check_name, v_gap AS violation
FROM v WHERE v_gap IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'sequence', v_reg FROM v WHERE v_reg IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'sequence', v_rep FROM v WHERE v_rep IS NOT NULL
"""


# The query table: name -> (Spark query, DuckDB twin SQL, last round with a
# driver row; 0 = none yet). Each query is named once; queries() and
# oracle_sql() are views of it.
QUERY_TABLE: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str, int]] = {
    "embedding_decontamination": (
        _q_embedding_decontamination, _EMBEDDING_DECON_SQL, 5
    ),
    "quantize_int8_embeddings": (_q_quantize_int8, _QUANTIZE_INT8_SQL, 5),
    "preference_pairs_transcripts": (_q_preference_pairs, _PREFERENCE_PAIRS_SQL, 5),
    "sft_pairs_capped_transcripts": (_q_sft_pairs_capped, _SFT_PAIRS_CAPPED_SQL, 5),
    "pq_topk_embeddings": (_q_pq_topk_embeddings, _pq_sql(), 5),
    "leakage_safe_split_documents": (
        _q_leakage_safe_split_documents, _LEAKAGE_SPLIT_SQL, 5
    ),
    "sessionize_events": (_q_sessionize_events, _SESSIONIZE_SQL, 5),
    "session_transcripts_events": (
        _q_session_transcripts_events, _SESSION_TRANSCRIPTS_SQL, 5
    ),
    "session_windows_native_events": (
        _q_session_windows_native_events, _SESSION_WINDOWS_NATIVE_SQL, 5
    ),
    "asof_last_error_events": (_q_asof_last_error_events, _ASOF_SQL, 5),
    "incident_window_counts": (_q_incident_window_counts, _INCIDENT_SQL, 5),
    "time_rollup_events": (_q_time_rollup_events, _ROLLUP_SQL, 5),
    "bm25_topk_documents": (_q_bm25_topk_documents, _bm25_sql(), 5),
    "kmeans_clusters_embeddings": (_q_kmeans_clusters_embeddings, _kmeans_sql(), 5),
    "quality_head_documents": (_q_quality_head_documents, _QUALITY_HEAD_SQL, 5),
    "drift_rebalanced_sample": (_q_drift_rebalanced_sample, _DRIFT_REBALANCE_SQL, 5),
    "pretraining_tail_pipeline": (
        _q_pretraining_tail_pipeline, _PRETRAINING_TAIL_SQL, 5
    ),
    "conversation_state_finals": (
        _q_conversation_state_finals, _CONV_STATE_FINALS_SQL, 5
    ),
    "embed_then_ann": (_q_embed_then_ann, _embed_ann_sql(), 5),
    "semantic_dedup_embeddings": (
        _q_semantic_dedup_embeddings, _semantic_dedup_sql(), 5
    ),
    "token_pieces_documents": (_q_token_pieces_documents, _token_pieces_sql(), 5),
    "langid_documents": (_q_langid_documents, _LANGID_SQL, 5),
    "cosine_nn_embeddings": (_q_cosine_nn_embeddings, _COSINE_NN_SQL, 5),
    "neardup_embeddings": (_q_neardup_embeddings, _NEARDUP_SQL, 5),
    "ivf_cosine_nn": (_q_ivf_cosine_nn, _IVF_NN_SQL, 5),
    "ivf_trained_nn": (_q_ivf_trained_nn, _ivfq_sql(), 5),
    "quality_filter_documents": (_q_quality_filter_documents, _QUALITY_FILTER_SQL, 5),
    "media_features": (_q_media_features, _MEDIA_FEATURES_SQL, 5),
    "dedup_clusters_documents": (_q_dedup_clusters_documents, _CLUSTERS_SQL, 5),
    "sample_documents_stratified": (_q_sample_documents_stratified, _SAMPLE_SQL, 5),
    "curation_pipeline": (_q_curation_pipeline, _CURATION_SQL, 5),
    "windowed_verdicts": (_q_windowed_verdicts, _WINDOWED_SQL, 5),
    "minhash_pairs_documents": (_q_minhash_pairs_documents, _MINHASH_SQL, 5),
    "simhash_pairs_documents": (_q_simhash_pairs_documents, _simhash_sql(), 5),
    "ann_nn_embeddings": (_q_ann_nn_embeddings, _ann_sql(), 5),
    "lsh_neardup_embeddings": (_q_lsh_neardup_embeddings, _lsh_pairs_sql(), 5),
    "validate_transcripts": (_q_validate_transcripts, _VALIDATE_TRANSCRIPTS_SQL, 5),
    "transcript_violations": (_q_transcript_violations, _VIOLATIONS_SQL, 5),
    "partition_verdicts": (_q_partition_verdicts, _VERDICTS_SQL, 5),
    "validate_orders": (_q_validate_orders, _VALIDATE_ORDERS_SQL, 5),
    "validate_events_json": (_q_validate_events_json, _VALIDATE_EVENTS_JSON_SQL, 5),
    "validate_transcripts_strict": (
        _q_validate_transcripts_strict, _VALIDATE_STRICT_SQL, 5
    ),
    "validate_transcripts_conditional": (
        _q_validate_transcripts_conditional, _VALIDATE_CONDITIONAL_SQL, 5
    ),
    "anomalous_partitions_transcripts": (
        _q_anomalous_partitions, _anomalous_partitions_sql(), 5
    ),
    "json_type_histogram_transcripts": (_q_json_type_histogram, _JSON_TYPES_SQL, 5),
    "conversation_shape_transcripts": (_q_conversation_shape, _CONV_SHAPE_SQL, 5),
    "inferred_schema_transcripts": (_q_inferred_schema, _inferred_schema_sql(), 5),
    "centroid_drift_embeddings": (
        _q_centroid_drift_embeddings, _centroid_drift_sql(), 5
    ),
    "vocab_merges_documents": (_q_vocab_merges_documents, _vocab_merges_sql(50), 5),
    "conversation_neardup_transcripts": (_q_conversation_neardup, _CONV_NEARDUP_SQL, 5),
    "sft_pairs_transcripts": (_q_sft_pairs, _SFT_PAIRS_SQL, 4),
    "validate_envelopes_mixed": (
        _q_validate_envelopes_mixed, _VALIDATE_ENVELOPES_SQL, 4
    ),
    "validate_orders_missing_schema": (
        _q_validate_orders_missing_schema, _ORDERS_MISSING_SCHEMA_SQL, 4
    ),
    "envelope_roundtrip": (_q_envelope_roundtrip, _ENVELOPE_ROUNDTRIP_SQL, 4),
    "schema_version_diff": (_q_schema_version_diff, _SCHEMA_DIFF_SQL, 4),
    "colstats_transcripts": (_q_colstats_transcripts, _COLSTATS_TRANSCRIPTS_SQL, 4),
    "colstats_lineitem": (_q_colstats_lineitem, _COLSTATS_LINEITEM_SQL, 4),
    "vector_stats_embeddings": (_q_vector_stats_embeddings, _VECTOR_STATS_SQL, 4),
    "role_histogram": (_q_role_histogram, _ROLE_HIST_SQL, 4),
    "drift_roles": (_q_drift_roles, _DRIFT_SQL, 4),
    "gap_quantiles": (_q_gap_quantiles, _GAPS_SQL, 4),
    "uniqueness_lineitem": (_q_uniqueness_lineitem, _UNIQ_LINEITEM_SQL, 4),
    "ri_orders_customer": (_q_ri_orders_customer, _RI_ORDERS_SQL, 4),
    "sequence_violations_transcripts": (_q_sequence_violations, _SEQUENCE_SQL, 4),
    "dedup_exact_documents": (_q_dedup_exact_documents, _DEDUP_EXACT_SQL, 4),
    "fingerprint_documents": (_q_fingerprint_documents, _FINGERPRINT_SQL, 4),
    "unigram_logprob_documents": (
        _q_unigram_logprob_documents, _UNIGRAM_LOGPROB_SQL, 4
    ),
    "bigram_logprob_documents": (_q_bigram_logprob_documents, _bigram_logprob_sql(), 4),
    "dsir_logratio_documents": (_q_dsir_logratio_documents, _DSIR_SQL, 4),
    "winnow_fingerprints_documents": (_q_winnow_fingerprints_documents, _WINNOW_SQL, 4),
    "winnow_overlap_pairs": (_q_winnow_overlap_pairs, _WINNOW_PAIRS_SQL, 4),
    "repetition_stats_documents": (_q_repetition_stats_documents, _REPETITION_SQL, 4),
    "decontamination_documents": (_q_decontamination_documents, _DECONTAM_SQL, 4),
    "pii_scrub_documents": (_q_pii_scrub_documents, _PII_SCRUB_SQL, 4),
    "pack_sequences_documents": (_q_pack_sequences_documents, _PACK_SEQUENCES_SQL, 4),
    "chunk_dedup_documents": (_q_chunk_dedup_documents, _CHUNK_DEDUP_SQL, 4),
    "top_ngrams_documents": (_q_top_ngrams_documents, _TOP_NGRAMS_SQL, 4),
    "incremental_dedup_documents": (
        _q_incremental_dedup_documents, _INCREMENTAL_DEDUP_SQL, 4
    ),
    "global_shuffle_documents": (_q_global_shuffle_documents, _GLOBAL_SHUFFLE_SQL, 4),
    "domain_cap_documents": (_q_domain_cap_documents, _DOMAIN_CAP_SQL, 4),
    "shard_assign_documents": (_q_shard_assign_documents, _SHARD_ASSIGN_SQL, 4),
    "token_blocks_documents": (_q_token_blocks_documents, _TOKEN_BLOCKS_SQL, 4),
    "duplicate_spans_documents": (
        _q_duplicate_spans_documents, _DUPLICATE_SPANS_SQL, 4
    ),
    "mixture_upsample_documents": (
        _q_mixture_upsample_documents, _MIXTURE_UPSAMPLE_SQL, 4
    ),
    "jaccard_pairs_documents": (_q_jaccard_pairs_documents, _JACCARD_SQL, 4),
    "textstats_documents": (_q_textstats_documents, _TEXTSTATS_SQL, 4),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every Spark query, in driver-sweep order: a stable sort on the last
    round with a driver row, so the queries the driver checked longest ago
    (or never) come first in a capped sweep."""
    by_round = sorted(QUERY_TABLE.items(), key=lambda kv: kv[1][2])
    return {name: fn for name, (fn, _, _) in by_round}


def oracle_sql() -> dict[str, str]:
    """Every query's DuckDB twin, over the pre-registered testdata views."""
    return {name: sql for name, (_, sql, _) in QUERY_TABLE.items()}
