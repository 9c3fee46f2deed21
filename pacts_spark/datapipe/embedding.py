"""Text -> embedding: a deterministic hashing-trick n-gram vectorizer.

Closes the pipeline seam where every ANN/near-dup operator consumed a
precomputed ``embedding`` column: this derives one from raw text with
PURE Column expressions (no Python, no fitted vocabulary, no state), so
the curation story runs end to end from text. The hashing trick
(Weinberger et al., "Feature Hashing for Large Scale Multitask
Learning") needs no vocabulary broadcast and no training pass — exactly
the property that matters at 100 TB: the operator is a projection,
embarrassingly parallel, zero shuffle.

Token hash is the md5-prefix 60-bit integer (same construction as
simhash/winnowing), so the whole vectorizer is replayable in DuckDB SQL
for the oracle. Bucket = hash mod dim; vector = L2-normalized bucket
counts. Collisions are the accepted trade (dim buckets for an unbounded
vocabulary) — ANN over these vectors is a topical-similarity search, not
a semantic one, and is honest about it.

Scale notes:
- the gram/bucket arrays are each materialized in their OWN projection
  before any per-element lambda references them — BUT a bare projection
  does NOT survive Catalyst's CollapseProject: the bucket array (and its
  md5 per gram) was measured re-inlining into all ``dim`` count
  references (64x the md5 work, 17 s single-task at 5k docs). The fix is
  an EXCHANGE barrier between the bucket projection and the count scans
  (hash repartition on the id): md5s compute once pre-shuffle, the scans
  hit a materialized int array post-shuffle, and a single-file corpus
  parallelizes. The shuffle carries (id, int-array of ~n_tokens) — about
  the size of the text itself, linear and skew-free; far cheaper than
  dim x md5 recompute;
- counting is O(dim * n_tokens) per row (a filter+size scan per bucket
  over the materialized array) — fine for the dim=32..256 regime this
  targets; all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _md5_60(col):
    """60-bit integer from the md5 hex prefix — cross-engine exact
    (DuckDB: CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hashed_ngram_embedding(
    df: DataFrame,
    dim: int = 64,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, embedding: array<double>[dim]) — L2-normalized hashed
    n-gram counts.

    tokens = single-space split of trim(text) (the repo-wide tokenizer,
    byte-identical to ``string_split(trim(text), ' ')``); grams = all
    (not distinct) n-token joins; bucket = md5_60(gram) mod dim;
    embedding[i] = count(bucket == i), L2-normalized. NULL text is
    coalesced to '' — an empty text yields one '' token, so the output
    vector always has norm 1 (never a zero vector to poison downstream
    cosines).
    """
    t = F.coalesce(F.trim(F.col(text_col)), F.lit(""))
    toks = F.split(t, " ")
    if n == 1:
        grams = toks
    else:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        # bind via default arg, not closure (HOF lambda binding rules)
        grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))

    # stage 1: bucket ids. The exchange barrier (not a bare projection —
    # CollapseProject would re-inline the md5s into every count, see
    # module docstring) pins ONE md5 evaluation per gram.
    bucketed = df.select(
        F.col(id_col),
        F.transform(
            grams, lambda g: F.pmod(_md5_60(g), F.lit(dim)).cast("int")
        ).alias("__b"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))

    # projection 2: raw counts per bucket (scans __b per bucket id; __b is
    # a materialized column reference, not a re-evaluated expression)
    def _count_of(i):
        return F.size(F.filter(F.col("__b"), lambda b: b == i)).cast("double")

    counted = bucketed.select(
        F.col(id_col),
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), _count_of).alias("__v"),
    )

    # projection 3: norm in its own column (an aggregate referenced inside
    # the normalizing lambda would re-run per element)
    normed = counted.select(
        F.col(id_col),
        F.col("__v"),
        F.sqrt(
            F.aggregate(F.col("__v"), F.lit(0.0), lambda acc, v: acc + v * v)
        ).alias("__norm"),
    )
    return normed.select(
        F.col(id_col),
        F.transform(F.col("__v"), lambda x: x / F.col("__norm")).alias("embedding"),
    )


def hashed_ngram_embedding_sql(
    dim: int = 64,
    n: int = 1,
    source: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`hashed_ngram_embedding` — returns a SELECT
    producing (id_col, embedding DOUBLE[]) for oracle composition."""
    if n == 1:
        grams = f"string_split(trim(coalesce({text_col}, '')), ' ')"
    else:
        grams = (
            f"[array_to_string(string_split(trim(coalesce({text_col}, '')), ' ')"
            f"[i:i+{n - 1}], ' ') FOR i IN range(1, greatest(len("
            f"string_split(trim(coalesce({text_col}, '')), ' ')) - {n}, 0) + 2)]"
        )
    return f"""
SELECT {id_col},
       [c / sqrt(list_sum([x * x FOR x IN cnt])) FOR c IN cnt] AS embedding
FROM (
  SELECT {id_col},
         [CAST(len([b FOR b IN bks IF b = i]) AS DOUBLE)
          FOR i IN range(0, {dim})] AS cnt
  FROM (
    SELECT {id_col},
           [CAST(CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % {dim} AS INT)
            FOR g IN {grams}] AS bks
    FROM {source}
  )
)
"""


def quantize_int8_stats(
    df,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> "DataFrame":
    """Symmetric per-vector INT8 quantization with reconstruction-error
    stats — the vector-compression step production ANN runs before
    indexing (FAISS SQ8 / scalar quantization): scale = max|x| / 127,
    code_i = round(x_i / scale) ∈ [-127, 127], reconstruction = code·scale.

    Output is ids + BIGINTs only (the repo's cross-engine hash surface):
    (vec_id, scale_micro, code_sum, code_min, code_max, max_err_micro)
    where scale_micro = round(scale·1e6), code_sum/min/max summarize the
    code vector (an order-independent integrity checksum — a downstream
    bit flip moves code_sum), and max_err_micro = round(max_i |x_i −
    code_i·scale|·1e6) (the per-vector reconstruction-error bound; for
    symmetric int8 it is ≤ scale/2, i.e. ≤ max|x|/254).

    Cross-engine: round() is half-away-from-zero in BOTH engines (pinned
    by test_kmeans_round_half_away_matches_duckdb) and every division is
    the same IEEE double op, so codes and stats replay exactly. The
    healthy-vector gate (similarity.healthy_vectors) excludes the
    all-zero vector whose scale would be 0 — division stays total.

    Scale: pure Column transform/aggregate in whole-stage codegen — one
    scan, no shuffle, no UDF; at 100 TB this IS the scan."""
    from pyspark.sql import functions as F

    from pacts_spark.datapipe.similarity import healthy_vectors

    df = healthy_vectors(df, vec_col, dim=dim)
    v = F.col(vec_col)
    dbl = lambda x: x.cast("double")  # noqa: E731
    mx = F.aggregate(
        F.transform(v, lambda x: F.abs(dbl(x))),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    scale = mx / F.lit(127.0)
    codes = F.transform(v, lambda x: F.round(dbl(x) / scale).cast("long"))
    err = F.aggregate(
        F.zip_with(
            codes, v, lambda c, x: F.abs(dbl(x) - c.cast("double") * scale)
        ),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    # codes referenced by three aggregates — materialize in ONE projection
    # (shared-subexpression rule: same-projection fan-out is safe, a
    # cross-projection reference would be re-inlined by CollapseProject)
    return df.select(
        F.col(id_col),
        F.round(scale * F.lit(1_000_000.0)).cast("long").alias("scale_micro"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        F.array_min(codes).alias("code_min"),
        F.array_max(codes).alias("code_max"),
        F.round(err * F.lit(1_000_000.0)).cast("long").alias("max_err_micro"),
    )
