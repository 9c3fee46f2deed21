"""Deterministic sampling for training-data pipelines.

``TABLESAMPLE``/``rand()`` are banned here (repo invariant: no
nondeterminism in any output path) and executor-seeded RNG is not stable
under retries/repartitioning. Instead: HASH sampling — a row is kept iff
an md5-derived bucket of its key falls under the rate. Properties:

- deterministic and retry/partitioning-independent (pure function of the
  key), so resumed or re-run jobs sample the SAME rows;
- cross-engine reproducible (md5 is md5 everywhere — the DuckDB oracle
  computes the identical bucket);
- composable: the (key, bucket) assignment is fixed, so raising the rate
  strictly grows the sample (nested samples for scaling-law runs).

Scale: a pure projection + filter — no shuffle, pushdown-friendly; the
md5 is the only cost (cheap next to a scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pacts_spark.session import local_frame

_BUCKETS = 10_000


def hash_bucket(key: Column) -> Column:
    """Deterministic bucket in [0, 10000): first 8 hex chars of
    md5(key-as-string) mod 10000 — byte-identical in DuckDB as
    ``CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8) AS BIGINT) %
    10000``."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _BUCKETS
    )


def _threshold(rate: float) -> int:
    # round half-UP, don't truncate and don't banker's-round:
    # int(0.57 * 10000) == 5699 (binary float) silently drops one bucket vs
    # the documented `bucket < rate*10000` contract, and Python's round()
    # is round-half-even (rate=0.00005 → 0.5 → 0 kept buckets). The
    # explicit rule is floor(rate*10000 + 0.5): a rate landing exactly on a
    # half-bucket keeps the bucket.
    return int(rate * _BUCKETS + 0.5)


def hash_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id"
) -> DataFrame:
    """Uniform deterministic sample: keep rows whose bucket < rate*10000."""
    return df.filter(hash_bucket(F.col(key_col)) < _threshold(rate))


def rebalanced_hash_sample(
    df: DataFrame,
    baseline_hist: DataFrame,
    stratum_col: str,
    key_col: str = "doc_id",
    n_col: str = "n",
) -> DataFrame:
    """Drift→action: per-stratum sample rates COMPUTED from a stored
    baseline histogram instead of passed as literals — the corrective
    sampling step after a distribution-drift check flags a stratum as
    over-represented.

    ``baseline_hist`` is (stratum, n) target counts — in production the
    manifest-persisted histogram of the last validated run (the same
    aggregate drift_scores consumes); rate(stratum) = least(1,
    target_n / current_n), so over-represented strata are downsampled
    toward the baseline and under-represented ones pass through whole.
    Strata absent from the baseline get rate 0 (dropped — e.g. 'und'
    from language-ID). Threshold = floor(rate*10000 + 0.5), the repo's
    half-up bucket rule, computed identically in the DuckDB twin (both
    engines do one IEEE double division of two BIGINTs).

    Scale: current counts are ONE aggregate-only groupBy; the per-stratum
    thresholds (a handful of rows) broadcast back — the data pass itself
    stays a projection + filter, same as stratified_hash_sample.
    """
    cur = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__cur"))
    rates = cur.join(
        baseline_hist.withColumnRenamed(n_col, "__target"), stratum_col, "left"
    )
    rate = F.least(
        F.lit(1.0),
        F.coalesce(F.col("__target").cast("double") / F.col("__cur"), F.lit(0.0)),
    )
    thr = rates.select(
        stratum_col,
        F.floor(rate * _BUCKETS + F.lit(0.5)).cast("long").alias("__thr"),
    )
    return (
        df.join(F.broadcast(thr), stratum_col)
        .filter(hash_bucket(F.col(key_col)) < F.col("__thr"))
        .drop("__thr")
    )


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum rates (e.g. per-language mixing weights for a training
    corpus): keep a row iff bucket(key) < rate(stratum)*10000. Strata not
    listed get ``default_rate``. Pure projection + filter, no shuffle."""
    thr = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(stratum_col) == F.lit(stratum)
        val = F.lit(_threshold(rate))
        thr = F.when(cond, val) if thr is None else thr.when(cond, val)
    thr = (
        thr.otherwise(F.lit(_threshold(default_rate)))
        if thr is not None
        else F.lit(_threshold(default_rate))
    )
    return df.filter(hash_bucket(F.col(key_col)) < thr)


def _shuffle_key(id_col: str, seed: int) -> Column:
    """Seeded pseudo-random order key: md5 of ``seed:id``. NULL ids hash
    as the empty string (a NULL hash would make the bucket key NULL and
    the driver-side sorted() heterogeneous) and tie-break first via
    Spark's asc-nulls-first default."""
    return F.md5(
        F.concat(
            F.lit(f"{seed}:"),
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        )
    )


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic corpus-wide training-order shuffle with a GLOBAL
    0-based ordinal: every row gets ``shuffle_rank`` = its position under
    the seeded pseudo-random total order (md5 of ``seed:id``, ties by
    id) — the "shuffle the corpus before packing/sharding" step of a
    pretraining pipeline, reproducible across runs and engines.

    Scale design — the bounded-driver zipWithIndex pattern, never a
    single-partition global sort: rows bucket by the FIRST TWO HEX CHARS
    of the order key (256 buckets; a string-prefix bucket means ordering
    by (bucket, key) equals ordering by key alone), per-bucket counts
    come back to the driver (<= 256 rows — bounded regardless of corpus
    size), and rank = cumulative_offset[bucket] + row_number within the
    bucket. The only data-sized work is one hash-partitioned window sort
    over ~N/256-row buckets; skew is impossible because md5 prefixes are
    uniform by construction.
    """
    from pyspark.sql import Window

    h = _shuffle_key(id_col, seed)
    hashed = df.select(F.col(id_col), h.alias("__h"), F.substring(h, 1, 2).alias("__b"))
    # bounded driver state: one count per bucket (<= 256 rows)
    counts = {r["__b"]: r["cnt"] for r in hashed.groupBy("__b").agg(F.count("*").alias("cnt")).collect()}
    if not counts:  # empty input: create_map() of zero entries is typeless
        return df.select(
            F.col(id_col), F.lit(0).cast("long").alias("shuffle_rank")
        )
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    rn = F.row_number().over(
        Window.partitionBy("__b").orderBy(F.col("__h"), F.col(id_col))
    )
    return hashed.select(
        F.col(id_col),
        (off_map[F.col("__b")] + rn - 1).cast("long").alias("shuffle_rank"),
    )


def shard_assign(
    df: DataFrame,
    budget_tokens: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Token-budget output sharding in global shuffle order — the "write
    the shuffled corpus as ~N-token shards" step of a pretraining
    pipeline. Every doc gets (shuffle_rank, n_tokens, shard_id) where
    shard_id = exclusive-prefix-sum(n_tokens in shuffle order) DIV
    budget_tokens: shard boundaries fall at fixed token offsets, so
    shard sizes are within one doc of the budget, the assignment is a
    pure function of (corpus, seed, budget), and downstream writers can
    partitionBy("shard_id") without any further coordination.

    Scale design — the same bounded-driver two-phase pattern as
    ``global_shuffle``: rows bucket by the first two hex chars of the
    order key (string-prefix bucketing preserves the total order);
    per-bucket (count, token_sum) come back to the driver (<= 256 rows
    regardless of corpus size) and prefix totals re-enter the plan as a
    literal map; the only data-sized work is one hash-partitioned window
    over uniform ~N/256-row buckets computing the within-bucket running
    sum. Integer DIV (never float division) keeps the boundary exact at
    any corpus size.
    """
    base = _global_token_offsets(df, id_col, text_col, seed)
    if base is None:  # empty input
        return df.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("shuffle_rank"),
            F.lit(0).cast("long").alias("n_tokens"),
            F.lit(0).cast("long").alias("shard_id"),
        )
    return base.select(
        F.col(id_col),
        "shuffle_rank",
        "n_tokens",
        _int_div(F.col("__off"), budget_tokens).alias("shard_id"),
    )


def _int_div(col: Column, d: int) -> Column:
    """Exact integer division of a non-negative BIGINT column: subtract
    the remainder first so the double division is of an exact multiple
    (no floor-of-double boundary risk at large values)."""
    return ((col - F.pmod(col, F.lit(d))) / F.lit(d)).cast("long")


def _global_token_offsets(
    df: DataFrame, id_col: str, text_col: str, seed: int
) -> DataFrame | None:
    """(id, shuffle_rank, n_tokens, __off): global shuffle rank and
    EXCLUSIVE prefix sum of whitespace token counts in shuffle order,
    via the bounded-driver two-phase pattern (see shard_assign
    docstring). Returns None on empty input (create_map() of zero
    entries is typeless)."""
    from pyspark.sql import Window

    from pacts_spark.datapipe.textstats import _n_tokens

    h = _shuffle_key(id_col, seed)
    hashed = df.select(
        F.col(id_col),
        h.alias("__h"),
        F.substring(h, 1, 2).alias("__b"),
        _n_tokens(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    # bounded driver state: one (count, token_sum) per bucket (<= 256 rows)
    stats = {
        r["__b"]: (r["cnt"], r["tok"])
        for r in hashed.groupBy("__b")
        .agg(F.count("*").alias("cnt"), F.sum("n_tokens").alias("tok"))
        .collect()
    }
    if not stats:
        return None
    rank_off, tok_off = {}, {}
    acc_n, acc_t = 0, 0
    for b in sorted(stats):
        rank_off[b], tok_off[b] = acc_n, acc_t
        acc_n += stats[b][0]
        acc_t += stats[b][1] or 0
    rank_map = F.create_map(
        *[F.lit(x) for kv in sorted(rank_off.items()) for x in kv]
    )
    tok_map = F.create_map(
        *[F.lit(x) for kv in sorted(tok_off.items()) for x in kv]
    )
    w = Window.partitionBy("__b").orderBy(F.col("__h"), F.col(id_col))
    rn = F.row_number().over(w)
    # inclusive running sum minus own tokens = exclusive prefix sum.
    # NULL-safe: a NULL-text doc keeps n_tokens NULL in the OUTPUT but
    # contributes 0 to offsets (sum already skips NULLs; an unguarded
    # `cum - n_tokens` would poison the row's own offset/shard to NULL,
    # diverging from the twin's COALESCE'd window sum)
    cum = F.sum("n_tokens").over(w)
    return hashed.select(
        F.col(id_col),
        (rank_map[F.col("__b")] + rn - 1).cast("long").alias("shuffle_rank"),
        F.col("n_tokens"),
        (
            tok_map[F.col("__b")]
            + F.coalesce(cum, F.lit(0))
            - F.coalesce(F.col("n_tokens"), F.lit(0))
        ).alias("__off"),
    )


def token_blocks(
    df: DataFrame,
    block_tokens: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Concat-then-chunk packing (the GPT-style pretraining packer, the
    complement of packing.pack_sequences which never splits a doc):
    conceptually concatenate the whole corpus in global shuffle order and
    cut every ``block_tokens`` tokens — docs SPLIT across block
    boundaries, blocks have exactly ``block_tokens`` tokens (except the
    last), zero padding waste. Output one row per (doc, covered block):
    (doc_id, block_idx, tok_start, tok_end) with [tok_start, tok_end)
    the doc-local token slice that lands in that block; a reader joins
    text back by id and slices.

    Pure integer arithmetic on the same bounded-driver global offsets as
    shard_assign: a doc at exclusive offset o with L tokens covers
    blocks o DIV B .. (o+L-1) DIV B, one explode of at most
    ceil(L/B)+1 elements — no extra shuffle beyond the offset window's,
    and every boundary is exact at any corpus size (integer DIV).
    Zero-token docs occupy no block and emit no row.
    """
    base = _global_token_offsets(df, id_col, text_col, seed)
    if base is None:  # empty input
        return local_frame(
            df.sparkSession,
            f"{id_col} long, block_idx long, tok_start long, tok_end long",
        )
    nonempty = base.filter(F.col("n_tokens") >= 1)
    b_lo = _int_div(F.col("__off"), block_tokens)
    b_hi = _int_div(F.col("__off") + F.col("n_tokens") - 1, block_tokens)
    blocks = nonempty.select(
        F.col(id_col),
        F.col("__off"),
        F.col("n_tokens"),
        F.explode(F.sequence(b_lo, b_hi)).alias("block_idx"),
    )
    tok_start = F.greatest(
        F.lit(0).cast("long"),
        F.col("block_idx") * block_tokens - F.col("__off"),
    )
    tok_end = F.least(
        F.col("n_tokens"),
        (F.col("block_idx") + 1) * block_tokens - F.col("__off"),
    )
    return blocks.select(
        F.col(id_col),
        F.col("block_idx"),
        tok_start.alias("tok_start"),
        tok_end.alias("tok_end"),
    )


def mixture_upsample(
    df: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture re-weighting by stratum (domain/language):
    emit each doc ``n_copies`` times so the output composition matches
    the target ``weights`` WITHOUT downsampling any weighted stratum —
    the "2 epochs of wiki, 0.7 epochs of web" data-mixing step of a
    pretraining recipe, realized as integer repeats plus a deterministic
    hash-sampled fractional epoch.

    Per stratum s: ratio_s = w_s / count_s, rep_s = ratio_s /
    min_t(ratio_t) (>= 1 — the least-over-weighted stratum passes
    through exactly once; everything else is upsampled). n_copies =
    floor(rep_s) + 1 extra copy for docs whose md5 bucket falls under
    frac(rep_s) (the repo's half-up 10k-bucket rule, so re-runs repeat
    the SAME docs). Strata absent from ``weights`` are dropped. Output:
    one row per (doc, rep_ix), rep_ix in [0, n_copies).

    Cross-engine determinism: rep_s is two IEEE-double divisions of
    exact (< 2^53) inputs written identically in the DuckDB twin —
    exactly-rounded ops on identical inputs give identical results, the
    same precedent as rebalanced_hash_sample. Scale: stratum counts are
    one aggregate-only groupBy; the per-stratum (base, thr) frame is a
    handful of rows broadcast back; the data pass is projection +
    explode of at-most-ceil(rep) elements — no shuffle of the corpus.
    """
    spark = df.sparkSession
    w_df = local_frame(
        spark, f"{stratum_col} string, __w double", sorted(weights.items())
    )
    cur = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__c"))
    ratio = cur.join(w_df, stratum_col).select(
        stratum_col, (F.col("__w") / F.col("__c")).alias("__ratio")
    )
    # ratio feeds BOTH the min and the per-stratum plan; without a barrier
    # the counting scan runs once per reference (multi-reference trap).
    # The checkpoint is #strata rows.
    ratio = ratio.localCheckpoint(eager=False)
    minr = ratio.agg(F.min("__ratio").alias("__minr"))
    rep = ratio.crossJoin(F.broadcast(minr)).select(
        stratum_col,
        (F.col("__ratio") / F.col("__minr")).alias("__rep"),
    )
    plan = rep.select(
        stratum_col,
        F.floor("__rep").cast("long").alias("__base"),
        F.floor((F.col("__rep") - F.floor("__rep")) * _BUCKETS + F.lit(0.5))
        .cast("long")
        .alias("__thr"),
    )
    n_copies = F.col("__base") + F.when(
        hash_bucket(F.col(id_col)) < F.col("__thr"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(plan), stratum_col)
        .select(
            F.col(id_col),
            F.col(stratum_col),
            n_copies.alias("__n"),
        )
        .filter(F.col("__n") >= 1)  # sequence(0, -1) is DESCENDING, not empty
        .select(
            F.col(id_col),
            F.col(stratum_col),
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("__n") - 1)
            ).alias("rep_ix"),
        )
    )


def quality_head(
    df: DataFrame,
    frac: float,
    score_col: str,
    stratum_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``frac`` of rows per stratum by ``score_col`` (the
    "best 30% by quality per language" curation step), WITHOUT a
    corpus-wide sort: scores in this repo are round(x, 6) values, so the
    per-stratum (score -> count) histogram is bounded (<= 1e6+1 distinct
    values) regardless of corpus size. Pass 1 is an aggregate-only
    groupBy(stratum, score) with map-side combine; the k-th-largest
    threshold comes from a window over that TINY frame; pass 2 is a
    broadcast-join filter. k = floor(frac*n + 0.5) per stratum (the
    repo's half-up rule); ties AT the threshold are all kept (output may
    exceed k — deterministic, no arbitrary tie cut).

    The score projection is computed twice (histogram + filter) — both
    are pure-codegen scans; recomputing beats checkpointing a
    corpus-sized frame.
    """
    from pyspark.sql import Window

    hist = df.groupBy(stratum_col, score_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    wd = Window.partitionBy(stratum_col).orderBy(F.col(score_col).desc())
    cum = hist.select(
        stratum_col,
        score_col,
        F.sum("__c")
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__cum"),
        F.sum("__c")
        .over(Window.partitionBy(stratum_col))
        .alias("__n"),
    )
    k = F.floor(F.lit(float(frac)) * F.col("__n") + F.lit(0.5))
    thr = (
        cum.filter((F.col("__cum") >= k) & (k >= 1))
        .groupBy(stratum_col)
        .agg(F.max(score_col).alias("__thr"))
    )
    return (
        df.join(F.broadcast(thr), stratum_col)
        .filter(F.col(score_col) >= F.col("__thr"))
        .drop("__thr")
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep at most ``cap`` rows per stratum (domain/host balancing — the
    "no single site dominates the corpus" curation step), chosen as the
    FIRST ``cap`` under a seeded per-stratum hash order, so the kept set
    is a uniform deterministic sample, not "whatever sorted first".

    Scale design — fully DISTRIBUTED two-phase ranking (no driver state,
    unlike ``global_shuffle``'s 256-row collect, because stratum
    cardinality is unbounded: a web corpus has millions of hosts):

    1. order key h = md5(seed:stratum:id); bucket b = first two hex
       chars (string-prefix bucketing preserves the total order).
    2. per-(stratum, b) counts: ONE aggregate-only shuffle, map-side
       combine absorbs hot domains.
    3. exclusive prefix offsets per stratum: a window over the COUNT
       frame (<= 256 rows per stratum — bounded work however big the
       domain is).
    4. rows join offsets on (stratum, b) and rank within the bucket; the
       rank window partitions by the SAME (stratum, b) key, so it rides
       the join exchange (one data-sized shuffle total). keep =
       offset + rank <= cap. A whale domain never sorts as one task:
       its rows split across 256 uniform md5 buckets.

    Returns the kept rows of ``df`` (all original columns).
    """
    from pyspark.sql import Window

    if cap <= 0:
        return df.filter(F.lit(False))
    h = F.md5(
        F.concat(
            F.lit(f"{seed}:"),
            F.coalesce(F.col(stratum_col).cast("string"), F.lit("")),
            F.lit(":"),
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        )
    )
    # injective NULL-tagged stratum key: a plain equi-join on the raw
    # stratum silently DROPS every NULL-stratum row (NULL == NULL is
    # never true), while the groupBy above it keeps them — encode NULL
    # as "\x00" and value v as "v"+v (prefix-distinct, no collision) so
    # NULL strata are capped like any other domain
    sk = F.when(F.col(stratum_col).isNull(), F.lit("\x00")).otherwise(
        F.concat(F.lit("v"), F.col(stratum_col).cast("string"))
    )
    hashed = (
        df.withColumn("__h", h)
        .withColumn("__b", F.substring("__h", 1, 2))
        .withColumn("__sk", sk)
    )
    cnt = hashed.groupBy("__sk", "__b").agg(F.count(F.lit(1)).alias("__c"))
    w_off = (
        Window.partitionBy("__sk")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnt.select(
        "__sk",
        "__b",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
        "__c",
    )
    # buckets entirely past the cap never ship their rows to the rank join
    offs = offs.filter(F.col("__off") < F.lit(cap))
    joined = hashed.join(offs, ["__sk", "__b"])
    rn = F.row_number().over(
        Window.partitionBy("__sk", "__b").orderBy(
            "__h", F.col(id_col).asc_nulls_last()
        )
    )
    return (
        joined.withColumn("__rn", rn)
        .filter(F.col("__off") + F.col("__rn") <= F.lit(cap))
        .drop("__h", "__b", "__sk", "__off", "__c", "__rn")
    )
