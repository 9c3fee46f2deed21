"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of each variant):

- exact:   one groupBy on a 128-bit content hash — the shuffle carries
           (hash, id), never text. O(N) and skew-free (hashes uniform).
- jaccard: exact pairwise similarity is O(N²); we bound it by joining on
           SHARED SHINGLES (inverted index) so only pairs with ≥1 common
           shingle are scored — the standard candidate-generation trick.
           Hot shingles (stopword-ish) are capped by document frequency to
           keep the join from exploding (df_cap).
- minhash: constant-size signatures (k mins) + banded LSH: pairs collide
           iff a band matches, turning O(N²) into O(N·bands) shuffle. All
           signature math is Column expressions over xxhash64 — no Python.
- simhash: 64-bit fingerprint whose Hamming distance tracks cosine
           similarity of token sets; near-dup candidates = identical
           chunks, with the chunk COUNT derived from max_hamming
           (pigeonhole: h+1 chunks guarantee recall 1 for Hamming ≤ h).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pacts_spark.datapipe.util import ensure_scan_parallelism

# Mersenne prime 2^31-1: universal-hash modulus. With a, b, h < 2^31,
# a*h + b < 2^62 stays inside a signed 64-bit long (ANSI overflow-safe).
_P = (1 << 31) - 1


def _tokens(text: Column) -> Column:
    """Single-space tokenization — deterministic, locale-free, and
    byte-identical to the DuckDB oracle twin (``string_split(trim(text),
    ' ')``); the textstats token identities use the same split. A ``\\s+``
    regex split would diverge on tabs/newlines/runs of spaces."""
    return F.split(F.trim(text), " ")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles as an array<string> (built-ins only:
    sequence + transform + array_join over a token slice)."""
    toks = _tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    shingle = lambda i: F.array_join(F.slice(toks, i + 1, n), " ")  # noqa: E731
    return F.array_distinct(F.transform(idx, shingle))


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ids: int | None = 100,
) -> DataFrame:
    """Groups of byte-identical texts: (content_hash, canonical_id = min id,
    dup_count, ids). Only hash+id shuffle; text never moves.

    ``ids`` holds the ``max_ids`` SMALLEST ids of the group (a sample for
    audit); ``dup_count`` always carries the true total. The bound is
    enforced BEFORE aggregation (window rank, filter, then collect), so a
    mass-duplicated document — billions of copies of boilerplate — never
    builds a billion-element agg buffer or output row. The rank window and
    the groupBy share the content_hash hash partitioning, so the cap costs
    a sort, not a second shuffle. ``max_ids=None`` restores the unbounded
    list for small audit corpora. For building dedup-cluster EDGES use
    :func:`exact_duplicate_pairs` — it needs no arrays at all and is not
    subject to this cap.
    """
    h = df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
    if max_ids is None:
        return (
            h.groupBy("content_hash")
            .agg(
                F.min(id_col).alias("canonical_id"),
                F.count(F.lit(1)).alias("dup_count"),
                F.sort_array(F.collect_list(id_col)).alias("ids"),
            )
            .filter(F.col("dup_count") > 1)
        )
    w = Window.partitionBy("content_hash")
    ranked = h.select(
        "content_hash",
        F.col(id_col),
        F.count(F.lit(1)).over(w).alias("__n"),
        F.row_number().over(w.orderBy(F.col(id_col).asc())).alias("__rn"),
    )
    return (
        ranked.filter(F.col("__rn") <= max_ids)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.max("__n").alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def exact_duplicate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate EDGES (id_a = group canonical = min id, id_b = every
    other member) — the input dedup clustering wants. Pure window-min over
    the hash projection: no collect_list, no arrays, no per-group row-size
    ceiling, one shuffle on content_hash. Equivalent to exploding
    :func:`exact_duplicates`' unbounded ``ids`` but safe under mass
    duplication (the capped ``ids`` would DROP edges past the cap).

    NULL-text docs produce NO edges: SQL equality semantics (the twins
    join on md5(a.text) = md5(b.text), where NULL never equals NULL) —
    an unfiltered window would group all NULL hashes into one giant
    cluster the oracle doesn't have. Content-less docs aren't
    duplicates of each other."""
    h = df.filter(F.col(text_col).isNotNull()).select(
        F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col)
    )
    canon = F.min(id_col).over(Window.partitionBy("content_hash"))
    return (
        h.select(canon.alias("id_a"), F.col(id_col).alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
    )


def chunk_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide PASSAGE-level exact dedup at k-token chunk granularity
    (the chunk-granular variant of Lee et al., "Deduplicating Training
    Data Makes Language Models Better": repeated passages are removed
    EVERYWHERE except their first occurrence, even when the containing
    documents differ). Each doc is split into consecutive non-overlapping
    k-token chunks; a chunk survives iff it is the corpus-wide FIRST
    occurrence of its text — min (doc_id, chunk_idx) per distinct chunk —
    and each doc's surviving chunks are reassembled in order.

    Output: (doc_id, n_chunks, n_kept, dedup_text), one row per doc; a
    doc whose every chunk duplicates earlier text keeps n_kept = 0 and
    dedup_text = ''.

    Scale design (the reason this is not a window over md5(chunk)):

    - Chunking is a pure-Column split + slice projection (no shuffle);
      the chunk array is materialized in its OWN projection before any
      per-element lambda touches it (shared-subexpression re-eval trap).
    - First-occurrence is an ARG-MIN AGGREGATE — groupBy(chunk md5)
      .agg(min(struct(doc_id, chunk_idx))) — not row_number over a hash
      window: map-side partial aggregation absorbs hot chunks, so a
      boilerplate passage repeated 10^9 times never lands 10^9 rows on
      one reducer (the skew failure a window would have). The decision
      shuffle carries (16-byte md5, id, idx) — never chunk text.
    - Winners collapse to one int-array row per doc (sorted kept
      chunk_idx list, bounded by n_chunks), then join back to the docs
      table 1:1 on doc_id — uniform key, skew-free — and reassembly is
      an index-filter over the re-derived chunk array. Net: two corpus
      scans + three agg/join shuffles, none carrying text except the
      final 1:1 join; cheaper at 100 TB than checkpointing the exploded
      chunk table to avoid the second scan.
    """
    df = ensure_scan_parallelism(df, id_col)
    words = _tokens(F.coalesce(F.col(text_col), F.lit("")))
    # split('', ' ') == [''] in BOTH engines, so size >= 1 and every doc
    # has >= 1 chunk; n_chunks = ceil(size / k)
    tokd = df.select(F.col(id_col), words.alias("__w"))
    w = F.col("__w")
    n_chunks = F.ceil(F.size(w) / F.lit(k)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.array_join(F.slice(w, i * k + 1, k), " "),
    )
    chunks = tokd.select(
        F.col(id_col),
        F.posexplode(chunk_arr).alias("chunk_idx", "chunk"),
    )
    winners = (
        chunks.select(
            F.md5(F.col("chunk")).alias("__h"), F.col(id_col), "chunk_idx"
        )
        .groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__w0"))
        .select(
            F.col(f"__w0.{id_col}").alias(id_col),
            F.col("__w0.chunk_idx").alias("chunk_idx"),
        )
    )
    kept_by_doc = winners.groupBy(id_col).agg(
        F.sort_array(F.collect_list("chunk_idx")).alias("__keep")
    )
    joined = tokd.join(kept_by_doc, id_col, "left").select(
        F.col(id_col),
        n_chunks.alias("n_chunks"),
        chunk_arr.alias("__chunks"),
        F.coalesce(F.col("__keep"), F.array().cast("array<int>")).alias(
            "__keep"
        ),
    )
    # (element, index) two-param HOF lambda: keep chunks whose position is
    # in the winner set; __keep/__chunks are materialized attributes here
    kept_chunks = F.filter(
        F.col("__chunks"),
        lambda c, i: F.array_contains(F.col("__keep"), i.cast("int")),
    )
    return joined.select(
        F.col(id_col),
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.size("__keep").cast("long").alias("n_kept"),
        F.array_join(kept_chunks, " ").alias("dedup_text"),
    )


def dedup_against_index(
    batch: DataFrame,
    index_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """INCREMENTAL exact dedup: which docs of a new BATCH survive against
    an already-deduplicated corpus represented by its content-hash index
    (``index_hashes``: any frame with a ``content_hash`` column, e.g. the
    manifest table's hash column). Survivors are (a) the intra-batch
    first occurrence of their text (arg-min over the batch) and (b)
    absent from the index. Output: (doc_id, content_hash).

    This is the 100 TB ingest pattern: the corpus is never re-deduped —
    each delta is hashed, reduced batch-locally (map-side combine), and
    ANTI-JOINED against the index on the 128-bit hash. Both shuffles
    carry (hash, id) only, uniform by construction; text never moves.
    """
    bh = batch.select(
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("content_hash"),
        F.col(id_col),
    )
    winners = bh.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return winners.join(
        index_hashes.select("content_hash"), "content_hash", "left_anti"
    ).select(F.col(id_col), F.col("content_hash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int = 100,
) -> DataFrame:
    """Jaccard over n-word shingles for candidate pairs sharing ≥1
    surviving shingle. Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``df_cap`` drops shingles appearing in more than that many docs before
    the self-join (stopword shingles generate quadratic candidates while
    contributing little discrimination) — at web scale this cap is what
    keeps the inverted index join linear-ish.

    HONEST SCORE SEMANTICS under the cap: n_common counts only
    post-cap (rare) shared shingles while the denominator keeps full
    shingle-set sizes, so pairs whose overlap is mostly hot shingles
    score BELOW their true Jaccard (and pairs sharing only hot
    shingles vanish entirely). The DuckDB twin replays the same
    formula, so parity holds — but for a genuinely exact score use
    :func:`minhash_verified_pairs`, whose verification stage computes
    the uncapped Jaccard.
    """
    sh = ensure_scan_parallelism(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    ).distinct()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # Broadcast the HOT set and anti-join it away. The hot set (df >
    # df_cap) is small BY CONSTRUCTION — boilerplate/stopword shingles
    # only — while the kept set is ~the corpus's entire distinct-shingle
    # vocabulary (billions of rows at 100 TB): broadcasting the kept set
    # would OOM the driver at scale even though it's a few MB locally.
    hot = freq.filter(F.col("df") > df_cap).select("shingle")
    sh_kept = sh.join(F.broadcast(hot), "shingle", "left_anti")

    a = sh_kept.alias("a")
    b = sh_kept.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ja = inter.join(
        sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("sz_a")), "id_a"
    ).join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("sz_b")), "id_b")
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        ja.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _hash_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k universal hashes (a*h+b) mod P."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(k)]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature: array<long>[k]) — min of k universal hashes over the
    document's shingle set. Pure Column math: xxhash64 per shingle, then
    array_min over a transform per hash function; no shuffle at all (a
    single projection)."""
    coeffs = _hash_coeffs(k, seed)
    # NULL-text docs carry no shingles and can never verify into a pair
    # (their jaccard is NULL) — but unfiltered they are WORSE than
    # useless: their band keys are xxhash64(NULL) = the seed constant,
    # so every NULL doc corpus-wide collides in EVERY band and the
    # candidate join does quadratic work it then throws away. Filter at
    # the source; the twins (unnest of a NULL shingle list) never see
    # these docs either.
    df = df.filter(F.col(text_col).isNotNull())
    # materialize shingle hashes ONCE per row before fanning out to k
    # permutations — otherwise Catalyst re-evaluates split+shingle+xxhash64
    # k times per row (measured 20x slowdown at k=64)
    df = ensure_scan_parallelism(df, id_col)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            word_shingles(F.col(text_col), shingle_n),
            lambda s: F.pmod(F.xxhash64(s), F.lit(_P)),
        ).alias("__h"),
    )

    def perm(a: int, b: int):
        # single-arg lambda (PySpark treats arity-2 lambdas as (elem, idx))
        return F.array_min(
            F.transform("__h", lambda h: F.pmod(h * a + b, F.lit(_P)))
        )

    sig = F.array(*[perm(a, b) for a, b in coeffs])
    return hashed.select("id", sig.alias("signature"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: docs colliding on any band become a candidate pair.
    Shuffle key = (band_idx, band_hash) — uniform by construction; the
    per-bucket pair expansion is quadratic only within a bucket, and
    buckets are tiny for any reasonable threshold.

    ``max_bucket`` (default None = off, output unchanged) guards the
    quadratic per-bucket expansion on SELF-SIMILAR corpora (templated
    support logs, generated text — measured: ~98% of all conversation
    pairs surviving the band filter on a corpus with ~0.35 baseline
    Jaccard): band buckets holding more than ``max_bucket`` docs are
    dropped before the self-join, bounding candidate volume at
    ``bands * N * max_bucket / 2``. RECALL EFFECT: a pair is lost only
    if EVERY band where its signatures collide is a hot bucket — for a
    pair at Jaccard j colliding in an expected ``b * j^r`` bands, all of
    them must exceed the cap; genuinely-near pairs (j >> the corpus
    baseline) collide in many bands while hot buckets are by definition
    the corpus-baseline template signatures, so losses concentrate on
    pairs barely above threshold inside template clusters. The bucket
    sizing is a single window count over the SAME (band, bucket) keys
    the self-join shuffles on — routing and pairing ride one exchange,
    the sizing pattern of the vector grid router (similarity._block_grid)."""
    assert bands * rows_per_band <= 1024
    band_ids = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = signatures.select(
        "id",
        F.explode(
            F.transform(
                band_ids,
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("signature", i * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket is not None:
        if max_bucket < 2:
            # a pair needs a bucket of >= 2 rows: cap < 2 would silently
            # drop EVERY candidate corpus-wide
            raise ValueError("max_bucket must be >= 2 (or None)")
        w_bb = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("bsize", F.count(F.lit(1)).over(w_bb))
            .filter(F.col("bsize") <= max_bucket)
            .drop("bsize")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _token_hash(t: Column, token_hash: str) -> Column:
    """Per-token 64/60-bit hash.

    - ``xxhash64``: JVM-native, fastest — the production path.
    - ``md5_60``: first 15 hex chars of md5 as a 60-bit long — slower, but
      computable IDENTICALLY in DuckDB (``('0x' || substr(md5(t), 1, 15))
      ::BIGINT``), which is what makes the simhash query oracle-checkable.
    """
    if token_hash == "xxhash64":
        return F.xxhash64(t)
    if token_hash == "md5_60":
        return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown token_hash: {token_hash}")


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate-then-verify MinHash dedup: banded-LSH candidates, then
    EXACT Jaccard re-score over the candidates' shingle sets. Returns
    (id_a, id_b, jaccard) with round(jaccard, 6) >= threshold.

    Miss bound: with b = k/rows_per_band bands of r = rows_per_band rows,
    a true pair at Jaccard j is missed with probability (1 - j^r)^b —
    2e-4 at j = 0.5 with the default (r=2, b=32). r also gates the
    CANDIDATE volume: r=1 admits any pair sharing one slot (~all pairs
    with j >= 0.1 — measured 12x more verify-join work than r=2), so r
    trades a vanishing recall tail for the join staying near-linear. The
    verified output equals the exact all-pairs Jaccard >= threshold set
    (the DuckDB oracle twin) up to the miss bound. Shuffle cost: the band
    explode carries (id, band, bucket) only; shingle arrays travel only
    for candidate pairs (the verification join), never all-pairs.

    ``max_bucket`` (default None = exact-up-to-miss-bound output
    unchanged) enables the hot-bucket candidate guard for self-similar
    corpora — see :func:`lsh_candidate_pairs` for the volume bound and
    the additional (documented) recall loss it trades."""
    # lazy localCheckpoint: sigs feeds both sides of the band self-join, so
    # without it the k-permutation projection runs twice (measured ~25% of
    # query wall at sf0.1). Checkpoint blocks release when the frame is
    # GC'd, so no unpersist handle is needed.
    sigs = minhash_signatures(df, text_col, id_col, k, shingle_n, seed).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(
        sigs,
        bands=k // rows_per_band,
        rows_per_band=rows_per_band,
        max_bucket=max_bucket,
    )
    sh = ensure_scan_parallelism(df, id_col).select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    j = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common / (F.size("sh_a") + F.size("sh_b") - n_common)
    return (
        j.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
    bits: int = 64,
) -> DataFrame:
    """SimHash over tokens: bit j of the fingerprint is the sign of
    sum over tokens of (+1 if token-hash bit j else -1). Pure Column
    expressions (aggregate over the token array, ``bits`` shiftright/bit
    tests folded into one projection). The token-hash array is
    materialized in its own projection FIRST — otherwise Catalyst
    re-evaluates tokenize+hash once per bit (the measured 20x minhash
    re-evaluation trap)."""
    if token_hash == "md5_60" and bits > 60:
        # md5_60 is a 60-bit hash: fingerprint bits 60..63 would be
        # constant-sign noise and chunk blocking over them dead weight
        raise ValueError(
            f"token_hash='md5_60' provides 60 hash bits; bits={bits} > 60 "
            "would leave the top fingerprint bits constant — pass bits<=60"
        )
    toks = F.array_distinct(_tokens(F.col(text_col)))
    # NULL-text docs have NO fingerprint (not fingerprint 0): an
    # unfiltered NULL bit-sum fell through to sign 0 on every bit, so
    # any two NULL-text docs paired at hamming 0 — while the DuckDB twin
    # (unnest of a NULL token list) emits no row at all. Align on the
    # twin's semantics: no content, no fingerprint.
    df = ensure_scan_parallelism(df.filter(F.col(text_col).isNotNull()), id_col)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: _token_hash(t, token_hash)).alias("__h"),
    )

    def bit_sum(j: int):
        return F.aggregate(
            F.col("__h"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    bit_sums = [bit_sum(j) for j in range(bits)]
    fp = None
    for j, s in enumerate(bit_sums):
        bit = F.when(s > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        fp = term if fp is None else fp.bitwiseOR(term)
    return hashed.select("id", fp.alias("simhash"))


def _chunk_bounds(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """(offset, width) partition of ``bits`` into ``n_chunks`` near-equal
    chunks: the first ``bits % n_chunks`` chunks get the extra bit."""
    base, extra = divmod(bits, n_chunks)
    bounds, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
    bits: int = 64,
    small_corpus: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash with a RECALL GUARANTEE: block on
    ``max_hamming + 1`` bit-chunks of the fingerprint — by pigeonhole, any
    pair within Hamming ≤ max_hamming differs in at most max_hamming chunks
    and therefore shares at least one identical chunk. Exact Hamming
    verification with bit_count drops false candidates, so the output is
    EXACTLY the all-pairs Hamming ≤ max_hamming set.

    SCALE GUARD: the blocking keyspace per chunk is 2^chunk_width, and
    chunk_width = bits/(max_hamming+1). Below ~12 bits (4096 distinct
    values per chunk) the candidate join degrades toward all-pairs as N
    grows — the default (bits=64, max_hamming=3 → 16-bit chunks) is the
    scale-safe shape. Narrower chunks (a large max_hamming on few bits)
    must opt in with ``small_corpus=True``, which declares the corpus
    small enough that ~N²/2^chunk_width candidates are acceptable."""
    if not 0 <= max_hamming < bits:
        raise ValueError("max_hamming must be in [0, bits)")
    n_chunks = max_hamming + 1
    min_width = bits // n_chunks
    if min_width < 12 and not small_corpus:
        raise ValueError(
            f"simhash blocking chunks are only {min_width} bits wide "
            f"(bits={bits}, max_hamming={max_hamming}): a {2**min_width}-value "
            "keyspace per chunk degrades toward all-pairs at corpus scale. "
            "Use more bits / a smaller max_hamming, or pass small_corpus=True "
            "to accept quadratic candidate growth on a small corpus"
        )
    fps = simhash64(df, text_col, id_col, token_hash=token_hash, bits=bits)

    def chunk_col(off: int, w: int) -> Column:
        shifted = F.shiftrightunsigned("simhash", off)
        if w >= 64:  # whole-fingerprint chunk: (1<<64)-1 overflows a long
            return shifted
        return shifted.bitwiseAND(F.lit((1 << w) - 1))

    chunks = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        chunk_col(off, w).alias("chunk"),
                    )
                    for c, (off, w) in enumerate(_chunk_bounds(bits, n_chunks))
                ]
            )
        ).alias("cc"),
    ).select("id", "simhash", "cc.chunk_idx", "cc.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .distinct()
    )
    # long hamming: cross-engine dtype parity (DuckDB bit_count is TINYINT)
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicate_spans(
    df: DataFrame,
    L: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN detection (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — the OVERLAPPING-window complement of
    :func:`chunk_dedup`'s disjoint chunks): every L-token window that
    also occurs EARLIER in the corpus (earlier = smaller (doc_id, pos),
    the global first occurrence is kept) marks its tokens as duplicated;
    output is the per-doc union of marked windows as maximal intervals —
    (doc_id, tok_start, tok_end), 1-based inclusive token positions.
    Downstream removal = drop those slices (or the doc, if mostly
    covered).

    Scale design:
    - gram derivation is a guarded pure-Column projection (docs shorter
      than L emit an EMPTY array — sequence(1, m-L+1) with m < L is
      DESCENDING, the winnowing trap); the gram array materializes in
      its own projection before posexplode.
    - first-occurrence is the same ARG-MIN AGGREGATE as chunk_dedup
      (groupBy(gram md5).agg(min(struct(id, pos)))): map-side combine
      absorbs boilerplate grams repeated 10^9 times — never a window
      over the hash.
    - the duplicate test joins grams back to the 1-row-per-hash winners
      (both sides keyed by the hash; AQE skew-split applies to hot
      grams); the shuffle carries (md5, id, pos), never text.
    - interval union is the sessionize pattern: lag + running sum over
      (doc, pos) with break at pos > prev + L (same-length intervals:
      merged end = last start + L - 1, so adjacency = prev + L), and
      the final groupBy EXTENDS the window's partition key — one
      doc-keyed exchange for flag + counter + aggregation.
    """
    df = ensure_scan_parallelism(df, id_col)
    words = _tokens(F.coalesce(F.col(text_col), F.lit("")))
    tokd = df.select(F.col(id_col), words.alias("__w"))
    w = F.col("__w")
    m = F.size(w)
    gram_arr = F.when(
        m >= F.lit(L),
        F.transform(
            F.sequence(F.lit(1), m - F.lit(L - 1)),
            lambda i: F.md5(F.array_join(F.slice(w, i, L), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = tokd.select(F.col(id_col), F.posexplode(gram_arr).alias("__p0", "__h")).select(
        F.col(id_col), (F.col("__p0") + 1).cast("long").alias("pos"), "__h"
    )
    firsts = (
        grams.groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__f"))
        .select(
            "__h",
            F.col(f"__f.{id_col}").alias("__d0"),
            F.col("__f.pos").alias("__p1"),
        )
    )
    dups = (
        grams.join(firsts, "__h")
        .filter(
            ~((F.col(id_col) == F.col("__d0")) & (F.col("pos") == F.col("__p1")))
        )
        .select(F.col(id_col), "pos")
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(win)
    is_new = F.when(
        prev.isNull() | (F.col("pos") > prev + F.lit(L)), F.lit(1)
    ).otherwise(F.lit(0))
    flagged = dups.select(F.col(id_col), "pos", is_new.alias("__new"))
    spans = flagged.select(
        F.col(id_col),
        "pos",
        F.sum("__new")
        .over(win.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__sid"),
    )
    return spans.groupBy(id_col, "__sid").agg(
        F.min("pos").cast("long").alias("tok_start"),
        (F.max("pos") + F.lit(L - 1)).cast("long").alias("tok_end"),
    ).drop("__sid")
