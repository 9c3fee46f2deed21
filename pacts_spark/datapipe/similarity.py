"""Similarity search over an embedding column (array<float>).

Every kernel here is a block-nested-loop over ONE grid router,
:func:`_block_grid`, scored by ONE block scorer per output shape:
:func:`_block_topk` (per-query partial top-k) and :func:`_score_pairs`
(thresholded id_a < id_b pairs); :func:`pq_topk` keeps its integer ADC
scorer on the same router. Each block is one BLAS matmul inside
applyInPandas.

The router takes rows ``(keys…, id, v, side)``, side ``q`` (query),
``c`` (candidate) or ``b`` (both), and tiles every key group into
``n_rows x n_cols`` blocks: ``n_rows = ceil(queries / B)`` and
``n_cols = ceil(candidates / B)``, a ``b`` row counting on both sides,
with B = ``BLOCK_ROWS`` for a keyed grid and ``UNKEYED_BLOCK_ROWS`` for
the unkeyed one:

- a cold group (one block) is the ``(0, 0)`` block and each row keeps
  its side — a ``b`` row ships once;
- otherwise a ``q`` row goes to its hash row in every column, a ``c``
  row to every row at its hash column, and a ``b`` row does both, so
  every (query, candidate) pair meets in exactly one block, a block
  scores at most about B x B pairs whatever the corpus size or skew,
  and a small query side against a large candidate side
  (decontamination) ships its queries n_cols times but its candidates
  only n_rows times.

The counts always come from the data, never from a caller's knob. The
keyed grids (IVF cell, LSH band bucket, ivf_topk's ``block_col``) count
their group with a window whose hash partitioning the scoring groupBy
extends, so sizing and scoring ride one exchange. The unkeyed exact
grid (cosine_topk, cosine_pairs, pq_topk) cross-joins a broadcast
one-row count onto the rows (a BroadcastNestedLoopJoin, never a
CartesianProduct), so plan build stays action-free when ``dim`` is
passed; that count is one more job over the input on every call.
Top-k partials merge in a global window — exact, because the global
top-k is a subset of the union of per-block top-ks.

- :func:`cosine_topk` / :func:`cosine_pairs` — EXACT brute force on the
  unkeyed grid: O(N²) compute spread over (N / UNKEYED_BLOCK_ROWS)²
  blocks, no driver-side collect.

- :func:`ivf_topk` — exact top-k within caller-provided cells.

- :func:`ivf_quantized_topk` — the full FAISS-IVF shape: deterministic
  hash-ranked seed centroids (distributed top-K, n_cells rows to the
  driver), broadcast centroid matrix, one mapInPandas assignment pass
  (argmax cell as candidate, top-nprobe cells as query), cell-keyed
  grid. SQL-reproducible end to end.

- :func:`lsh_ann_topk` / :func:`lsh_cosine_near_pairs` — random-hyperplane
  LSH (signed projections → bit signature → band buckets): vectors ride
  the band explode once (shuffle = bands x corpus, a predictable bound)
  into the (band, bucket)-keyed grid — candidate pairs never materialize
  with vectors attached. Hyperplanes come from a seeded RNG on the
  driver and ship as literals — deterministic, no RNG on executors.

- :func:`pq_topk` — product quantization: candidates ship as codes.

Rank determinism note: the top-k operators ORDER by raw double sims
(id tie-break applies only on exact equality), so two candidates that
tie mathematically but are summed in different orders by BLAS vs the
DuckDB twin can swap ranks by one ulp — a documented hazard, bounded to
exact mathematical ties. THRESHOLD membership is decided on the
rounded-to-6 value in both engines — this relocates the knife edge
from the threshold itself to the far rarer x.xxxxx5 rounding boundary
(shrinks, not eliminates, the exposure). For rank-critical or
boundary-critical workloads use the integer-exact operators (pq_topk,
kmeans_assign), which have no float anywhere.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pacts_spark.session import local_frame


VECTOR_MAX_ABS = 100.0  # element bound shared with vector_column_stats
# grid router: most queries (and candidates) per block, measured in
# BENCH/GRID_BLOCK.md. A keyed grid has many groups to spread over tasks,
# so it tiles only a group too big for one task's memory; the unkeyed
# grid is ONE group, which it must cut into many blocks to balance tasks.
BLOCK_ROWS = 4096
UNKEYED_BLOCK_ROWS = 1024


def healthy_element(x, max_abs: float = VECTOR_MAX_ABS):
    """ONE comparison per element: NULL, NaN and ±Inf all FAIL
    ``abs(x) <= max_abs`` (IEEE NaN comparisons are false in Spark;
    DuckDB orders NaN greater than everything — same verdict), so the
    expanded isnan/isinf OR-chain is redundant and its larger expression
    tree costs measurable fixed Catalyst/codegen time. Single source for
    the rule the gate, vector_column_stats, centroid drift and every SQL
    twin state."""
    return x.isNotNull() & (F.abs(x.cast("double")) <= F.lit(float(max_abs)))


def infer_dim(df: DataFrame, vec_col: str = "embedding") -> int | None:
    """Corpus MODE of vector sizes (ties to the smaller — deterministic,
    twin-replayable) via one bounded driver aggregate (#distinct sizes
    rows reach the driver). Returns None on an empty / all-NULL corpus.
    Shared by :func:`healthy_vectors` and every caller that must agree
    with it on the inferred dim (a second independent inference could
    pick a different mode and crash a cross-frame matmul)."""
    sizes = (
        df.filter(F.col(vec_col).isNotNull())
        .groupBy(F.size(F.col(vec_col)).alias("d"))
        .count()
        .orderBy(F.desc("count"), F.asc("d"))
        .limit(1)
        .collect()
    )
    return int(sizes[0]["d"]) if sizes else None


def healthy_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    max_abs: float = VECTOR_MAX_ABS,
) -> DataFrame:
    """Drop vectors no similarity/clustering kernel can score: NULL
    vectors, RAGGED vectors (size != ``dim``), and vectors containing a
    NULL / NaN / ±Inf / ``|x| > max_abs`` element. The vector analogue
    of the round-4 NULL-text rule in minhash/simhash: filter at the
    SOURCE, inside the operator, so one poisoned row degrades one row —
    unfiltered, a single ragged list crashes the numpy batch build of a
    whole Arrow partition, one NaN zeroes an entire matmul, and a 1e30
    element overflows the integer-micro casts (poisoned-fixture
    regression). Counting/flagging these rows is
    ``checks.stats.vector_column_stats``' job; kernels get the healthy
    population. The DuckDB oracle twins state the SAME predicate.

    ``dim=None`` infers the corpus MODE of vector sizes (ties to the
    smaller — deterministic, twin-replayable) with one bounded driver
    aggregate (#distinct sizes rows); pass ``dim`` where the caller
    already knows it to keep plan build action-free."""
    v = F.col(vec_col)
    if dim is None:
        dim = infer_dim(df, vec_col)
        if dim is None:
            return df.filter(F.lit(False))
    # DEAD (all-zero) vectors are unhealthy too: cosine over a zero
    # vector is a cross-engine CONVENTION (DuckDB list_cosine_similarity
    # says -1.0, the engine's zero-norm guard says 0.0 — probed), so no
    # kernel verdict over one can be twin-replayable; counting them is
    # vector_column_stats' n_zero job.
    good_el = lambda x: healthy_element(x, max_abs)  # noqa: E731
    nonzero_el = lambda x: F.abs(x.cast("double")) > F.lit(0.0)  # noqa: E731
    return df.filter(
        v.isNotNull()
        & (F.size(v) == F.lit(int(dim)))
        & F.forall(v, good_el)
        & F.exists(v, nonzero_el)
    )


def _safe_rows(M):
    """Row-normalize with a ZERO-NORM guard: an all-zero vector keeps
    norm 1, so its sims are exactly 0.0 instead of NaN — NaN sorts LAST
    in numpy lexsort but FIRST under ORDER BY sim DESC, so one zero
    vector would otherwise take rank 1 for every query in the twins.
    This is an ENGINE-robustness guard, not a parity claim: zero
    vectors are INVALID input (vector_column_stats flags them as
    n_zero), and for them the engine's 0.0 differs from DuckDB's
    list_cosine_similarity convention (-1.0) — below any negative-sim
    candidate rather than between signs. Filter zero vectors upstream
    when the corpus can contain them."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    return M / np.where(n == 0.0, 1.0, n)


def _dot(a, b):
    # cast elements BEFORE multiplying: float32*float32 then cast loses
    # precision vs double math and breaks cross-engine argmax parity
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sides(
    df: DataFrame, id_col: str, vec_col: str, side: str, *keys: str
) -> DataFrame:
    """Grid router input rows ``(keys…, id, v, side)``."""
    return df.select(
        *keys,
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.lit(side).alias("side"),
    )


def _block_grid(
    rows: DataFrame, keys: list[str], counted: DataFrame | None = None
) -> DataFrame:
    """The one grid router (module docstring): ``rows`` carry
    ``(keys…, id, v, side)``; returns ``(keys…, gq, gc, id, v, side)``,
    every (query, candidate) pair of a key group in exactly one
    ``(keys…, gq, gc)`` block.

    Sizing is single-pass: window counts over the keys (a size JOIN
    recomputed the LSH signature projection 4x), whose hash partitioning
    the scoring groupBy extends, so routing and scoring ride one
    exchange. Without keys the counts are one row broadcast onto every
    row (a BroadcastNestedLoopJoin), so plan build runs no job;
    ``counted`` (one row per vector that is both query and candidate)
    stands in for ``rows`` there when counting ``rows`` would rerun an
    upstream pass."""
    side = F.col("side")
    counts = {  # a 'b' row is both
        "n_q": F.count(F.when(side != "c", 1)),
        "n_c": F.count(F.when(side != "q", 1)),
    }
    if keys:
        w = Window.partitionBy(*keys)
        sized = rows.select("*", *(c.over(w).alias(n) for n, c in counts.items()))
    else:
        src = rows if counted is None else counted.select(F.lit("b").alias("side"))
        one = src.agg(*(c.alias(n) for n, c in counts.items()))
        sized = rows.crossJoin(F.broadcast(one))

    per_block = F.lit(BLOCK_ROWS if keys else UNKEYED_BLOCK_ROWS)

    def tiles(n):
        # >= 1: a group with no queries (or no candidates) is one row
        return F.greatest(F.ceil(F.col(n) / per_block), F.lit(1)).cast("int")

    n_rows, n_cols = tiles("n_q"), tiles("n_c")
    h = F.xxhash64("id")

    def block(gq, gc, side):
        return F.struct(
            gq.cast("int").alias("gq"), gc.cast("int").alias("gc"), side.alias("side")
        )

    as_query = F.transform(
        F.sequence(F.lit(0), n_cols - 1),
        lambda gc: block(F.pmod(h, n_rows), gc, F.lit("q")),
    )
    as_cand = F.transform(
        F.sequence(F.lit(0), n_rows - 1),
        lambda gq: block(gq, F.pmod(h, n_cols), F.lit("c")),
    )
    assigns = (
        F.when((n_rows == 1) & (n_cols == 1), F.array(block(F.lit(0), F.lit(0), side)))
        .when(side == "q", as_query)
        .when(side == "c", as_cand)
        .otherwise(F.concat(as_query, as_cand))
    )
    return sized.select(*keys, "id", "v", F.explode(assigns).alias("a")).select(
        *keys, "a.gq", "a.gc", "id", "v", "a.side"
    )


def _score(
    rows: DataFrame,
    keys: list[str],
    scorer,
    schema: str,
    counted: DataFrame | None = None,
) -> DataFrame:
    """Route ``rows`` through the grid; ``scorer`` runs once per block."""
    return (
        _block_grid(rows, keys, counted)
        .groupBy(*keys, "gq", "gc")
        .applyInPandas(scorer, schema)
    )


def _split(pdf: pd.DataFrame):
    """A block's (queries, candidates); a 'b' row is both."""
    side = pdf["side"]
    return pdf[side != "c"], pdf[side != "q"]


def _unit_rows(vs):
    return _safe_rows(np.array([np.asarray(v, dtype=np.float64) for v in vs]))


def _topk_rows(key, qids, cids, k: int):
    """Row/column indices of every query's ``k`` best candidates: ``key``
    ascending, ties to the smaller candidate id; a candidate with the
    query's own id is never one (self is masked by id EQUALITY, so a
    vec_id that occurs twice is not its own neighbour).

    A per-row ``np.partition`` finds each row's k-th smallest non-self
    key; only the candidates not above it (every tie at the k-th key
    included) are sorted, not the whole block."""
    not_self = qids[:, None] != cids[None, :]
    if 0 < k < key.shape[1]:
        top = np.inf if key.dtype.kind == "f" else np.iinfo(key.dtype).max
        kth = np.partition(np.where(not_self, key, top), k - 1, axis=1)[:, k - 1 : k]
        # ``~(>)``, not ``<=``: a NaN key or k-th key keeps the candidate
        not_self &= ~(key > kth)
    ii, jj = np.nonzero(not_self)
    order = np.lexsort((cids[jj], key[ii, jj], ii))
    ii, jj = ii[order], jj[order]
    # rank within the row: position minus the row's first position
    keep = np.arange(len(ii)) - np.searchsorted(ii, ii) < k
    return ii[keep].astype(np.int64), jj[keep].astype(np.int64)


def _block_topk(k: int):
    """Top-k block scorer: each query's partial top-k by cosine in one
    block, ``(vec_id, nn_id, sim)``."""

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        q, c = _split(pdf)
        if q.empty or c.empty:
            return pd.DataFrame({"vec_id": [], "nn_id": [], "sim": []})
        qids, cids = q["id"].to_numpy(), c["id"].to_numpy()
        S = _unit_rows(q["v"]) @ _unit_rows(c["v"]).T
        ii, jj = _topk_rows(-S, qids, cids, k)
        return pd.DataFrame({"vec_id": qids[ii], "nn_id": cids[jj], "sim": S[ii, jj]})

    return score


_TOPK_SCHEMA = "vec_id long, nn_id long, sim double"


def _rank(partials: DataFrame, k: int) -> DataFrame:
    """Global top-k over the per-block partials: exact, because the global
    top-k is a subset of the union of per-block top-ks. Higher sim first,
    then smaller neighbour id."""
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("nn_id").asc())
    return partials.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _dedup_pairs(partials: DataFrame) -> DataFrame:
    # a pair can surface in several key groups (LSH bands) — sims are equal
    return partials.groupBy("vec_id", "nn_id").agg(F.max("sim").alias("sim"))


def _score_pairs(rows: DataFrame, keys: list[str], threshold: float) -> DataFrame:
    """Pairs block scorer over the grid: every (id_a < id_b) pair of a
    block with cosine >= ``threshold``, rounded engine-side."""
    thr = float(threshold)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        q, c = _split(pdf)
        if q.empty or c.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        qids, cids = q["id"].to_numpy(), c["id"].to_numpy()
        S = _unit_rows(q["v"]) @ _unit_rows(c["v"]).T
        # orient a < b: keeps exactly one of a pair's two (q, c) meetings,
        # in a 'b' block and across a hot group's blocks alike. 1e-6
        # margin: MEMBERSHIP is decided on the ROUNDED value below —
        # thresholding the raw numpy sim would let ulp differences between
        # BLAS and DuckDB summation flip boundary pairs between engines
        ii, jj = np.nonzero((S >= thr - 1e-6) & (cids[None, :] > qids[:, None]))
        return pd.DataFrame({"id_a": qids[ii], "id_b": cids[jj], "cosine": S[ii, jj]})

    # round ENGINE-side (F.round = HALF_UP, matching DuckDB round; Python
    # round() is banker's), then threshold the rounded value
    return (
        _score(rows, keys, score, "id_a long, id_b long, cosine double")
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(thr))
    )


def cosine_topk(
    df: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector: (vec_id, nn_id, rank, cosine).

    The unkeyed grid (module docstring): per-block partial top-k, one
    matmul per block, then a global window merges the partials.
    Deterministic tie-break: higher sim first, then smaller neighbor id.
    """
    # healthy-vector source rule (see healthy_vectors): one ragged/NaN
    # row must degrade one row, not crash a whole Arrow batch's matmul.
    # Pass dim to keep plan build action-free (else one mode-inference
    # job). With a separate candidates frame the dim is inferred ONCE
    # from the query side and reused — independent mode inference could
    # pick different dims and crash the cross-frame matmul. dim=-1 when
    # the query side has no vectors: size never matches, both frames
    # gate to empty with zero further jobs.
    if dim is None and candidates is not None:
        dim = infer_dim(df, vec_col)
        if dim is None:
            dim = -1
    df = healthy_vectors(df, vec_col, dim=dim)
    if candidates is None:
        rows = _sides(df, id_col, vec_col, "b")
    else:
        cand = healthy_vectors(candidates, vec_col, dim=dim)
        rows = _sides(df, id_col, vec_col, "q").unionByName(
            _sides(cand, id_col, vec_col, "c")
        )
    partials = _score(rows, [], _block_topk(k), _TOPK_SCHEMA)
    return _rank(partials, k).select(
        "vec_id", "nn_id", "rank", F.round("sim", 6).alias("cosine")
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — the exact
    near-duplicate detector over embeddings on the unkeyed grid (module
    docstring). Each pair surfaces exactly once: in the one block where
    a's query row meets b's candidate row."""
    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    return _score_pairs(_sides(df, id_col, vec_col, "b"), [], threshold)


def ivf_topk(
    df: DataFrame,
    block_col: str,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-style exact top-k WITHIN coarse cells: candidates are restricted
    to rows sharing ``block_col`` (a cluster/label id). The scale shape of
    ANN: the grid keyed by the cell id, so no cross-cell pair ever
    materializes and a hot cell is tiled like any other key group.
    Deterministic tie-break (sim desc, id asc)."""
    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    # a NULL cell id is NOT a cell: Spark's groupBy would score pairs
    # inside the NULL-key group while the twin's equality join (and any
    # SQL consumer) drops them — unassigned rows get no neighbors
    df = df.filter(F.col(block_col).isNotNull())
    topk = _block_topk(k)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        return topk(pdf).assign(**{block_col: pdf[block_col].iloc[0]})

    partials = _score(
        _sides(df, id_col, vec_col, "b", block_col),
        [block_col],
        per_block,
        f"{_TOPK_SCHEMA}, {block_col} int",
    )
    # engine-side HALF-UP rounding (see _score_pairs)
    return _rank(partials, k).select(
        "vec_id", "nn_id", "rank", F.round("sim", 6).alias("cosine"), block_col
    )


def ivf_quantized_topk(
    df: DataFrame,
    n_cells: int | None = 8,
    nprobe: int = 2,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF with a TRAINED coarse quantizer + multi-probe — the full FAISS-IVF
    shape (vs :func:`ivf_topk`, which trusts a caller-provided cell column).

    Quantizer: the ``n_cells`` corpus vectors with the smallest
    ``(md5(id), id)`` rank are the centroids — a deterministic,
    scale-independent hash sample (TakeOrderedAndProject: distributed
    top-K, only n_cells rows ever reach the driver), chosen over k-means
    so the whole algorithm is SQL-reproducible for the oracle while
    keeping the data-dependent-cells property. Cell ids are the 1-based
    hash rank.

    Assignment (one mapInPandas pass, centroids broadcast): every vector
    gets its argmax-cosine cell (tie → lowest cell id) as a candidate,
    and its top-``nprobe`` cells as a query — multi-probe recovers the
    recall lost at cell boundaries, the classic IVF trade.

    Search: the grid keyed by cell (per-query partial top-k, global
    window merge) — same scale shape as lsh_ann_topk; shuffle = corpus x
    (1 + nprobe) rows keyed by cell. Output is ids-only (vec_id, nn_id,
    rank): float sims stay out of the cross-engine hash surface
    (a repo-wide invariant).

    Scale guards:
    - ``n_cells=None`` derives ~sqrt(N) cells from a corpus count (FAISS's
      rule of thumb), so the default cell population is ~sqrt(N) instead
      of N/8 — pass an explicit n_cells when the oracle twin needs it.
    - A cell above ``BLOCK_ROWS`` rows is tiled by the grid router, so a
      skewed quantizer (or adversarially clustered corpus) never
      materializes one O(cell²) pandas task.
    """
    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    if n_cells is None:
        # one count job; at corpus scale this is a metadata-cheap aggregate
        n_cells = max(8, int(df.count() ** 0.5))
    seeds = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    if not seeds:
        # empty (or all-unhealthy) corpus: no quantizer can train — empty
        # output with the contract schema (np.array([]) is 1-D and the
        # assign matmul would raise AxisError; empty-fixture regression)
        return local_frame(df.sparkSession, "vec_id long, nn_id long, rank int")
    C = np.array([np.asarray(r[1], dtype=np.float64) for r in seeds])
    Cn = _safe_rows(C)
    bc = df.sparkSession.sparkContext.broadcast(Cn)
    npr = min(nprobe, len(seeds))

    def assign(batches):
        Cm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            S = _unit_rows(pdf["v"]) @ Cm.T
            # stable sort: tie -> lower cell id, matching the SQL twin's
            # ORDER BY sim DESC, cell ASC. Row emission is fully
            # vectorized — the original per-row .iloc/append loop cost
            # ~4 s per 5k-row batch in Python object churn alone.
            order = np.argsort(-S, axis=1, kind="stable")
            n = len(pdf)
            # per input row: 1 candidate at the argmax cell + npr probes
            cells = (np.concatenate([order[:, :1], order[:, :npr]], axis=1) + 1)
            idx = np.repeat(np.arange(n), 1 + npr)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy()[idx],
                    "v": pdf["v"].to_numpy()[idx],
                    "cell": cells.reshape(-1).astype("int32"),
                    "side": np.tile(np.array(["c"] + ["q"] * npr, dtype=object), n),
                }
            )

    # derive the vector element type from the input schema — hardcoding
    # array<float> silently downcasts array<double> callers and perturbs
    # cosines vs a DOUBLE-cast SQL twin
    vec_type = df.schema[vec_col].dataType.simpleString()
    routed = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(assign, f"id long, v {vec_type}, cell int, side string")
    partials = _score(routed, ["cell"], _block_topk(k), _TOPK_SCHEMA)
    return _rank(_dedup_pairs(partials), k).select("vec_id", "nn_id", "rank")


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _lsh_bands(
    df: DataFrame,
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared LSH routing: signature → band buckets, as grid router rows
    ``(band, bucket, id, v, side='b')`` keyed by (band, bucket).

    - ONE nested-array literal + transform for the hyperplanes instead of
      n_planes x dim individual F.lit columns (per-literal Py4J round
      trips + expression-tree size made plan build dominate: measured
      3.2 s at 16 planes x 64 dims);
    - vectors ride the band explode ONCE (shuffle = bands x corpus, a
      predictable bound) — a pair-join re-attach ships 2 vectors PER
      CANDIDATE PAIR (unbounded; measured ~800 MB at 2k vectors).
    """
    rows_per_band = n_planes // bands
    planes = _hyperplanes(dim, n_planes, seed)
    hlit = F.lit([[float(x) for x in p] for p in planes])
    sig = F.transform(
        hlit,
        lambda h: F.when(_dot(F.col(vec_col), h) >= 0, F.lit(1)).otherwise(F.lit(0)),
    )
    with_sig = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sig.alias("sig")
    )
    return with_sig.select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            "",
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("bb.band", "bb.bucket", "id", "v", F.lit("b").alias("side"))


def lsh_ann_topk(
    df: DataFrame,
    dim: int,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-hyperplane LSH.

    signature bit i = sign(v · h_i); band buckets of n_planes/bands bits;
    candidates share ≥1 band bucket; exact cosine re-rank inside candidates.
    Recall rises with bands (more, smaller bands → more candidates).

    Scale shape: BUCKET-LOCAL scoring (see module docstring) — one band
    explode carrying (id, v), the grid keyed by (band, bucket), per-query
    partial top-k out. A bucket above ``BLOCK_ROWS`` rows (skewed
    signatures, or n_planes too small for the corpus) is tiled by the
    router, so the hot-bucket O(bucket²) failure mode is structurally
    capped. Scale n_planes with corpus size regardless: the cap bounds
    the damage of a too-small keyspace, not its candidate volume.
    """
    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    banded = _lsh_bands(df, dim, n_planes, bands, seed, id_col, vec_col)
    partials = _score(banded, ["band", "bucket"], _block_topk(k), _TOPK_SCHEMA)
    return _rank(_dedup_pairs(partials), k).select(
        "vec_id", "nn_id", "rank", F.round("sim", 6).alias("cosine")
    )


def lsh_cosine_near_pairs(
    df: DataFrame,
    dim: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """SUB-QUADRATIC embedding near-duplicate pairs: all (id_a < id_b)
    with cosine >= threshold among pairs sharing >= 1 LSH band bucket —
    the scale path where :func:`cosine_pairs` (exact, O(N²)) cannot run.

    Same routing as :func:`lsh_ann_topk` (one band explode, the grid
    keyed by (band, bucket)); each block emits its thresholded pairs
    with the exact in-block cosine, oriented id_a < id_b so every pair
    surfaces once per covering band; a final (id_a, id_b) groupBy dedups
    across bands. Cosine is rounded to 6 BEFORE the dedup so ulp
    differences between block layouts cannot leak into the output
    (cross-engine invariant). A true near-pair is missed only if it
    shares no band: P(miss) = (1 - p^r)^b with p = 1 - theta/pi — at the
    defaults (r=2, b=8) that is <2% at cosine 0.4 and falls fast as
    similarity rises.
    """
    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    banded = _lsh_bands(df, dim, n_planes, bands, seed, id_col, vec_col)
    return (
        _score_pairs(banded, ["band", "bucket"], threshold)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )


def _int_sq_dist(a, b):
    """Integer squared L2 between two BIGINT micro arrays (exact — no
    float order anywhere)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_codes_np(Q, B, ds: int):
    """Per-row nearest codeword per subspace (numpy, int64 exact):
    argmin integer distance, ties to the LOWER code (np.argmin's
    first-occurrence rule == the kmeans_assign tie rule)."""
    codes = np.empty((Q.shape[0], len(B)), dtype=np.int64)
    for s, Bs in enumerate(B):
        Qs = Q[:, s * ds : (s + 1) * ds]
        D = ((Qs[:, None, :] - Bs[None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = D.argmin(axis=1)
    return codes


def pq_topk(
    df: DataFrame,
    k: int = 1,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) —
    deterministic and integer-exact end to end:

    - vectors quantize to BIGINT micros (round(x*1e6) — the repo's
      cross-engine number space);
    - the d-dim space splits into ``m`` subspaces of ds = d/m dims;
      each subspace trains a ``k_codes``-codeword codebook with ONE
      Lloyd round from hash-ranked seeds (ORDER BY md5(id), id — the
      corpus-seed idiom), integer micro centroids, round-half-away
      means, empty cells keep their seed (kmeans_assign's rules);
    - every vector encodes to ``m`` code indices (argmin integer
      distance, ties to the lower code) — the PQ "index";
    - queries score candidates ASYMMETRICALLY (exact query vs coded
      candidate): dist(q, x) = Σ_s |q_s − C_s[code_s(x)]|², computed
      per grid block from per-query LOOKUP TABLES D_s[j] = |q_s −
      C_s[j]|² (m int64 gathers per pair, not d multiplies). That sum
      equals |q − reconstruct(x)|², which is what the SQL twin
      replays via the integer dot-product identity;
    - the ADC top-``rerank`` shortlist per query is then RE-RANKED
      exactly (true integer vectors, id-equi joins) — the FAISS
      shortlist pattern. Measured on the fixture: recall@3 0.155
      ADC-only → ~0.77 with rerank=32 at m=8/k_codes=16.

    Scale story — this is the COMPRESSED-candidate grid: the block
    -nested-loop ships each candidate as (id, m BIGINT codes) instead
    of (id, d floats) — at m=8, d=64 that is 8× less candidate shuffle
    volume, and the per-task candidate block holds codes only (the
    codebooks ride the closure: m·k_codes·ds ints ~ KBs). Training is
    ``iters`` bounded aggregates (m·k_codes·d partial rows to the
    driver each); encoding is a pure projection. The re-rank tail
    touches only rerank·N id pairs (two hash joins on ids, no grid).
    Distances are integer micro² — hash-stable outputs with no float
    rounding at all.

    Returns (vec_id, nn_id, rank, d2) — d2 in integer micro²: the
    exact distance when ``rerank`` > 0, else the ADC distance.
    Accuracy: shortlist-miss only (see test_pq_topk_recall_vs_exact).
    """
    def _q(x):
        return F.round(x.cast("double") * F.lit(1_000_000.0)).cast("long")

    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    pts = df.select(F.col(id_col), F.transform(F.col(vec_col), _q).alias("__q"))
    # referenced by training, encoding and the query side of the grid —
    # materialize once (multi-reference recompute trap)
    pts = pts.localCheckpoint(eager=False)

    head = pts.select(F.size("__q").alias("n")).head()
    if head is None:
        return local_frame(
            df.sparkSession, "vec_id long, nn_id long, rank int, d2 long"
        )
    d = int(head["n"])
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    ds = d // m

    seeds = (
        pts.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(int(k_codes))
        .collect()
    )
    books = [
        [list(r["__q"])[s * ds : (s + 1) * ds] for r in seeds] for s in range(m)
    ]

    # ---- ``iters`` Lloyd rounds: ONE vectorized mapInPandas pass per
    # round emits per-batch PARTIAL (subspace, code, dim) sums — at most
    # m*k_codes*ds rows per Arrow batch regardless of batch size (vs the
    # N*d rows a posexplode would shuffle) — then a bounded groupBy+sum
    # lands m*k_codes*ds rows on the driver for the mean update. A
    # Column-tree argmin here would be a 128-struct codegen monster
    # Catalyst re-analyzes per round (measured 17 s fixed cost at 500
    # rows); the numpy argmin is exact integer math with the same
    # lower-code tie rule.
    from pacts_spark.datapipe.clusters import _round_half_away

    def _train_fn(B):
        def fn(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                Q = np.array([np.asarray(v, dtype=np.int64) for v in pdf["__q"]])
                codes = _pq_codes_np(Q, B, ds)
                col_s, col_c, col_p, col_sm, col_n = [], [], [], [], []
                for s in range(m):
                    Qs = Q[:, s * ds : (s + 1) * ds]
                    for j in np.unique(codes[:, s]):
                        mask = codes[:, s] == j
                        sm = Qs[mask].sum(axis=0)
                        n = int(mask.sum())
                        for t in range(ds):
                            col_s.append(s)
                            col_c.append(int(j))
                            col_p.append(s * ds + t)
                            col_sm.append(int(sm[t]))
                            col_n.append(n)
                yield pd.DataFrame(
                    {"s": col_s, "code": col_c, "pos": col_p, "sm": col_sm, "n": col_n}
                )

        return fn

    for _ in range(int(iters)):
        B = [np.asarray(books[s], dtype=np.int64) for s in range(m)]
        upd = (
            pts.mapInPandas(_train_fn(B), "s int, code long, pos int, sm long, n long")
            .groupBy("s", "code", "pos")
            .agg(F.sum("sm").alias("sm"), F.sum("n").alias("n"))
            .collect()
        )
        got: dict[tuple[int, int], dict[int, int]] = {}
        for r in upd:
            got.setdefault((int(r["s"]), int(r["code"])), {})[int(r["pos"])] = (
                _round_half_away(float(r["sm"]) / float(r["n"]))
            )
        for s in range(m):
            for j in range(len(books[s])):
                cell = got.get((s, j))
                if cell is not None:
                    books[s][j] = [cell[s * ds + t] for t in range(ds)]

    # ---- encode against the trained books (one vectorized Arrow pass)
    B_fin = [np.asarray(books[s], dtype=np.int64) for s in range(m)]

    def _encode_fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.array([np.asarray(v, dtype=np.int64) for v in pdf["__q"]])
            codes = _pq_codes_np(Q, B_fin, ds)
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(), "v": list(codes)})

    coded = pts.mapInPandas(_encode_fn, "id long, v array<bigint>")
    rows = _sides(pts, id_col, "__q", "q").unionByName(
        coded.withColumn("side", F.lit("c"))
    )
    # per-block partial must carry the whole shortlist so the global
    # ADC top-rerank (a subset of the union of per-block top-Rs) is
    # exact before the re-rank joins
    kk = max(int(k), int(rerank))

    def adc(pdf: pd.DataFrame) -> pd.DataFrame:
        q, c = _split(pdf)
        if q.empty or c.empty:
            return pd.DataFrame({"vec_id": [], "nn_id": [], "d2": []})
        qids, cids = q["id"].to_numpy(), c["id"].to_numpy()
        codes = np.array([np.asarray(v, dtype=np.int64) for v in c["v"]])
        Q = np.array([np.asarray(v, dtype=np.int64) for v in q["v"]])
        # per-query lookup tables, then m gathers per pair — all int64
        dist = np.zeros((len(qids), len(cids)), dtype=np.int64)
        for s in range(m):
            Qs = Q[:, s * ds : (s + 1) * ds]
            dist += ((Qs[:, None, :] - B_fin[s][None, :, :]) ** 2).sum(axis=2)[
                :, codes[:, s]
            ]
        ii, jj = _topk_rows(dist, qids, cids, kk)
        return pd.DataFrame({"vec_id": qids[ii], "nn_id": cids[jj], "d2": dist[ii, jj]})

    # size the grid from the checkpointed pts (one row per query and per
    # coded candidate): counting ``rows`` would run the encode pass twice
    partials = _score(rows, [], adc, "vec_id long, nn_id long, d2 long", pts)
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("nn_id").asc())
    if int(rerank) <= 0:
        return (
            partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "nn_id", "rank", "d2")
        )
    # exact re-rank of the ADC shortlist: ids-only window cut, then two
    # id-equi joins pull the TRUE integer vectors back (rerank·N rows)
    short = (
        partials.withColumn("arn", F.row_number().over(w))
        .filter(F.col("arn") <= int(rerank))
        .select("vec_id", "nn_id")
    )
    qa = pts.select(F.col(id_col).alias("vec_id"), F.col("__q").alias("__qa"))
    qb = pts.select(F.col(id_col).alias("nn_id"), F.col("__q").alias("__qb"))
    exact = (
        short.join(qa, "vec_id")
        .join(qb, "nn_id")
        .select(
            "vec_id",
            "nn_id",
            _int_sq_dist(F.col("__qa"), F.col("__qb")).alias("d2"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "nn_id", "rank", "d2")
    )


def pq_oracle_sql(
    k: int = 1,
    m: int = 8,
    k_codes: int = 16,
    d: int = 64,
    iters: int = 2,
    rerank: int = 32,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pq_topk`, generated from the same params.
    Uses the reconstruction identity: the ADC distance equals
    |q − concat_s C_s[code_s(x)]|², so the twin decodes each candidate
    to its reconstructed integer vector and replays ONE integer
    dot-product distance. VALIDITY BOUND: DuckDB's list_dot_product
    evaluates in DOUBLE, exact only while q·q < 2^53 — i.e. element
    magnitudes |x| ≲ 11 at d=64 (unit-scale embeddings are far inside).
    The Spark operator itself is exact BIGINT at any magnitude; only
    the oracle replay carries this bound (same bound in
    kmeans_oracle_sql).
    ``iters`` Lloyd rounds unroll as chained CTEs (the kmeans twin
    idiom); the exact re-rank replays as a shortlist window cut + two
    id joins against the true integer vectors."""
    assert d % m == 0
    ds = d // m

    def idist(a: str, b: str) -> str:
        return (
            f"CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}) AS BIGINT)"
        )

    parts = [
        f"""WITH q AS (
  SELECT {id_col},
         list_transform({vec_col},
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM {table}
),
seeds AS (
  SELECT q, row_number() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1 AS code
  FROM q ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {int(k_codes)}
)"""
    ]
    for s in range(m):
        lo, hi = s * ds + 1, (s + 1) * ds
        sub = f"q[{lo}:{hi}]"
        parts.append(f",\nc0_{s} AS (SELECT code, {sub} AS c FROM seeds)")
        for i in range(int(iters)):
            parts.append(
                f""",
a{i}_{s} AS (
  SELECT {id_col}, sub, code FROM (
    SELECT p.{id_col}, p.{sub} AS sub, c.code,
           row_number() OVER (PARTITION BY p.{id_col}
                              ORDER BY {idist(f'p.{sub}', 'c.c')}, c.code) AS rn
    FROM q p CROSS JOIN c{i}_{s} c
  ) WHERE rn = 1
),
u{i}_{s} AS (
  SELECT code, r.i,
         CAST(round(CAST(sum(sub[CAST(r.i AS INT)]) AS DOUBLE) / count(*)) AS BIGINT) AS v
  FROM a{i}_{s}, range(1, {ds + 1}) r(i) GROUP BY code, r.i
),
c{i + 1}_{s} AS (
  SELECT p.code, coalesce(u.c, p.c) AS c
  FROM c{i}_{s} p
  LEFT JOIN (SELECT code, list(v ORDER BY i) AS c FROM u{i}_{s} GROUP BY code) u
    USING (code)
)"""
            )
        parts.append(
            f""",
e_{s} AS (
  SELECT {id_col}, code AS code_{s} FROM (
    SELECT p.{id_col}, c.code,
           row_number() OVER (PARTITION BY p.{id_col}
                              ORDER BY {idist(f'p.{sub}', 'c.c')}, c.code) AS rn
    FROM q p CROSS JOIN c{int(iters)}_{s} c
  ) WHERE rn = 1
)"""
        )
    joins = " ".join(f"JOIN e_{s} USING ({id_col})" for s in range(1, m))
    bjoins = " ".join(
        f"JOIN c{int(iters)}_{s} b{s} ON e_{s}.code_{s} = b{s}.code" for s in range(m)
    )
    concat = " || ".join(f"b{s}.c" for s in range(m))
    parts.append(
        f""",
recon AS (
  SELECT e_0.{id_col}, {concat} AS r
  FROM e_0 {joins} {bjoins}
),
pairs AS (
  SELECT p.{id_col} AS vec_id, r.{id_col} AS nn_id,
         {idist('p.q', 'r.r')} AS adc_d2
  FROM q p CROSS JOIN recon r WHERE p.{id_col} <> r.{id_col}
)"""
    )
    if int(rerank) <= 0:
        parts.append(
            f"""
SELECT vec_id, nn_id, CAST(rank AS INT) AS rank, adc_d2 AS d2 FROM (
  SELECT vec_id, nn_id, adc_d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY adc_d2, nn_id) AS rank
  FROM pairs
) WHERE rank <= {int(k)}"""
        )
        return "".join(parts)
    parts.append(
        f""",
short AS (
  SELECT vec_id, nn_id FROM (
    SELECT vec_id, nn_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY adc_d2, nn_id) AS arn
    FROM pairs
  ) WHERE arn <= {int(rerank)}
),
ex AS (
  SELECT s.vec_id, s.nn_id, {idist('qa.q', 'qb.q')} AS d2
  FROM short s
  JOIN q qa ON qa.{id_col} = s.vec_id
  JOIN q qb ON qb.{id_col} = s.nn_id
)
SELECT vec_id, nn_id, CAST(rank AS INT) AS rank, d2 FROM (
  SELECT vec_id, nn_id, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, nn_id) AS rank
  FROM ex
) WHERE rank <= {int(k)}"""
    )
    return "".join(parts)
