"""Similarity search over an embedding column (array<float>).

- :func:`cosine_topk` / :func:`cosine_pairs` — EXACT brute force, but
  distributed as a GRID block-nested-loop: the (query x candidate)
  plane is tiled into ``n_query_chunks x n_chunks`` hash blocks, and
  each block group does ONE BLAS matmul inside applyInPandas. No
  driver-side collect anywhere; BOTH sides of a block are bounded
  (|C|/n_chunks candidates AND |Q|/n_query_chunks queries per task), so
  executor memory is controlled by choosing each chunk count ~
  side_bytes / executor_mem at scale. Shuffle volume = candidates x
  n_query_chunks + queries x n_chunks. Partial top-k per block, global
  top-k via a window — exact results, O(N^2) compute spread over the
  cluster.

- :func:`ivf_topk` — IVF cells: shuffle once on the cell id, dense
  matmul per cell; the sub-quadratic ANN shape.

- :func:`ivf_quantized_topk` — the full FAISS-IVF shape: deterministic
  hash-ranked seed centroids (distributed top-K, n_cells rows to the
  driver), broadcast centroid matrix, one mapInPandas assignment pass
  (argmax cell as candidate, top-nprobe cells as query), cell-local
  scoring. SQL-reproducible end to end.

- :func:`lsh_cosine_near_pairs` — sub-quadratic near-duplicate PAIRS
  (the scale path where exact :func:`cosine_pairs` cannot run): same
  band-bucket routing as lsh_ann_topk, thresholded exact in-bucket
  cosine, id_a < id_b orientation + cross-band dedup.

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

- :func:`lsh_ann_topk` — random-hyperplane LSH (signed projections →
  bit signature → band buckets) with BUCKET-LOCAL scoring: vectors
  ride the band explode once (shuffle = bands x corpus, a predictable
  bound) into a groupBy(band, bucket) dense matmul emitting per-query
  partial top-k — candidate pairs never materialize with vectors
  attached. Buckets above ``max_bucket`` rows are split into a
  sub-grid (the cosine_topk tiling) so a skewed signature never
  becomes one O(bucket²) task. Hyperplanes come from a seeded RNG on
  the driver and ship as literals — deterministic, no RNG on executors.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


VECTOR_MAX_ABS = 100.0  # element bound shared with vector_column_stats


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
    import numpy as np

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


def _chunked_union(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    n_chunks: int,
    n_query_chunks: int = 1,
) -> DataFrame:
    """Union frame for the GRID block-nested-loop: the (query x candidate)
    plane is tiled into ``n_query_chunks x n_chunks`` blocks. A candidate
    hashes into ONE c-chunk and replicates across q-chunks; a query hashes
    into ONE q-chunk and replicates across c-chunks; the group key is
    ``q_chunk * n_chunks + c_chunk``. Every (query, candidate) pair meets
    in exactly one block, and each block holds ~|C|/n_chunks candidates
    AND ~|Q|/n_query_chunks queries — both sides of the per-task matmul
    are bounded (n_query_chunks=1 keeps the query side whole, fine when
    the query set is small; raise it when queries ARE the corpus)."""
    cand = candidates.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_query_chunks - 1))).alias("qc"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)).cast("int").alias("cc"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.lit("c").alias("side"),
    )
    qry = queries.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_query_chunks))
        .cast("int")
        .alias("qc"),
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("cc"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.lit("q").alias("side"),
    )
    return cand.unionByName(qry).select(
        (F.col("qc") * n_chunks + F.col("cc")).alias("chunk"), "id", "v", "side"
    )


def cosine_topk(
    df: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    n_chunks: int = 8,
    n_query_chunks: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector: (vec_id, nn_id, rank, cosine).

    Distributed grid block-nested-loop (module docstring): per-block
    partial top-k inside applyInPandas (one matmul per block), then a
    global window merges the partials. Exact because the global top-k
    is a subset of the union of per-block top-ks. Deterministic
    tie-break: higher sim first, then smaller neighbor id.
    """
    import numpy as np
    import pandas as pd

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
    cand = (
        healthy_vectors(candidates, vec_col, dim=dim)
        if candidates is not None
        else df
    )
    union = _chunked_union(df, cand, id_col, vec_col, n_chunks, n_query_chunks)
    kk = k

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf[pdf["side"] == "c"]
        q = pdf[pdf["side"] == "q"]
        if c.empty or q.empty:
            return pd.DataFrame({"vec_id": [], "nn_id": [], "sim": []})
        cand_ids = c["id"].to_numpy()
        M = np.array([np.asarray(v, dtype=np.float64) for v in c["v"]])
        Mn = _safe_rows(M)
        Q = np.array([np.asarray(v, dtype=np.float64) for v in q["v"]])
        Qn = _safe_rows(Q)
        S = Qn @ Mn.T
        qids = q["id"].to_numpy()
        S[qids[:, None] == cand_ids[None, :]] = -np.inf
        out_q, out_n, out_s = [], [], []
        for i in range(S.shape[0]):
            order = np.lexsort((cand_ids, -S[i]))[:kk]
            for j in order:
                if S[i, j] == -np.inf:
                    continue
                out_q.append(qids[i])
                out_n.append(cand_ids[j])
                out_s.append(float(S[i, j]))
        return pd.DataFrame({"vec_id": out_q, "nn_id": out_n, "sim": out_s})

    partials = union.groupBy("chunk").applyInPandas(
        partial, "vec_id long, nn_id long, sim double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("nn_id").asc())
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "nn_id", "rank", F.round("sim", 6).alias("cosine"))
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_chunks: int = 8,
    n_query_chunks: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — the exact
    near-duplicate detector over embeddings, distributed (module
    docstring). Each pair (a, b) with a < b is emitted exactly once: in
    the grid block owning (query a's q-chunk, candidate b's c-chunk).
    Both sides here are the full corpus, so at scale raise
    ``n_query_chunks`` alongside ``n_chunks`` — per-task memory is
    |corpus|/n_query_chunks + |corpus|/n_chunks rows."""
    import numpy as np
    import pandas as pd

    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    union = _chunked_union(df, df, id_col, vec_col, n_chunks, n_query_chunks)
    thr = threshold

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf[pdf["side"] == "c"]
        q = pdf[pdf["side"] == "q"]
        if c.empty or q.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        cand_ids = c["id"].to_numpy()
        M = np.array([np.asarray(v, dtype=np.float64) for v in c["v"]])
        Mn = _safe_rows(M)
        Q = np.array([np.asarray(v, dtype=np.float64) for v in q["v"]])
        Qn = _safe_rows(Q)
        S = Qn @ Mn.T
        qids = q["id"].to_numpy()
        out_a, out_b, out_s = [], [], []
        for i in range(S.shape[0]):
            # 1e-6 margin: the MEMBERSHIP decision happens on the
            # ROUNDED value engine-side below — thresholding the raw
            # numpy sim here would let ulp differences between BLAS and
            # DuckDB summation flip boundary pairs between engines
            hits = np.nonzero((S[i] >= thr - 1e-6) & (cand_ids > qids[i]))[0]
            for j in hits:
                out_a.append(qids[i])
                out_b.append(cand_ids[j])
                out_s.append(float(S[i, j]))
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_s})

    # round ENGINE-side (F.round = HALF_UP, matching DuckDB round) — Python
    # round() inside the UDF is banker's rounding, a parity hazard at ties
    return (
        union.groupBy("chunk")
        .applyInPandas(partial, "id_a long, id_b long, cosine double")
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


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
    ANN: shuffle once on the cell id, then each cell is an independent
    dense matmul inside applyInPandas — no cross-cell pairs ever
    materialize. Deterministic tie-break (sim desc, id asc)."""
    import numpy as np
    import pandas as pd

    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    # a NULL cell id is NOT a cell: Spark's groupBy would score pairs
    # inside the NULL-key group while the twin's equality join (and any
    # SQL consumer) drops them — unassigned rows get no neighbors
    df = df.filter(F.col(block_col).isNotNull())
    kk = k

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        M = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        Mn = _safe_rows(M)
        S = Mn @ Mn.T
        np.fill_diagonal(S, -np.inf)
        out_q, out_n, out_r, out_s, out_b = [], [], [], [], []
        block = pdf[block_col].iloc[0]
        for i in range(len(ids)):
            order = np.lexsort((ids, -S[i]))[:kk]
            for r, j in enumerate(order, start=1):
                if S[i, j] == -np.inf:
                    continue
                out_q.append(ids[i])
                out_n.append(ids[j])
                out_r.append(r)
                out_s.append(float(S[i, j]))
                out_b.append(block)
        return pd.DataFrame(
            {
                "vec_id": out_q,
                "nn_id": out_n,
                "rank": out_r,
                "cosine": out_s,
                block_col: out_b,
            }
        )

    out_schema = f"vec_id long, nn_id long, rank int, cosine double, {block_col} int"
    # engine-side HALF-UP rounding (see cosine_pairs note)
    return (
        df.select(id_col, vec_col, block_col)
        .groupBy(block_col)
        .applyInPandas(per_block, out_schema)
        .select(
            "vec_id", "nn_id", "rank", F.round("cosine", 6).alias("cosine"), block_col
        )
    )


def ivf_quantized_topk(
    df: DataFrame,
    n_cells: int | None = 8,
    nprobe: int = 2,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 4096,
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

    Search: bucket-local scoring per cell (one groupBy(cell) matmul,
    per-query partial top-k, global window merge) — same scale shape as
    lsh_ann_topk; shuffle = corpus x (1 + nprobe) rows keyed by cell.
    Output is ids-only (vec_id, nn_id, rank): float sims stay out of the
    cross-engine hash surface (CLAUDE.md invariant).

    Scale guards:
    - ``n_cells=None`` derives ~sqrt(N) cells from a corpus count (FAISS's
      rule of thumb), so the default cell population is ~sqrt(N) instead
      of N/8 — pass an explicit n_cells when the oracle twin needs it.
    - Cells above ``max_bucket`` rows are tiled into the same q-row /
      c-column hash sub-grid as :func:`_lsh_grid`, so a skewed quantizer
      (or adversarially clustered corpus) never materializes one
      O(cell²) pandas task: per-frame input ≤ ~2*max_bucket rows. The
      sub-grid groupBy keys EXTEND the cell window's partition key, so
      sizing + scoring ride one exchange.
    """
    import numpy as np
    import pandas as pd

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
        return df.sparkSession.createDataFrame(
            [], "vec_id long, nn_id long, rank int"
        )
    C = np.array([np.asarray(r[1], dtype=np.float64) for r in seeds])
    Cn = _safe_rows(C)
    bc = df.sparkSession.sparkContext.broadcast(Cn)
    npr = min(nprobe, len(seeds))

    def assign(batches):
        Cm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            Vn = _safe_rows(V)
            S = Vn @ Cm.T
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

    # hot-cell cap: size every cell with ONE window count, then each row
    # explodes its own grid assignments (cold cell -> single (0,0) block;
    # hot cell -> q rows replicate across gc columns at their hash gq row,
    # c rows replicate across gq rows at their hash gc column — every
    # (q, c) pair meets in exactly one block of bounded size)
    w_cell = Window.partitionBy("cell")
    counted = routed.withColumn("csize", F.count(F.lit(1)).over(w_cell))
    n_sub = F.ceil(F.col("csize") / F.lit(max_bucket)).cast("int")
    sub_of = F.pmod(F.xxhash64("id"), n_sub).cast("int")
    subs = F.sequence(F.lit(0), n_sub - 1)
    assigns = F.when(
        F.col("csize") <= F.lit(max_bucket),
        F.array(F.struct(F.lit(0).alias("gq"), F.lit(0).alias("gc"))),
    ).otherwise(
        F.when(
            F.col("side") == "q",
            F.transform(
                subs,
                lambda gc: F.struct(sub_of.alias("gq"), gc.cast("int").alias("gc")),
            ),
        ).otherwise(
            F.transform(
                subs,
                lambda gq: F.struct(gq.cast("int").alias("gq"), sub_of.alias("gc")),
            )
        )
    )
    gridded = counted.select(
        "cell", "id", "v", "side", F.explode(assigns).alias("a")
    ).select("cell", "a.gq", "a.gc", "id", "v", "side")

    kk = k

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["side"] == "q"]
        c = pdf[pdf["side"] == "c"]
        if q.empty or c.empty:
            return pd.DataFrame({"qid": [], "cid": [], "sim": []})
        qids = q["id"].to_numpy()
        cids = c["id"].to_numpy()
        Q = np.array([np.asarray(v, dtype=np.float64) for v in q["v"]])
        Qn = _safe_rows(Q)
        M = np.array([np.asarray(v, dtype=np.float64) for v in c["v"]])
        Mn = _safe_rows(M)
        S = Qn @ Mn.T
        S[qids[:, None] == cids[None, :]] = -np.inf
        out_q, out_c, out_s = [], [], []
        for i in range(S.shape[0]):
            order = np.lexsort((cids, -S[i]))[:kk]
            for j in order:
                if S[i, j] == -np.inf:
                    continue
                out_q.append(qids[i])
                out_c.append(cids[j])
                out_s.append(float(S[i, j]))
        return pd.DataFrame({"qid": out_q, "cid": out_c, "sim": out_s})

    partials = gridded.groupBy("cell", "gq", "gc").applyInPandas(
        cell_topk, "qid long, cid long, sim double"
    )
    dedup = partials.groupBy("qid", "cid").agg(F.max("sim").alias("sim"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid").asc())
    return (
        dedup.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("vec_id"), F.col("cid").alias("nn_id"), "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _lsh_grid(
    df: DataFrame,
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
    max_bucket: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared LSH routing: signature → band buckets → capped grid blocks.

    Returns (band, bucket, gq, gc, id, v, side) where side is 'b' (both
    roles, cold bucket) or 'q'/'c' (hot-bucket sub-grid).

    - ONE nested-array literal + transform for the hyperplanes instead of
      n_planes x dim individual F.lit columns (per-literal Py4J round
      trips + expression-tree size made plan build dominate: measured
      3.2 s at 16 planes x 64 dims);
    - vectors ride the band explode ONCE (shuffle = bands x corpus, a
      predictable bound) — a pair-join re-attach ships 2 vectors PER
      CANDIDATE PAIR (unbounded; measured ~800 MB at 2k vectors);
    - hot-bucket cap, SINGLE-PASS: a window count over (band, bucket)
      sizes every bucket (a size-JOIN recomputed the signature projection
      4x), each row then explodes its own grid assignments — cold buckets
      emit one side='b' row (no replication), hot buckets emit q-row +
      c-column hash sub-chunks so every pair meets in exactly one block,
      per-task input ≤ ~2*max_bucket rows, per-task compute ≤
      ~max_bucket². The scoring groupBy keys EXTEND the window's
      (band, bucket) hash partitioning, so routing + scoring ride one
      exchange.
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
    banded = with_sig.select(
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
    ).select("id", "v", "bb.band", "bb.bucket")

    w_bb = Window.partitionBy("band", "bucket")
    counted = banded.withColumn("bsize", F.count(F.lit(1)).over(w_bb))
    n_sub = F.ceil(F.col("bsize") / F.lit(max_bucket)).cast("int")
    sub_of = F.pmod(F.xxhash64("id"), n_sub).cast("int")
    subs = F.sequence(F.lit(0), n_sub - 1)

    def _as_query(gc):
        return F.struct(
            sub_of.alias("gq"), gc.cast("int").alias("gc"), F.lit("q").alias("side")
        )

    def _as_candidate(gq):
        return F.struct(
            gq.cast("int").alias("gq"), sub_of.alias("gc"), F.lit("c").alias("side")
        )

    assigns = F.when(
        F.col("bsize") <= F.lit(max_bucket),
        F.array(
            F.struct(
                F.lit(0).alias("gq"), F.lit(0).alias("gc"), F.lit("b").alias("side")
            )
        ),
    ).otherwise(F.concat(F.transform(subs, _as_query), F.transform(subs, _as_candidate)))

    return counted.select(
        "band", "bucket", "id", "v", F.explode(assigns).alias("a")
    ).select("band", "bucket", "a.gq", "a.gc", "id", "v", "a.side")


def lsh_ann_topk(
    df: DataFrame,
    dim: int,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    max_bucket: int = 4096,
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-hyperplane LSH.

    signature bit i = sign(v · h_i); band buckets of n_planes/bands bits;
    candidates share ≥1 band bucket; exact cosine re-rank inside candidates.
    Recall rises with bands (more, smaller bands → more candidates).

    Scale shape: BUCKET-LOCAL scoring (see module docstring) — one band
    explode carrying (id, v), one groupBy(band, bucket) matmul per
    bucket, per-query partial top-k out. Buckets above ``max_bucket``
    rows (skewed signatures, or n_planes too small for the corpus) are
    tiled into a sub-grid of hash blocks so no task's input exceeds
    ~2*max_bucket rows and no task's compute exceeds ~max_bucket² — the
    hot-bucket O(bucket²) failure mode is structurally capped. Scale
    n_planes with corpus size regardless: the cap bounds the damage of a
    too-small keyspace, not its candidate volume.
    """
    import numpy as np
    import pandas as pd

    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    grid = _lsh_grid(df, dim, n_planes, bands, seed, max_bucket, id_col, vec_col)
    kk = k

    def grid_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        both = pdf["side"] == "b"
        q = pdf[both | (pdf["side"] == "q")]
        c = pdf[both | (pdf["side"] == "c")]
        if q.empty or c.empty or len(pdf) < 2:
            return pd.DataFrame({"qid": [], "cid": [], "sim": []})
        qids = q["id"].to_numpy()
        cids = c["id"].to_numpy()
        Q = np.array([np.asarray(v, dtype=np.float64) for v in q["v"]])
        Qn = _safe_rows(Q)
        M = np.array([np.asarray(v, dtype=np.float64) for v in c["v"]])
        Mn = _safe_rows(M)
        S = Qn @ Mn.T
        S[qids[:, None] == cids[None, :]] = -np.inf
        out_q, out_c, out_s = [], [], []
        for i in range(S.shape[0]):
            order = np.lexsort((cids, -S[i]))[:kk]
            for j in order:
                if S[i, j] == -np.inf:
                    continue
                out_q.append(qids[i])
                out_c.append(cids[j])
                out_s.append(float(S[i, j]))
        return pd.DataFrame({"qid": out_q, "cid": out_c, "sim": out_s})

    partials = grid.groupBy("band", "bucket", "gq", "gc").applyInPandas(
        grid_topk, "qid long, cid long, sim double"
    )
    # same pair can surface from several bands — dedup on ids (sims equal)
    scored = partials.groupBy("qid", "cid").agg(F.max("sim").alias("sim"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("cid").alias("nn_id"),
            "rank",
            F.round("sim", 6).alias("cosine"),
        )
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
    max_bucket: int = 4096,
) -> DataFrame:
    """SUB-QUADRATIC embedding near-duplicate pairs: all (id_a < id_b)
    with cosine >= threshold among pairs sharing >= 1 LSH band bucket —
    the scale path where :func:`cosine_pairs` (exact, O(N²)) cannot run.

    Same routing as :func:`lsh_ann_topk` (one band explode, bucket-local
    matmuls, hot-bucket grid cap); each block emits its thresholded pairs
    with the exact in-block cosine, oriented id_a < id_b so every pair
    surfaces once per covering band; a final (id_a, id_b) groupBy dedups
    across bands. Cosine is rounded to 6 BEFORE the dedup so ulp
    differences between block layouts cannot leak into the output
    (cross-engine invariant). A true near-pair is missed only if it
    shares no band: P(miss) = (1 - p^r)^b with p = 1 - theta/pi — at the
    defaults (r=2, b=8) that is <2% at cosine 0.4 and falls fast as
    similarity rises.
    """
    import numpy as np
    import pandas as pd

    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    grid = _lsh_grid(df, dim, n_planes, bands, seed, max_bucket, id_col, vec_col)
    thr = threshold

    def grid_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        both = pdf["side"] == "b"
        q = pdf[both | (pdf["side"] == "q")]
        c = pdf[both | (pdf["side"] == "c")]
        if q.empty or c.empty or len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        qids = q["id"].to_numpy()
        cids = c["id"].to_numpy()
        Q = np.array([np.asarray(v, dtype=np.float64) for v in q["v"]])
        Qn = _safe_rows(Q)
        M = np.array([np.asarray(v, dtype=np.float64) for v in c["v"]])
        Mn = _safe_rows(M)
        S = Qn @ Mn.T
        # orient a < b: keeps exactly one of the two (q,c)/(c,q)
        # appearances of a pair, in 'b' blocks and across grid blocks alike.
        # 1e-6 margin: membership is decided on the ROUNDED value below
        ii, jj = np.nonzero((S >= thr - 1e-6) & (cids[None, :] > qids[:, None]))
        return pd.DataFrame(
            {
                "id_a": qids[ii],
                "id_b": cids[jj],
                "cosine": S[ii, jj].astype(np.float64),
            }
        )

    partials = grid.groupBy("band", "bucket", "gq", "gc").applyInPandas(
        grid_pairs, "id_a long, id_b long, cosine double"
    )
    # round ENGINE-side (F.round = HALF_UP like DuckDB; Python round() is
    # banker's) BEFORE the dedup so ulp differences between block layouts
    # cannot leak into the output
    rounded = partials.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    # threshold the ROUNDED value (the raw-sim cut inside the UDF keeps a
    # 1e-6 margin) — membership at the boundary is then quantized, not a
    # BLAS-vs-DuckDB summation ulp
    return (
        rounded.filter(F.col("cosine") >= F.lit(float(threshold)))
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
    import numpy as np

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
    n_chunks: int = 8,
    n_query_chunks: int = 1,
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
    import numpy as np
    import pandas as pd

    def _q(x):
        return F.round(x.cast("double") * F.lit(1_000_000.0)).cast("long")

    df = healthy_vectors(df, vec_col, dim=dim)  # see healthy_vectors
    pts = df.select(F.col(id_col), F.transform(F.col(vec_col), _q).alias("__q"))
    # referenced by training, encoding and the query side of the grid —
    # materialize once (multi-reference recompute trap)
    pts = pts.localCheckpoint(eager=False)

    head = pts.select(F.size("__q").alias("n")).head()
    if head is None:
        return df.sparkSession.createDataFrame(
            [], "vec_id long, nn_id long, rank int, d2 long"
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
                for s in range(mm_):
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

    mm_ = m
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
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "__code": list(codes)}
            )

    coded = pts.mapInPandas(_encode_fn, "id long, __code array<bigint>").select(
        F.col("id").alias(id_col), "__code"
    )

    union = _chunked_union(
        pts.select(id_col, F.col("__q").alias("embedding")),
        coded.select(id_col, F.col("__code").alias("embedding")),
        id_col,
        "embedding",
        n_chunks,
        n_query_chunks,
    )
    B = B_fin  # trained books, already materialized for the encode pass
    # per-block partial must carry the whole shortlist so the global
    # ADC top-rerank (a subset of the union of per-block top-Rs) is
    # exact before the re-rank joins
    kk, mm, dds = max(int(k), int(rerank)), m, ds

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf[pdf["side"] == "c"]
        q = pdf[pdf["side"] == "q"]
        if c.empty or q.empty:
            return pd.DataFrame({"vec_id": [], "nn_id": [], "d2": []})
        cand_ids = c["id"].to_numpy()
        codes = np.array([np.asarray(v, dtype=np.int64) for v in c["v"]])
        Q = np.array([np.asarray(v, dtype=np.int64) for v in q["v"]])
        qids = q["id"].to_numpy()
        # per-query lookup tables, then m gathers per pair — all int64
        dist = np.zeros((len(qids), len(cand_ids)), dtype=np.int64)
        for s in range(mm):
            Dsub = Q[:, s * dds : (s + 1) * dds]
            Ds = ((Dsub[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            dist += Ds[:, codes[:, s]]
        dist[qids[:, None] == cand_ids[None, :]] = np.iinfo(np.int64).max
        out_q, out_n, out_d = [], [], []
        for i in range(dist.shape[0]):
            order = np.lexsort((cand_ids, dist[i]))[:kk]
            for j in order:
                if dist[i, j] == np.iinfo(np.int64).max:
                    continue
                out_q.append(qids[i])
                out_n.append(cand_ids[j])
                out_d.append(int(dist[i, j]))
        return pd.DataFrame({"vec_id": out_q, "nn_id": out_n, "d2": out_d})

    partials = union.groupBy("chunk").applyInPandas(
        partial, "vec_id long, nn_id long, d2 long"
    )
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
