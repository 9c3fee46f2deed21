"""Near-duplicate CLUSTERING: connected components over dup pairs.

Pair detectors (exact, Jaccard, MinHash, SimHash, cosine) emit edges;
training-data pipelines need the GROUPS — one canonical document per
connected component, everything else dropped. This module turns an edge
list into (doc_id, cluster_id = min reachable id).

Two algorithms behind one facade:

- ``label_prop`` (default): iterative min-label propagation expressed as
  DataFrame joins — per round, every node takes the min of its own label
  and its neighbors' labels. Each round is one shuffle join (edges x
  labels) plus one groupBy; rounds needed = component DIAMETER, which for
  dedup graphs is tiny (near-dup clusters are dense blobs, not chains).

- ``star``: alternating large-star/small-star rounds (Kiveris et al.,
  "Connected Components in MapReduce and Beyond" — public literature).
  Each round halves the height of the component trees, so convergence is
  O(log n) rounds regardless of diameter — the 10^12-doc scale path, and
  the right choice when the pair graph may contain long chains
  (transitive near-dup runs). Same label algebra (min id), same output.

Both return a frame whose final labels are MATERIALIZED via
localCheckpoint: lineage is truncated (the caller's actions do not re-run
the loop) and every per-round cache is released before returning — no
cache accumulation across repeated calls in a long-lived session.

Determinism: labels are min(doc_id) — no RNG, no iteration-order
dependence (min is commutative/associative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pacts_spark.session import local_frame


def _edge_signature(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive fingerprint of an edge set: (count, sum of
    per-edge hashes as decimal — no long overflow under ANSI, no
    driver-side materialization; partial aggregation keeps the shuffle
    one row per task). Collision odds ~2^-64 per comparison — and a false
    'converged' is additionally guarded by the groupBy-min label
    extraction below."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("sig"),
    ).collect()[0]
    return int(row["n"]), int(row["sig"])


def _cc_star(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Large-star/small-star alternation over a canonical (src>dst) edge
    list; returns (node, label). Converges in O(log n) rounds: large-star
    hangs every node's strictly-larger neighbors under its local minimum,
    small-star re-hangs each node's smaller neighbors under their
    minimum — each pair of phases at least halves tree heights."""
    # localCheckpoint (NOT persist) each round: the round plan references
    # the previous frame several times (sym union + two joins), so lineage
    # grows exponentially with rounds — by round ~10 merely FORMATTING the
    # plan tree OOMs the JVM. Checkpointing truncates the plan to the
    # materialized RDD; old rounds' blocks are released by the context
    # cleaner once their frames go out of scope.
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = _edge_signature(e)
    for _ in range(max_rounds):
        # large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for v ∈ Γ(u), v > u
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star on canonical (src > dst): m = min of smaller nbrs;
        # re-hang every smaller nbr and src itself under m
        mins2 = large.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            large.join(mins2, "src")
            .select(F.col("dst").alias("v"), "m")
            .filter(F.col("v") != F.col("m"))
            .unionByName(mins2.select(F.col("src").alias("v"), "m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = _edge_signature(small)
        e = small
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"star CC: no convergence in {max_rounds} rounds")
    # converged edges form stars (v → component min); roots label themselves.
    # groupBy-min guards the (astronomically unlikely) signature-collision
    # early exit: labels are min over whatever edges exist.
    labels = (
        e.select(F.col("src").alias("node"), F.col("dst").alias("label"))
        .unionByName(e.select(F.col("dst").alias("node"), F.col("dst").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return labels.localCheckpoint(eager=True)


def _cc_label_prop(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Min-label propagation; rounds = component diameter. Returns
    (node, label), localCheckpointed."""
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_rounds):
        # neighbor minimum: push each node's label across its edges
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
        )
        # localCheckpoint (NOT persist): the round plan references the
        # previous labels frame twice (propagation join + changed check),
        # so lineage doubles per round — past ~15 rounds even formatting
        # the plan OOMs. Checkpointing truncates to the materialized RDD,
        # and old rounds' blocks are context-cleaned when their frames go
        # out of scope — nothing stays cached after return.
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label_prop CC: no convergence in {max_rounds} rounds — the "
            "component diameter exceeds the round budget; use "
            "algorithm='star' (O(log n) rounds) for chain-shaped graphs"
        )
    # already materialized: the caller's actions never re-run the loop
    return labels


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_rounds: int = 20,
    algorithm: str = "label_prop",
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``;
    cluster_id = the minimum node id in the node's connected component.

    ``algorithm='label_prop'`` (rounds = diameter, cheapest per round for
    the dense-blob dedup case) or ``'star'`` (large-star/small-star,
    O(log n) rounds — use when components may be long chains). Both raise
    if not converged after ``max_rounds``. The result is materialized
    (localCheckpoint): no live lineage into the loop, no retained caches.
    """
    # persist the (symmetrized) edge list: every round's convergence count
    # re-evaluates the edge lineage otherwise — when pairs come from a
    # candidate-generation pipeline (minhash/LSH), that re-runs the WHOLE
    # sketch per round (measured 20.7 s -> ~5 s for a 256-edge graph)
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        # a (x, x) self-pair carries no connectivity; dropping it here keeps
        # both algorithms' node sets identical (dedup_clusters(df, ...)
        # restores unpaired docs as singletons anyway)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    try:
        if algorithm == "star":
            labels = _cc_star(edges, max_rounds)
        elif algorithm == "label_prop":
            labels = _cc_label_prop(edges, max_rounds)
        else:
            raise ValueError(f"unknown CC algorithm: {algorithm!r}")
    finally:
        edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters(
    df: DataFrame | None,
    pairs: DataFrame,
    id_col: str = "doc_id",
    algorithm: str = "label_prop",
) -> DataFrame:
    """Cluster assignment for deduplication: (doc_id, cluster_id,
    is_canonical); canonical = the min-id member, the row a dedup pipeline
    KEEPS. With ``df`` given, EVERY document gets a row — documents in no
    dup pair are their own singleton cluster (canonical); with ``df=None``
    only paired documents are returned."""
    cc = connected_components(pairs, algorithm=algorithm)
    if df is not None:
        cc = (
            df.select(F.col(id_col).alias("doc_id"))
            .join(cc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            )
        )
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def leakage_safe_split(
    df: DataFrame | None,
    pairs: DataFrame,
    eval_rate: float = 0.1,
    id_col: str = "doc_id",
    algorithm: str = "label_prop",
) -> DataFrame:
    """Decontamination-safe train/eval split: the split decision is made
    per DEDUP CLUSTER, not per document, so exact and near duplicates
    can never straddle the boundary (the classic eval-leakage failure:
    a paraphrase of a test document sitting in train). (doc_id,
    cluster_id, split) where split = 'eval' iff the md5 bucket of the
    cluster id falls under ``eval_rate`` (the repo's half-up 10k-bucket
    rule — deterministic, retry-independent, and nested: raising the
    rate strictly grows eval).

    Scale: reuses ``dedup_clusters`` (connected components over the pair
    edges: label propagation by default, rounds = component diameter;
    ``algorithm='star'`` for O(log n) rounds on chain-shaped graphs); the
    split itself is a pure projection on the cluster id — no extra
    shuffle, no per-cluster grouping.
    """
    from pacts_spark.datapipe.sampling import _threshold, hash_bucket

    clusters = dedup_clusters(df, pairs, id_col=id_col, algorithm=algorithm)
    split = F.when(
        hash_bucket(F.col("cluster_id")) < F.lit(_threshold(eval_rate)),
        F.lit("eval"),
    ).otherwise(F.lit("train"))
    return clusters.select("doc_id", "cluster_id", split.alias("split"))


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    algorithm: str = "star",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, arXiv:2303.09540 — re-expressed on this repo's
    primitives): embeddings whose cosine exceeds ``threshold`` are
    semantic duplicates; connected groups keep ONE representative (the
    min id). Output: (vec_id, rep_id, is_kept) for EVERY vector —
    unpaired vectors are their own kept representative.

    Composition of two already-capped stages: candidate pairs from
    :func:`similarity.lsh_cosine_near_pairs` (seeded-hyperplane bands,
    hot-bucket sub-grid cap, exact in-bucket verify — sub-quadratic; the
    paper's k-means blocking swapped for the repo's deterministic,
    SQL-replayable LSH blocking) and grouping from
    :func:`dedup_clusters` (O(log n)-round CC). Recall bound = the LSH
    band miss probability documented on lsh_cosine_near_pairs.

    Default CC algorithm is ``star`` (not label_prop): a moderate cosine
    threshold makes semantic components CHAIN through transitivity
    (measured at sf0.1/thr=0.4: 75-node components), so label_prop pays
    diameter-many rounds while large-star/small-star converges in
    O(log n) — measured 10.1 s -> 6.4 s on the same 907-edge graph
    (round fixed costs dominate at bench scale; the gap widens with
    diameter).
    """
    from pacts_spark.datapipe.similarity import lsh_cosine_near_pairs

    pairs = lsh_cosine_near_pairs(
        df,
        dim=dim,
        threshold=threshold,
        n_planes=n_planes,
        bands=bands,
        id_col=id_col,
        vec_col=vec_col,
    ).select("id_a", "id_b")
    out = dedup_clusters(
        df.select(F.col(id_col).alias("doc_id")), pairs, algorithm=algorithm
    )
    return out.select(
        F.col("doc_id").alias(id_col),
        F.col("cluster_id").alias("rep_id"),
        F.col("is_canonical").alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# deterministic k-means (cluster-balanced curation / SemDeDup-style cells)


def _round_half_away(v: float) -> int:
    """Round half away from zero on an IEEE double — the shared
    semantics of Spark ``F.round`` and DuckDB ``round`` (pinned by
    test_kmeans_round_half_away_matches_duckdb), replicated here because
    the centroid means are computed driver-side between iterations."""
    import math

    return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))


def kmeans_assign(
    df,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
):
    """Deterministic Lloyd k-means over embeddings, run for a FIXED
    ``iters`` rounds in integer micro-unit space: vectors quantize to
    BIGINT micros (round(x*1e6) — exact cross-engine), squared L2
    distances are pure-integer sums (no float-order drift anywhere),
    assignment argmin tie-breaks on the lower cluster index, and the
    centroid update is the per-dimension integer-micro mean
    (round-half-away of an exact double quotient). Seeds are the ``k``
    hash-ranked rows (ORDER BY md5(id), id — the corpus-seed idiom
    ivf_quantized_topk uses). Returns (id, cluster BIGINT), cluster =
    0-based seed index.

    Scale shape: per iteration ONE per-dim aggregate (posexplode →
    groupBy(cluster, dim) with map-side combine; shuffle carries
    k·d partial rows per task, never vectors) plus a k·d-int driver
    collect for the next round's literal centroids — bounded driver
    state, the repo's bounded-driver pattern. The assignment pass is a
    pure projection against literal centroids (k·d literals, no join,
    no shuffle). Empty clusters keep their previous centroid (the SQL
    twin's LEFT JOIN + coalesce rule).
    """

    def _q(x):
        return F.round(x.cast("double") * F.lit(1_000_000.0)).cast("long")

    from pacts_spark.datapipe.similarity import healthy_vectors

    # healthy-vector source rule (similarity.healthy_vectors): a NaN/huge
    # element would crash the micro cast; a ragged vector breaks the
    # zip_with distance. Unhealthy rows get NO cluster row — the twins
    # state the same predicate. Pass dim to keep plan build action-free.
    df = healthy_vectors(df, vec_col, dim=dim)
    pts = df.select(
        F.col(id_col), F.transform(F.col(vec_col), _q).alias("__q")
    )
    # referenced by every iteration's action + the final assignment:
    # materialize once (multi-reference recompute trap)
    pts = pts.localCheckpoint(eager=False)
    seeds = (
        pts.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(int(k))
        .collect()
    )
    if not seeds:
        return local_frame(df.sparkSession, f"{id_col} long, cluster long")
    cents: list[list[int]] = [list(r["__q"]) for r in seeds]

    def _assign(frame):
        dists = []
        for ci, cent in enumerate(cents):
            lit_c = F.array(*[F.lit(int(v)).cast("long") for v in cent])
            d2 = F.aggregate(
                F.zip_with(F.col("__q"), lit_c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            dists.append(F.struct(d2.alias("d"), F.lit(ci).cast("long").alias("c")))
        return frame.select(
            F.col(id_col),
            F.col("__q"),
            F.array_min(F.array(*dists)).getField("c").alias("cluster"),
        )

    for _ in range(int(iters)):
        upd = (
            _assign(pts)
            .select("cluster", F.posexplode("__q").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in upd:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = (
                _round_half_away(float(r["s"]) / float(r["n"]))
            )
        cents = [
            [by_cluster[ci][p] for p in range(len(cents[ci]))]
            if ci in by_cluster
            else cents[ci]
            for ci in range(len(cents))
        ]

    return _assign(pts).select(F.col(id_col), F.col("cluster"))


def kmeans_oracle_sql(
    k: int = 8,
    iters: int = 2,
    d: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`kmeans_assign`, generated from the same
    parameters with the iterations UNROLLED as CTE pairs (assign_i,
    centroids_i). Distances use the integer identity
    |q|² − 2·q·c + |c|² via list_dot_product (all values < 2⁵³, so the
    double intermediates are exact); the centroid mean replays
    round(sum::DOUBLE / n) — the same half-away rounding the driver-side
    helper applies."""
    dist = (
        "CAST(list_dot_product(p.q, p.q) - 2 * list_dot_product(p.q, c.c)"
        " + list_dot_product(c.c, c.c) AS BIGINT)"
    )
    parts = [
        f"""WITH q AS (
  SELECT {id_col},
         list_transform({vec_col},
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM {table}
),
c0 AS (
  SELECT (row_number() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col})) - 1
           AS cluster,
         q AS c
  FROM q
  ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
  LIMIT {int(k)}
)"""
    ]
    prev = "c0"
    for i in range(1, int(iters) + 1):
        parts.append(
            f""",
a{i} AS (
  SELECT {id_col}, q, cluster FROM (
    SELECT p.{id_col}, p.q, c.cluster,
           row_number() OVER (PARTITION BY p.{id_col}
                              ORDER BY {dist}, c.cluster) AS rn
    FROM q p CROSS JOIN {prev} c
  ) WHERE rn = 1
),
u{i} AS (
  SELECT a.cluster, r.i,
         CAST(round(CAST(sum(a.q[CAST(r.i AS INT)]) AS DOUBLE) / count(*)) AS BIGINT) AS v
  FROM a{i} a CROSS JOIN range(1, {int(d) + 1}) r(i)
  GROUP BY a.cluster, r.i
),
c{i} AS (
  SELECT p.cluster, coalesce(u.c, p.c) AS c
  FROM {prev} p
  LEFT JOIN (SELECT cluster, list(v ORDER BY i) AS c FROM u{i} GROUP BY cluster) u
    USING (cluster)
)"""
        )
        prev = f"c{i}"
    # the FINAL assignment runs against the last centroids
    parts.append(
        f""",
af AS (
  SELECT {id_col}, cluster FROM (
    SELECT p.{id_col}, c.cluster,
           row_number() OVER (PARTITION BY p.{id_col}
                              ORDER BY {dist}, c.cluster) AS rn
    FROM q p CROSS JOIN {prev} c
  ) WHERE rn = 1
)
SELECT {id_col}, CAST(cluster AS BIGINT) AS cluster FROM af"""
    )
    return "".join(parts)
