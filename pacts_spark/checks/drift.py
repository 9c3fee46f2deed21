"""Distribution-drift checks: KL divergence + chi-squared over categorical
histograms (``role``, ``tool``) — north_star mandate.

Scales up the reference's run-over-run contract-stability idea (schema
versioning v1→v2, SchemaLoader.java:257-259) to distribution stability.

Scale design: histogram building is one ``groupBy(partition, category)``
with map-side combine — the shuffle carries one row per (partition,
category), i.e. bytes, not terabytes. Scoring needs one row per part:
its histogram as a map (one ``groupBy(part)``), crossed with the
baseline as ONE broadcast row (its map and total); the KL and
chi-squared terms fold over the sorted union of both maps' categories
inside that row. No join builds the (part, category) domain: drift over a
table's histograms plans 6 exchanges, histograms and output sort
included.

Smoothing: add-one (Laplace) over the UNION of category domains — fully
deterministic and expressible in both Spark and ANSI SQL, so the DuckDB
oracle can reproduce scores bit-for-bit (modulo float rounding; scores are
rounded to 6 decimals for stable cross-engine hashing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pacts_spark.datapipe.similarity import VECTOR_MAX_ABS, healthy_element


def category_histogram(
    df: DataFrame, col: str, partition_col: Column | str | None = None
) -> DataFrame:
    """``(part, category, n)`` counts; NULL categories become '__null__'
    (drift over missingness is itself a signal)."""
    cat = F.coalesce(F.col(col).cast("string"), F.lit("__null__")).alias("category")
    if partition_col is None:
        return df.groupBy(cat).agg(F.count(F.lit(1)).alias("n")).withColumn(
            "part", F.lit("__all__")
        )
    pcol = F.col(partition_col) if isinstance(partition_col, str) else partition_col
    return df.groupBy(pcol.alias("part"), cat).agg(F.count(F.lit(1)).alias("n"))


def drift_scores(current: DataFrame, baseline: DataFrame) -> DataFrame:
    """KL(current‖baseline) and chi-squared per part.

    Inputs are ``category_histogram`` outputs (current may be per-part;
    baseline is one reference histogram with part ignored). Laplace
    add-one smoothing over the union domain. A NULL category is one more
    domain category with n = m = 0; a NULL part (rows with a NULL
    partition key, e.g. NULL ts) is scored like any other part.
    """
    cat, n = F.col("category"), F.col("n")

    def hist(counts: str, total: str, has_null: str) -> list[Column]:
        # a map cannot hold a NULL key: the NULL category is a flag
        named = cat.isNotNull()
        return [
            F.map_from_entries(F.collect_list(F.when(named, F.struct(cat, n)))).alias(counts),
            F.coalesce(F.sum(F.when(named, n)), F.lit(0)).alias(total),
            F.coalesce(F.max(cat.isNull()), F.lit(False)).alias(has_null),
        ]

    # both inputs hold one row per (part, category), never per input row:
    # one task scores them, with no shuffle or job after the histograms'
    cur = (
        current.coalesce(1).groupBy("part", "category")
        .agg(F.sum("n").alias("n"))
        .groupBy("part")
        .agg(*hist("cur", "tot_n", "cur_null"))
    )
    base = (
        baseline.coalesce(1).groupBy("category")
        .agg(F.sum("n").alias("n"))
        .agg(*hist("base", "tot_m", "base_null"))
    )
    # the part's domain: the sorted union of both histograms' categories,
    # the NULL category first (ascending order puts NULL first)
    cats = F.array_sort(F.array_union(F.map_keys("cur"), F.map_keys("base")))
    j = cur.crossJoin(F.broadcast(base)).select(
        "part", "cur", "base", "tot_n", "tot_m",
        F.when(
            F.col("cur_null") | F.col("base_null"), F.array_prepend(cats, F.lit(None))
        ).otherwise(cats).alias("cats"),
    ).withColumn("n_cats", F.size("cats").cast("long"))

    def ordered_sum(term) -> Column:
        # DETERMINISTIC left fold in category order: the last ulp — and,
        # at a 0.5e-6 boundary, the round-6 output — depends on the
        # addition order. The SQL twin folds list(term ORDER BY category)
        # via list_reduce; the tests' Python reference iterates sorted(cats).
        def step(acc: Column, c: Column) -> Column:
            n = F.coalesce(F.col("cur")[c], F.lit(0))
            m = F.coalesce(F.col("base")[c], F.lit(0))
            p = (n + F.lit(1)) / (F.col("tot_n") + F.col("n_cats"))
            q = (m + F.lit(1)) / (F.col("tot_m") + F.col("n_cats"))
            return acc + term(n, p, q)

        return F.aggregate(F.col("cats"), F.lit(0.0), step)

    def kl_term(n, p, q):
        return p * F.log(p / q)

    def chi_term(n, p, q):
        # chi-squared vs expected counts scaled from the smoothed baseline
        expected = q * F.col("tot_n")
        return (n - expected) * (n - expected) / expected

    return j.select(
        "part",
        F.round(ordered_sum(kl_term), 6).alias("kl_divergence"),
        F.round(ordered_sum(chi_term), 6).alias("chi_squared"),
        F.col("n_cats").alias("n_categories"),
    ).orderBy("part")


def anomalous_partitions(
    verdicts: DataFrame,
    k: int = 3,
    part_col: str = "part",
    n_col: str = "n_rows",
    bad_col: str = "n_invalid_rows",
) -> DataFrame:
    """Flag partitions whose violation RATE is a k-sigma outlier against
    the run's own partition population — ranks the per-partition
    verdicts (``ValidationRun.run``'s) so a bad ingest day surfaces
    instead of drowning in thousands of green partitions.

    EXACT integer math end to end (no float mean/std anywhere): rates
    quantize to per-mille (r = bad*1000 div n), and the z-test
    |r_i − mean| > k·σ is multiplied through by n_p² to the equivalent
    integer inequality

        (n_p·r_i − S)² > k²·(n_p·ΣR2 − S²)

    (population variance). Bounds: r ≤ 1000, so with n_p ≤ 10⁶
    partitions every intermediate stays < 2^63 — hash-stable and
    order-independent across engines. σ = 0 (all rates equal) flags
    nothing, matching the strict inequality.

    Scale: the verdict frame is partition-granular (one row per table
    partition — bounded by the catalog, not the data), so the three
    population scalars come from ONE aggregate collected to the driver
    and re-enter the plan as literals; the flag pass is a pure
    projection. No window-into-one-task, no second shuffle.
    """
    # true integer division (SQL div — exact for any BIGINT, no 2^53
    # double-rounding bound on bad*1000)
    rate = F.expr(f"CAST(`{bad_col}` AS BIGINT) * 1000 div `{n_col}`")
    # the verdicts frame is typically a whole validation pipeline; both
    # the stats collect below AND the returned projection consume it —
    # materialize the partition-granular frame once (round-3 lesson:
    # localCheckpoint small multiply-referenced frames)
    with_rate = verdicts.withColumn("rate_pm", rate).localCheckpoint(eager=False)
    stats = with_rate.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("rate_pm").alias("s"),
        F.sum(F.col("rate_pm") * F.col("rate_pm")).alias("r2"),
    ).collect()[0]
    n_p = int(stats["np"] or 0)
    if n_p == 0:
        return with_rate.select(
            F.col(part_col), F.col(n_col), F.col(bad_col), "rate_pm",
            F.lit(False).alias("anomalous"),
        )
    s, r2 = int(stats["s"]), int(stats["r2"])
    dev = F.col("rate_pm") * F.lit(n_p) - F.lit(s)
    thr = F.lit(int(k) * int(k)) * F.lit(n_p * r2 - s * s)
    return with_rate.select(
        F.col(part_col), F.col(n_col), F.col(bad_col), "rate_pm",
        (dev * dev > thr).alias("anomalous"),
    )


def embedding_centroid_drift(
    df: DataFrame,
    part_col: str = "part",
    vec_col: str = "embedding",
    min_cos_ppm: int = 990_000,
    expected_dim: int | None = None,
    max_abs: float = VECTOR_MAX_ABS,
) -> DataFrame:
    """Per-partition embedding-centroid drift vs the corpus centroid —
    the vector analogue of :func:`drift_scores`: an embedding-model
    version change, a poisoned source, or a language shift moves a
    partition's mean vector long before any scalar stat notices.

    EXACT integer math end to end (no float mean/cosine): elements
    quantize to micro BIGINTs; per-(partition, dim) sums aggregate with
    map-side combine (shuffle = one partial row per mapper×part×dim,
    never vectors); centroids are (sum div n) div 1000 — MILLI units,
    so every cross-term below stays < 2^63 (document: at 10^12 rows ×
    |x|≤1 the per-dim sum is ≤ 1e18, still in range). The global
    centroid reuses the per-part sums (no second scan). The drift flag
    replays cos²(part, global) < (min_cos_ppm/1e6)² as the pure-integer
    inequality

        dot ≤ 0  OR  dot² < ((T·norm2_part) div 1e6) · norm2_global,
        T = min_cos_ppm² div 1e6

    — both engines truncate integer division toward zero (Spark ``div``,
    DuckDB ``//``), so the threshold quantization is bit-identical.

    VALIDITY BOUND: dot² and the threshold products stay in BIGINT
    range while per-dim centroid magnitudes are ≲ 7 (milli units ≲
    7000, dot ≲ 3e9 at d=64) — far above unit-scale embeddings. Beyond
    it Spark wraps silently and DuckDB raises; like pq_oracle_sql, the
    bound is documented rather than runtime-checked. Pass
    ``expected_dim`` to exclude UNHEALTHY vectors explicitly — NULL,
    wrong dimension, or containing a NULL/NaN/±Inf/|x|>``max_abs``
    element (the rule both engines state identically; bare posexplode
    drops NULL arrays but emits partial positions for ragged ones, and
    an unguarded micro quantization of a NaN/huge element CRASHES the
    cast in both engines — poisoned-fixture regression). The
    ``max_abs`` bound is what makes the documented validity bound
    hold by construction instead of by trust.

    Returns (part, n_vecs, dot, norm2_part, norm2_global, drifted) —
    BIGINTs + boolean, hash-stable.
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(1_000_000.0)).cast("long"),
    )
    # NULL / wrong-dim vectors are excluded EXPLICITLY when expected_dim
    # is given: posexplode silently drops NULL arrays and emits partial
    # positions for ragged ones, while a range-join twin counts them —
    # the explicit filter is the rule both engines can state identically
    if expected_dim is not None:
        # single-sourced element rule (similarity.healthy_element); the
        # default bound is the SAME constant the SQL twins interpolate
        good_el = lambda x: healthy_element(x, max_abs)  # noqa: E731
        df = df.filter(
            F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) == F.lit(int(expected_dim)))
            & F.forall(F.col(vec_col), good_el)
        )
    ex = df.select(F.col(part_col).alias("part"), F.posexplode(q).alias("pos", "val"))
    ps = ex.groupBy("part", "pos").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    )
    pc = ps.select("part", "pos", F.expr("(s div n) div 1000").alias("c"), "n")
    gs = ps.groupBy("pos").agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    gc = gs.select("pos", F.expr("(s div n) div 1000").alias("g"))
    t = (int(min_cos_ppm) * int(min_cos_ppm)) // 1_000_000
    agg = (
        pc.join(F.broadcast(gc), "pos")
        .groupBy("part")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum(F.col("c") * F.col("g")).alias("dot"),
            F.sum(F.col("c") * F.col("c")).alias("norm2_part"),
            F.sum(F.col("g") * F.col("g")).alias("norm2_global"),
        )
    )
    drifted = (F.col("dot") <= 0) | (
        F.col("dot") * F.col("dot")
        < F.expr(f"(({t} * norm2_part) div 1000000) * norm2_global")
    )
    return agg.select(
        "part", "n_vecs", "dot", "norm2_part", "norm2_global",
        drifted.alias("drifted"),
    )
