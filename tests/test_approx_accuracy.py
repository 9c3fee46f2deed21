"""Accuracy-band tests for the declared 100 TB approx hot paths.

The oracle harness can only verify the EXACT twins (approx sketches are
not SQL-reproducible), so the sketch paths that actually run at scale —
the HLL distinct count (checks/stats.py) and ``percentile_approx``
(checks/timegaps.py:gap_quantiles) — get differential tolerance tests
here against their exact counterparts on inputs large enough for the
error statistics to mean something (1M distinct keys / 4M gaps), plus a
low-cardinality case (1,000 keys) for the sketch.

Tolerance constants (documented, not folklore):

- HLL with rsd=0.01: ``column_stats`` sizes the DataSketches sketch with
  HLL++'s own formula (lgConfigK 14, 16,384 registers), whose relative
  standard error is ~1.04/sqrt(16384) ≈ 0.8% ≤ rsd, so a single
  measurement lands within 3*rsd with >99.7% probability. The inputs
  are fixed (deterministic generators, xxhash64 with a fixed seed) and
  the estimate does not depend on the input's partitioning, so the test
  is not flaky — it pins that THIS sketch configuration on THIS
  cardinality is inside the 3-sigma band.
- percentile_approx(accuracy=10000) bounds the RANK error by
  n/accuracy. A rank-epsilon of n/10000 on a quantile q maps to a value
  error of (value range spanned by ±n/10000 ranks around q); on a
  near-uniform gap distribution that is ~range * 1e-4 * 2. We assert the
  rank-space guarantee directly: the approx answer must lie between the
  exact values at ranks floor(q*n) ± 2*n/10000.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pacts_spark.checks.stats import column_stats
from pacts_spark.checks.timegaps import gap_quantiles, gap_quantiles_discrete


@pytest.fixture(scope="module")
def gaps_4m(spark):
    """4M-row synthetic transcripts table: 4000 conversations x 1001 turns
    → 4M non-null gaps, deterministic: ts(conv, t) = t*500s + h(id)s with
    h(id) = (id*2654435761) mod 997, so the per-turn gap is
    500 + h(id_t) - h(id_{t-1}) seconds — a triangular-ish distribution
    over [-496, 1496], exactly reproducible in pure integer arithmetic
    (negative gaps exercise the out-of-order counter too)."""
    return spark.range(0, 4_000 * 1_001).select(
        F.concat(F.lit("conv-"), F.col("id") % 4_000).alias("conv_id"),
        F.expr("id div 4000").alias("turn_idx"),
        F.timestamp_micros(
            F.expr(
                "(id div 4000) * 500000000 + ((id * 2654435761) % 997) * 1000000"
            ).cast("long")
        ).alias("ts"),
    )


def test_approx_count_distinct_within_3rsd(spark):
    """HLL++ rsd=0.01 vs exact on 1,000,000 distinct keys (+ nulls)."""
    n = 1_000_000
    df = spark.range(n).select(
        F.when(F.col("id") % 97 != 0, F.concat(F.lit("k"), F.col("id")))
        .alias("key")
    )
    exact_n = n - (n + 96) // 97  # non-null distinct (id%97==0 → null)
    stats = column_stats(df, ["key"], exact_distinct=False, rsd=0.01).collect()
    assert len(stats) == 1
    approx = stats[0]["n_distinct"]
    rel_err = abs(approx - exact_n) / exact_n
    assert rel_err <= 0.03, f"HLL rsd=0.01 off by {rel_err:.4f} (>3*rsd)"
    # exact twin agrees with the closed form (sanity for the test itself)
    exact = column_stats(df, ["key"], exact_distinct=True).collect()[0]["n_distinct"]
    assert exact == exact_n


def test_approx_count_distinct_low_cardinality_within_3rsd(spark):
    """The same bound where the sketch is far from full: 1,000 distinct
    values (+ nulls) over 200,000 rows."""
    n = 1_000
    df = spark.range(200_000).select(
        F.when(F.col("id") % 89 != 0, F.col("id") % n).alias("key")
    )
    approx = column_stats(df, ["key"], rsd=0.01).collect()[0]["n_distinct"]
    assert abs(approx - n) / n <= 0.03, f"HLL rsd=0.01 gave {approx} for {n}"


@pytest.fixture(scope="module")
def exact_gap_ranks(spark, gaps_4m):
    """Exact sorted-gap values at the edges of the percentile_approx rank
    band, via the oracled-exact discrete-quantile path + percentile()."""
    exact = gap_quantiles_discrete(gaps_4m).collect()[0]
    n = exact["n_gaps"]
    # full exact quantile ladder in SECONDS at fine granularity around the
    # tested quantiles: use Spark's exact percentile on the gap column
    from pacts_spark.checks.timegaps import ts_gaps

    gaps = ts_gaps(gaps_4m).filter(F.col("gap_seconds").isNotNull())
    eps = 2 * n // 10_000  # percentile_approx rank guarantee (accuracy=10000)
    qs = []
    for q in (0.5, 0.9, 0.99):
        r = int(q * n)
        qs += [max(0, r - eps) / n, min(n - 1, r + eps) / n]
    arr = ", ".join(f"{x:.8f}" for x in qs)
    vals = gaps.agg(
        F.expr(f"percentile(gap_seconds, array({arr}))").alias("v")
    ).collect()[0]["v"]
    bands = {q: (vals[2 * i], vals[2 * i + 1]) for i, q in enumerate((0.5, 0.9, 0.99))}
    return {"n": n, "bands": bands}


def test_percentile_approx_rank_guarantee(spark, gaps_4m, exact_gap_ranks):
    """percentile_approx(accuracy=10000) must land within ±2n/10000 ranks
    of the exact quantile on ~4M gaps."""
    approx = gap_quantiles(gaps_4m).collect()[0]
    for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        lo, hi = exact_gap_ranks["bands"][q]
        assert lo <= approx[col] <= hi, (
            f"percentile_approx p{int(q*100)}={approx[col]} outside exact "
            f"rank band [{lo}, {hi}] (±2n/1e4 ranks)"
        )
