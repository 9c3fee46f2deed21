"""Engine-level constraint checks mandated by BASELINE.json north_star.

Each module is a pure-DataFrame implementation (built-in aggregates, no
Python in the hot path) designed for 100 TB: map-side partial aggregation
(which also absorbs hot keys), broadcast anti-joins for dims, AQE-friendly
shuffle keys."""

from pacts_spark.checks.stats import column_stats
from pacts_spark.checks.uniqueness import duplicate_keys, uniqueness_violations
from pacts_spark.checks.referential import ri_violations
from pacts_spark.checks.drift import category_histogram, drift_scores
from pacts_spark.checks.timegaps import (
    ts_gaps,
    gap_quantiles,
    gap_quantiles_discrete,
)
from pacts_spark.checks.sequence import sequence_violations

__all__ = [
    "column_stats",
    "duplicate_keys",
    "uniqueness_violations",
    "ri_violations",
    "category_histogram",
    "drift_scores",
    "ts_gaps",
    "gap_quantiles",
    "gap_quantiles_discrete",
    "sequence_violations",
]
