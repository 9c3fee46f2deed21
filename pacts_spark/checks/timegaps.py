"""Timestamp-gap quantiles per conversation — north_star mandate.

Scales up the reference's header-timestamp contract (auto-stamped now(),
Header.java:43; header.rs:30) to a monotonicity + cadence check: the gap
between consecutive turns of a conversation, summarized by quantiles.

Scale design: ``lag`` over ``Window.partitionBy(conv_id).orderBy(turn_idx)``
shuffles once on conv_id. A whale conversation makes one fat window
partition — unavoidable for exact per-conv ordering, but the window
computes lag in a single streaming pass (no buffering of the whole
partition for lag-1). Quantiles: ``percentile_approx`` (Spark's built-in
Greenwald–Khanna ``QuantileSummaries``: a mergeable sketch whose rank
error is bounded by n/accuracy — constant memory, one extra tiny shuffle)
for the 100 TB path. ``gap_quantiles_discrete`` is the exact verifier:
integer-microsecond quantiles that the oracle twin checks and the tests
compare the sketch against. Negative gaps double as the out-of-order-turn
violation signal.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _turn_order(conv_col: str, order_col: str, ts_col: str) -> Window:
    """The turns of each conversation in order — NULLS LAST pinned (Spark
    defaults nulls-first, DuckDB twin nulls-last — unpinned NULL keys
    shift every lag)."""
    return Window.partitionBy(conv_col).orderBy(
        F.col(order_col).asc_nulls_last(), F.col(ts_col).asc_nulls_last()
    )


def ts_gaps(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-turn gap (seconds) to the previous turn of the same conversation;
    first turn of each conversation has NULL gap."""
    prev = F.lag(F.col(ts_col)).over(_turn_order(conv_col, order_col, ts_col))
    # cast-to-double keeps sub-second precision (unix_timestamp truncates);
    # NTZ → TIMESTAMP first (session tz is UTC, so the epoch matches
    # DuckDB's epoch() on the same NTZ value)
    as_sec = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
    return df.withColumn("gap_seconds", as_sec(F.col(ts_col)) - as_sec(prev))


def _percent_names(percents: list[Decimal]) -> list[str]:
    """Quantile column names from exact percents: ``p`` + the percent with
    ``.`` as ``_`` (0.29 → p29, 0.999 → p99_9). Raises ``ValueError`` when
    two quantiles would share a column."""
    names = ["p" + format(p.normalize(), "f").replace(".", "_") for p in percents]
    if len(set(names)) < len(names):
        raise ValueError(f"quantiles map to duplicate columns: {names}")
    return names


def gap_quantiles_discrete(
    df: DataFrame,
    partition_col: Column | str | None = None,
    quantile_fracs: list[tuple[int, int]] = ((1, 2), (9, 10), (99, 100)),
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Exact DISCRETE gap quantiles in integer microseconds — the
    oracle-parity variant: every output column is a long, so the value
    serialization is bit-identical across engines (no float interpolation,
    no double rounding; CLAUDE.md invariant: prefer int outputs).

    Quantile q = num/den picks the element at rank ceil(q*n) computed in
    pure integer arithmetic ((num*n + den - 1) div den) over a per-part
    rank window. Two shuffles (conv window for lag, part window for rank);
    the approx :func:`gap_quantiles` remains the 100 TB hot path — this is
    the exact verifier.
    """
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    w = _turn_order(conv_col, order_col, ts_col)
    gaps = df.withColumn(
        "gap_us", us(F.col(ts_col)) - F.lag(us(F.col(ts_col))).over(w)
    ).filter(F.col("gap_us").isNotNull())
    if partition_col is None:
        gaps = gaps.withColumn("part", F.lit("__all__"))
    else:
        pcol = F.col(partition_col) if isinstance(partition_col, str) else partition_col
        gaps = gaps.withColumn("part", pcol)
    pw = Window.partitionBy("part")
    ranked = gaps.select(
        "part",
        "gap_us",
        F.row_number().over(pw.orderBy("gap_us")).alias("rn"),
        F.count(F.lit(1)).over(pw).alias("n"),
    )
    names = _percent_names([Decimal(num * 100) / den for num, den in quantile_fracs])
    aggs = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"({num} * n + {den} - 1) div {den}"),
                F.col("gap_us"),
            )
        ).alias(f"{name}_us")
        for (num, den), name in zip(quantile_fracs, names)
    ] + [
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum((F.col("gap_us") < 0).cast("long")).alias("n_negative_gaps"),
        F.count(F.lit(1)).alias("n_gaps"),
    ]
    return ranked.groupBy("part").agg(*aggs)


def gap_quantiles(
    df: DataFrame,
    partition_col: Column | str | None = None,
    quantiles: list[float] = (0.5, 0.9, 0.99),
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap quantiles (+ min/max/negative-gap count) per partition."""
    gaps = ts_gaps(df, conv_col, order_col, ts_col).filter(
        F.col("gap_seconds").isNotNull()
    )
    qlist = list(quantiles)
    qcol = F.percentile_approx("gap_seconds", qlist, 10000)
    names = _percent_names([Decimal(str(q)) * 100 for q in qlist])
    aggs = [F.round(qcol[i], 6).alias(name) for i, name in enumerate(names)] + [
        F.min("gap_seconds").alias("min_gap"),
        F.max("gap_seconds").alias("max_gap"),
        F.sum((F.col("gap_seconds") < 0).cast("long")).alias("n_negative_gaps"),
        F.count(F.lit(1)).alias("n_gaps"),
    ]
    if partition_col is None:
        return gaps.agg(*aggs).withColumn("part", F.lit("__all__"))
    pcol = F.col(partition_col) if isinstance(partition_col, str) else partition_col
    return gaps.groupBy(pcol.alias("part")).agg(*aggs)
