"""Uniqueness check on (conv_id, turn_idx) — north_star mandate.

Scales up the reference's implicit envelope-identity contract (UUID
target_id/profile_id uniqueness in SpringBootMessageTest.java:105,264-265)
to a distributed duplicate-key detector.

Semantics, stated once: ``K`` (an ordered list of columns) is unique on
a table when no two rows agree on ``K`` under null-safe equality
(``<=>``, SQL ``IS NOT DISTINCT FROM``): NULL is one more value, so two
rows ``(NULL, 1)`` duplicate each other — the equality of ``GROUP BY``.
In the terms of PAPERS ICDE 2019 ("Entity Integrity, Referential
Integrity, and Query Optimization with Embedded Uniqueness
Constraints"), SQL's ``UNIQUE(K)`` is the embedded uniqueness constraint
``K : K`` — it constrains only the fragment of rows complete on ``K``,
so rows with a NULL key part are exempt. This check is stricter: it
also reports duplicates among incomplete keys (the embedded reading is
this check over ``df.dropna(subset=K)``). The DuckDB twins state the
same semantics: ``GROUP BY`` keeps the NULL group and the join-back is
``IS NOT DISTINCT FROM``.

Scale design (north_rule: "skew handled explicitly"): the duplicate set
is one groupBy on the key (``duplicate_keys``) whose partial (map-side)
aggregation collapses a hot key to one row per mapper before the
exchange, so a whale conversation or a billion-fold duplicate never
straggles a reducer — no salt is needed for a count.
``flag_duplicates`` joins a duplicate set back null-safely. It takes the
set rather than building it, so its caller decides how often the set is
computed: ``uniqueness_violations`` passes ``duplicate_keys(df, keys)``
(two reads of the input), while ``ValidationRun.run`` builds the set
once per run as a local checkpoint that both of its check outputs
broadcast (one read of the input each). An 8-byte-hash first phase with
an exact re-group of the candidates (three reads) was the runner's path
until it was measured on 4 cores: on perfbench ``batch_full`` (10
alternating pairs) the plain groupBy wrote fewer shuffle and output
bytes per pass (io_mb 8.99 → 8.07 MB median, lower in 10 of 10) and
used no more CPU (cpu_s 9.02 → 8.01 s, lower in 7 of 10), so it is the
one detector.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keys appearing more than once, with their multiplicity:
    ``keys..., dup_count`` for groups with count > 1 (NULL key parts
    group together)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def flag_duplicates(
    df: DataFrame, keys: list[str], dups: DataFrame, broadcast_dups: bool = True
) -> DataFrame:
    """``df`` plus ``dup_count``: the multiplicity of the row's key when it
    is duplicated, NULL when it is unique. ``dups`` is ``df``'s duplicate
    set (:func:`duplicate_keys`, or a checkpoint of it), joined back
    null-safely (module docstring; ``<=>`` is still a hash-join key).

    ``broadcast_dups=True`` hints the join-back (the duplicate set is
    normally the tail, so this is the common fast path). Set it False for
    pathological inputs (mass duplication) where the duplicate-key set
    itself is large — then AQE picks the join strategy from runtime stats
    instead of force-collecting the dup set to the driver.
    """
    if broadcast_dups:
        dups = F.broadcast(dups)
    dups = dups.select(*[F.col(k).alias(f"__dk_{k}") for k in keys], "dup_count")
    cond = reduce(Column.__and__, [df[k].eqNullSafe(dups[f"__dk_{k}"]) for k in keys])
    return df.join(dups, on=cond, how="left").drop(*dups.columns[:-1])


def uniqueness_violations(
    df: DataFrame,
    keys: list[str],
    broadcast_dups: bool = True,
    method: str | None = None,
) -> DataFrame:
    """Exploded per-row violation form: every row whose key is duplicated
    (:func:`flag_duplicates`), tagged with the reference-style message
    catalog extension ``Duplicate key: (k1=v1, k2=v2) appears N times``.

    ``method`` is accepted and ignored: it chose between two detectors,
    and callers that still pass it (perfbench's traced uniqueness layer
    passes ``"hash"``) get the one detector.
    """
    return (
        flag_duplicates(df, keys, duplicate_keys(df, keys), broadcast_dups)
        .filter(F.col("dup_count").isNotNull())
        .withColumn("violation", duplicate_message(keys))
    )


def duplicate_message(keys: list[str]) -> Column:
    """``Duplicate key: (k1=v1, k2=v2) appears N times`` from the row's
    ``keys`` and ``dup_count``; ``concat_ws`` leaves out a NULL key part."""
    return F.concat(
        F.lit("Duplicate key: ("),
        F.concat_ws(
            ", ", *[F.concat(F.lit(f"{k}="), F.col(k).cast("string")) for k in keys]
        ),
        F.lit(") appears "),
        F.col("dup_count").cast("string"),
        F.lit(" times"),
    )
