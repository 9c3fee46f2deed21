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

Scale design (north_rule: "skew handled explicitly"): every aggregate is
a groupBy whose partial (map-side) aggregation collapses a hot key to one
row per mapper before the exchange, so a whale conversation or a
billion-fold duplicate never straggles a reducer — no salt is needed for
a count. ``duplicate_keys`` is the plain groupBy count;
``duplicate_keys_hashed`` (the runner's path) shuffles an 8-byte hash of
the key first and re-groups only the candidate tail on the true key.
``uniqueness_violations`` joins the duplicate set back null-safely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def duplicate_keys_hashed(
    df: DataFrame,
    keys: list[str],
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Shuffle-lean EXACT duplicate detector for wide/string keys.

    The plain groupBy (``duplicate_keys``) ships one row per distinct key
    per mapper THROUGH the shuffle carrying the full key tuple — for
    ``(conv_id string, turn_idx)`` at 10^12 rows that is the pipeline's
    single biggest byte mover. This variant:

      phase 1: groupBy(xxhash64(keys...)) count — the full-volume shuffle
               carries (8-byte hash, count); map-side combine also absorbs
               hot-key skew (a billion-fold duplicate collapses to one row
               per mapper), so no salt is needed;
      phase 2: hashes with count > 1 (true duplicates + rare 64-bit
               collisions) broadcast back; ONLY the candidate rows re-group
               on the TRUE key tuple — exactness restored on a tail-sized
               input, collisions drop out here.

    Returns the same (keys..., dup_count > 1) contract as
    ``duplicate_keys``. ``broadcast_candidates=False`` defers to AQE for
    pathological mass-duplication inputs (same caveat as
    ``uniqueness_violations(broadcast_dups=False)``)."""
    kh = F.xxhash64(*[F.col(k) for k in keys])
    hot = (
        df.select(kh.alias("__kh"))
        .groupBy("__kh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("__kh")
    )
    if broadcast_candidates:
        hot = F.broadcast(hot)
    cand = df.withColumn("__kh", kh).join(hot, "__kh")
    return (
        cand.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_violations(
    df: DataFrame,
    keys: list[str],
    broadcast_dups: bool = True,
    method: str = "group",
) -> DataFrame:
    """Exploded per-row violation form: every row whose key is duplicated,
    tagged with the reference-style message catalog extension
    ``Duplicate key: (k1=v1, k2=v2) appears N times``.

    ``method="group"`` finds the duplicate set with :func:`duplicate_keys`;
    ``method="hash"`` swaps in :func:`duplicate_keys_hashed` (8-byte-hash
    phase-1 shuffle + exact tail verify) — identical output, the
    shuffle-lean choice for wide string keys at full scale.

    ``broadcast_dups=True`` hints the join-back (the duplicate set is
    normally the tail, so this is the common fast path). Set it False for
    pathological inputs (mass duplication) where the duplicate-key set
    itself is large — then AQE picks the join strategy from runtime stats
    instead of force-collecting the dup set to the driver.
    """
    if method == "hash":
        dups = duplicate_keys_hashed(df, keys, broadcast_candidates=broadcast_dups)
    else:
        dups = duplicate_keys(df, keys)
    if broadcast_dups:
        dups = F.broadcast(dups)
    # null-safe join-back (module docstring); <=> is still a hash-join key
    dups_r = dups.select(
        *[F.col(k).alias(f"__dk_{k}") for k in keys], "dup_count"
    )
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(F.col(f"__dk_{k}"))
        cond = c if cond is None else (cond & c)
    joined = df.join(dups_r, on=cond, how="inner").drop(
        *[f"__dk_{k}" for k in keys]
    )
    msg = F.concat(
        F.lit("Duplicate key: ("),
        F.concat_ws(
            ", ", *[F.concat(F.lit(f"{k}="), F.col(k).cast("string")) for k in keys]
        ),
        F.lit(") appears "),
        F.col("dup_count").cast("string"),
        F.lit(" times"),
    )
    return joined.withColumn("violation", msg)
