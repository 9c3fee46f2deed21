"""Referential-integrity checks via broadcast anti-joins — north_star mandate.

Scales up the reference's schema-coordinate existence contract (a lookup
must resolve or you get an error row — SchemaLoader.java:81-101,
PactsService.java:78-89) to key-level integrity: every fact-side key must
exist in its dimension.

Scale design: dimensions (conversations registry, tools registry) are
small relative to the fact table → ``broadcast()`` hint forces
BroadcastHashJoin(LeftAnti) — ZERO shuffle of the 100 TB side, the dim
ships once per executor. For dims too big to broadcast (> a few hundred
MB), drop the hint and AQE plans a shuffled anti-join with skew splitting.
NULL fact keys are excluded (a NULL conv_id is the required-check's
violation, not an RI violation — matches SQL FK semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ri_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    use_broadcast: bool = True,
    select_cols: list[str] | None = None,
) -> DataFrame:
    """Rows of ``fact`` whose non-null ``fact_key`` has no match in
    ``dim[dim_key]``; tagged with an engine violation message
    ``Referential violation: {fact_key}=<v> not in dimension``."""
    dim_key = dim_key or fact_key
    # no distinct(): a left-anti join keeps a fact row iff no dim row
    # matches, so duplicate or NULL dim keys cannot change the result —
    # deduping them only costs an exchange and a stage
    d = dim.select(F.col(dim_key).alias(fact_key))
    if use_broadcast:
        d = F.broadcast(d)
    orphans = fact.filter(F.col(fact_key).isNotNull()).join(
        d, on=fact_key, how="left_anti"
    )
    if select_cols:
        orphans = orphans.select(*select_cols)
    return orphans.withColumn("violation", ri_message(fact_key))


def ri_message(fact_key: str) -> Column:
    """``Referential violation: {fact_key}=<v> not in dimension``."""
    return F.concat(
        F.lit(f"Referential violation: {fact_key}="),
        F.col(fact_key).cast("string"),
        F.lit(" not in dimension"),
    )
