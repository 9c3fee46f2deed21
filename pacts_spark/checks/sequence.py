"""Sequence / ordering constraint checks over conversation transcripts.

The reference validates one row at a time (Validator.java:44-176 — no
cross-row state exists anywhere in its engine). A transcripts table at
10^12-turn scale has contracts the per-row engine cannot see: turn
indexes must be contiguous, timestamps must not run backwards within a
conversation, and dialogue roles must not stutter. This module is the
engine extension for those SEQUENCE contracts, emitting violation rows
in the ``(conv_id, turn_idx, check_name, violation)`` shape of the
runner's engine-check rows (runner.py), so a caller can union them into
its violations without a new output schema.

Scale design: ONE exchange on the conversation key. All three checks
ride a single window spec — lag(turn_idx), lag(role) and a running
max(ts) are computed in one projection over one sort, then fan out into
an array of violation strings that explodes to rows. Per-conversation
work after the sort is a linear scan; a whale conversation is one task's
worth of sorted rows (the same trade sessionize makes — sessions.py),
bounded by conversation length, not corpus size.

Determinism across engines: the intra-conversation order is the FULL
column tuple ``(turn_idx, ts, role, text, tool)`` with NULLS LAST
pinned explicitly (Spark defaults nulls-first ascending, DuckDB
defaults nulls-last — an unpinned twin is a latent parity bug). Rows
that tie on the full tuple are identical rows, so every lag/max output
— and therefore the violation multiset — is order-independent.

Check rules (each skips the conversation's first row — no predecessor):
- gap:        prev_idx + 1 < turn_idx        → "Missing turn index N"
                                        (or "Missing turn indexes A..B")
- regression: ts < max(ts) over all PRECEDING rows
                                    → "Timestamp regression at turn N"
- stutter:    role == prev_role AND role in repeat_roles
                                    → "Role 'r' repeated at turn N"

Rows with NULL ``turn_idx`` are excluded: a missing index is the row
schema check's violation (required-field), not a sequence defect.
Duplicate indexes are likewise left to the uniqueness check — here a
duplicate contributes prev_idx == turn_idx, which no gap rule fires on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sequence_violations(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    order_tail: tuple[str, ...] = ("text", "tool"),
    repeat_roles: tuple[str, ...] = ("user", "assistant"),
) -> DataFrame:
    """Sequence-contract violation rows, one exchange on ``conv_col``.

    Returns ``(conv_id, turn_idx, check_name='sequence', violation)``.
    ``order_tail`` pins a total order for rows tying on (idx, ts, role)
    so cross-engine twins agree row-for-row.
    """
    order = [
        F.col(c).asc_nulls_last()
        for c in (idx_col, ts_col, role_col, *order_tail)
    ]
    w = Window.partitionBy(conv_col).orderBy(*order)
    w_prec = w.rowsBetween(Window.unboundedPreceding, -1)

    idx = F.col(idx_col)
    prev_idx = F.lag(idx_col).over(w)
    prev_role = F.lag(role_col).over(w)
    run_max_ts = F.max(ts_col).over(w_prec)

    def _s(c: Column) -> Column:
        return c.cast("string")

    gap = F.when(
        prev_idx.isNotNull() & (idx > prev_idx + F.lit(1)),
        F.when(
            idx == prev_idx + F.lit(2),
            F.concat(F.lit("Missing turn index "), _s(prev_idx + F.lit(1))),
        ).otherwise(
            F.concat(
                F.lit("Missing turn indexes "),
                _s(prev_idx + F.lit(1)),
                F.lit(".."),
                _s(idx - F.lit(1)),
            )
        ),
    )
    regression = F.when(
        run_max_ts.isNotNull()
        & F.col(ts_col).isNotNull()
        & (F.col(ts_col) < run_max_ts),
        F.concat(F.lit("Timestamp regression at turn "), _s(idx)),
    )
    stutter = F.when(
        prev_role.isNotNull()
        & (F.col(role_col) == prev_role)
        & F.col(role_col).isin(*repeat_roles),
        F.concat(
            F.lit("Role '"), F.col(role_col), F.lit("' repeated at turn "), _s(idx)
        ),
    )

    violations = F.filter(
        F.array(gap, regression, stutter), lambda v: v.isNotNull()
    )
    return (
        transcripts.filter(idx.isNotNull())
        .select(
            F.col(conv_col).alias("conv_id"),
            idx.alias("turn_idx"),
            violations.alias("_v"),
        )
        .select(
            "conv_id",
            "turn_idx",
            F.lit("sequence").alias("check_name"),
            F.explode("_v").alias("violation"),
        )
    )


def conversation_shape_violations(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    order_tail: tuple[str, ...] = ("text", "tool"),
    open_roles: tuple[str, ...] = ("system", "user"),
    close_roles: tuple[str, ...] = ("assistant",),
    min_turns: int = 1,
    max_turns: int | None = None,
) -> DataFrame:
    """Conversation-LEVEL shape contracts — who may open, who must
    close, and how long a dialogue may run. Another cross-row family
    the reference's per-row engine cannot express: the verdict is a
    property of the whole conversation, not any single turn.

    Emits ``(conv_id, turn_idx, check_name='shape', violation)`` rows,
    anchored at the opening turn (open / too-short) or the closing turn
    (close / too-long):

    - "Conversation opens with role 'r'"   (first role ∉ open_roles)
    - "Conversation ends with role 'r'"    (last role ∉ close_roles)
    - "Conversation has N turns (minimum M)" / "(maximum M)"

    First/last = min/max of the struct (turn_idx, role, *order_tail) —
    an AGGREGATE, not a window: ONE conv-keyed exchange whose partial
    min/max combine map-side, so a whale conversation contributes one
    struct per mapper instead of one sorted task (cheaper than the
    sequence_violations sort when only endpoints matter). NULL-safe
    ordering: nullable tuple fields enter via coalesce(x, '') so both
    engines agree without NULLS FIRST/LAST pinning (documented limit:
    roles/text/tool that are literally '' tie with NULL — not a value
    the transcripts derivation produces). Rows with NULL turn_idx are
    excluded, as in sequence_violations (that's the required-field
    check's violation).
    """
    idx = F.col(idx_col)
    key = F.struct(
        idx.alias("i"),
        F.coalesce(F.col(role_col), F.lit("")).alias("r"),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("")).alias(f"t{i}")
            for i, c in enumerate(order_tail)
        ],
        F.col(role_col).alias("role_raw"),
    )
    agg = (
        transcripts.filter(idx.isNotNull())
        .groupBy(F.col(conv_col).alias("conv_id"))
        .agg(
            F.min(key).alias("first"),
            F.max(key).alias("last"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )
    first_role = F.coalesce(F.col("first.role_raw"), F.lit("__null__"))
    last_role = F.coalesce(F.col("last.role_raw"), F.lit("__null__"))
    n = F.col("n_turns")
    checks = [
        (
            ~first_role.isin(*open_roles),
            F.col("first"),
            F.concat(F.lit("Conversation opens with role '"), first_role, F.lit("'")),
        ),
        (
            ~last_role.isin(*close_roles),
            F.col("last"),
            F.concat(F.lit("Conversation ends with role '"), last_role, F.lit("'")),
        ),
        (
            n < F.lit(int(min_turns)),
            F.col("first"),
            F.concat(
                F.lit("Conversation has "), n.cast("string"),
                F.lit(f" turns (minimum {int(min_turns)})"),
            ),
        ),
    ]
    if max_turns is not None:
        checks.append(
            (
                n > F.lit(int(max_turns)),
                F.col("last"),
                F.concat(
                    F.lit("Conversation has "), n.cast("string"),
                    F.lit(f" turns (maximum {int(max_turns)})"),
                ),
            )
        )
    slots = F.array(
        *[
            F.when(
                cond,
                F.struct(
                    anchor.getField("i").alias("turn_idx"),
                    msg.alias("violation"),
                ),
            )
            for cond, anchor, msg in checks
        ]
    )
    return agg.select(
        "conv_id", F.explode(F.array_compact(slots)).alias("_v")
    ).select(
        "conv_id",
        F.col("_v.turn_idx").alias("turn_idx"),
        F.lit("shape").alias("check_name"),
        F.col("_v.violation").alias("violation"),
    )
