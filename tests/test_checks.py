"""Engine-level check tests over the canonical events→transcripts derivation
(known injected violations) + hand-built frames with known answers."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pacts_spark.checks import (
    category_histogram,
    column_stats,
    drift_scores,
    duplicate_keys,
    gap_quantiles,
    ri_violations,
    ts_gaps,
    uniqueness_violations,
)
from pacts_spark.checks.drift import drift_scores_pandas
from pacts_spark.checks.stats import hll_distinct, hll_lg_k
from pacts_spark.checks.uniqueness import duplicate_keys_hashed
from pacts_spark.transcripts import conversations_dim, tools_dim, transcripts_from_events


@pytest.fixture(scope="module")
def transcripts(spark, events_small):
    return transcripts_from_events(events_small).cache()


def test_column_stats_exact(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("b", 3), (None, 4)], "k string, v int"
    )
    out = {r.column: r for r in column_stats(df, ["k", "v"], exact_distinct=True).collect()}
    assert out["k"].n_nulls == 1 and out["k"].n_distinct == 2
    assert out["v"].null_ppm == 250000
    assert out["v"].min_value == "1" and out["v"].max_value == "4"


def test_column_stats_partitioned(transcripts):
    out = column_stats(
        transcripts, ["text", "tool"], partition_col=F.to_date("ts").cast("string")
    ).collect()
    assert len(out) > 0
    by = {(r.part, r.column): r for r in out}
    # text nulls injected where props='{"k": 0}' — some partition must see them
    assert any(r.n_nulls > 0 for (p, c), r in by.items() if c == "text")


_PARITY_COLS = ["s", "i", "b", "d"]


@pytest.fixture(scope="module")
def mixed(spark):
    """string/int/bigint/double columns with NULLs and a NULL part."""
    return spark.createDataFrame(
        [
            ("p", "a", 1, 10, 1.5),
            ("p", None, None, 10, -0.0),
            ("p", "b", 1, None, 0.0),
            ("p", "b", 7, 2**40, float("nan")),
            ("q", "c", 3, 4, float("nan")),
            ("q", "c", None, 4, 2.5),
            (None, "a", 2, 3, None),
            (None, None, 2, None, 1.5),
        ],
        "part string, s string, i int, b bigint, d double",
    )


def _standalone(df, c, distinct):
    """One column's stats row per part, from its own aggregate."""
    return {
        (r.part, c): (r.n_rows, r.n_nulls, r.n_distinct, r.min_value, r.max_value)
        for r in df.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(c).isNull().cast("long")).alias("n_nulls"),
            distinct(c).alias("n_distinct"),
            F.min(F.col(c).cast("string")).alias("min_value"),
            F.max(F.col(c).cast("string")).alias("max_value"),
        )
        .collect()
    }


@pytest.mark.parametrize("exact", [False, True])
def test_column_stats_parity_with_standalone_aggregates(mixed, exact):
    """Every column's row equals that column's own aggregate: a standalone
    HLL sketch of the column's value hashes at the same rsd, or
    count(DISTINCT) when exact."""
    rsd = 0.05

    def sketch(c):
        return hll_distinct(F.when(F.col(c).isNotNull(), F.xxhash64(c)), hll_lg_k(rsd))

    distinct = F.count_distinct if exact else sketch
    want = {}
    for c in _PARITY_COLS:
        want.update(_standalone(mixed, c, distinct))
    got = {
        (r.part, r.column): (r.n_rows, r.n_nulls, r.n_distinct, r.min_value, r.max_value)
        for r in column_stats(
            mixed, _PARITY_COLS, partition_col="part", exact_distinct=exact, rsd=rsd
        ).collect()
    }
    assert got == want
    assert len(got) == 3 * len(_PARITY_COLS)  # parts p, q and NULL


@pytest.mark.parametrize("exact", [False, True])
def test_column_stats_empty_input(mixed, exact):
    empty = mixed.limit(0)
    # without a partition column: one row per column, as a global
    # aggregate gives (n_nulls and null_ppm NULL, n_distinct 0)
    rows = column_stats(empty, _PARITY_COLS, exact_distinct=exact).collect()
    assert sorted(tuple(r) for r in rows) == sorted(
        ("__all__", c, 0, None, None, 0, None, None) for c in _PARITY_COLS
    )
    assert column_stats(
        empty, _PARITY_COLS, partition_col="part", exact_distinct=exact
    ).collect() == []


def test_hll_lg_k_from_rsd(mixed):
    # HLL++'s register count: rsd 0.01 -> 2^14 registers, 0.05 -> 2^9
    assert hll_lg_k(0.01) == 14 and hll_lg_k(0.05) == 9
    for rsd in (0.5, 0.0005, 0.0, -0.01):  # lgConfigK 3, 22; no log
        with pytest.raises(ValueError, match="lgConfigK"):
            hll_lg_k(rsd)
    with pytest.raises(ValueError, match="lgConfigK"):
        column_stats(mixed, ["s"], rsd=0.5)


def test_column_stats_distinct_independent_of_layout(spark):
    """The approximate n_distinct of a group must not depend on how the
    input is split into partitions: 5,000 distinct values per part,
    read as 1 partition, 7 partitions and the default split."""
    df = spark.range(60_000).select(
        (F.col("id") % 3).cast("string").alias("part"),
        F.concat(F.lit("k"), F.col("id") % 15_000).alias("s"),
        (F.col("id") % 15_000 * 7).alias("b"),
    )

    def n_distinct(d):
        return {
            (r.part, r.column): r.n_distinct
            for r in column_stats(d, ["s", "b"], partition_col="part").collect()
        }

    base = n_distinct(df)
    # exactly 5,000 per group; rsd 0.01 -> within 3*rsd
    assert len(base) == 6 and all(abs(n - 5_000) <= 150 for n in base.values()), base
    assert n_distinct(df.repartition(1)) == base
    assert n_distinct(df.repartition(7)) == base


def test_duplicate_keys_plain_hashed_and_counter_agree(transcripts):
    keys = ["conv_id", "turn_idx"]
    plain = {
        (r.conv_id, r.turn_idx): r.dup_count
        for r in duplicate_keys(transcripts, keys).collect()
    }
    hashed = {
        (r.conv_id, r.turn_idx): r.dup_count
        for r in duplicate_keys_hashed(transcripts, keys).collect()
    }
    # pure-Python reference: NULL key parts compare equal in a tuple Counter
    counter = Counter(tuple(r) for r in transcripts.select(*keys).collect())
    assert plain == hashed == {k: n for k, n in counter.items() if n > 1}
    assert len(plain) > 0  # event_id%97 injection present


def test_uniqueness_violation_rows(spark):
    df = spark.createDataFrame(
        [("c1", 1, "a"), ("c1", 1, "b"), ("c2", 1, "c"),
         # NULL key parts are one value: (NULL, 2) twice is a duplicate,
         # (NULL, 3) once is not
         (None, 2, "d"), (None, 2, "e"), (None, 3, "f")],
        "conv_id string, turn_idx int, text string",
    )
    for method in ("group", "hash"):
        out = uniqueness_violations(df, ["conv_id", "turn_idx"], method=method)
        assert sorted((r.conv_id or "", r.text, r.violation) for r in out.collect()) == [
            ("", "d", "Duplicate key: (turn_idx=2) appears 2 times"),
            ("", "e", "Duplicate key: (turn_idx=2) appears 2 times"),
            ("c1", "a", "Duplicate key: (conv_id=c1, turn_idx=1) appears 2 times"),
            ("c1", "b", "Duplicate key: (conv_id=c1, turn_idx=1) appears 2 times"),
        ], method


def test_ri_violations(spark, transcripts, events_small):
    tools = tools_dim(spark)
    orphans = ri_violations(transcripts, tools, "tool")
    got = orphans.select("tool").distinct().collect()
    assert {r.tool for r in got} == {"tool-5", "tool-6"}  # mod-7 vs 5-tool dim
    convs = conversations_dim(events_small)
    conv_orphans = ri_violations(transcripts, convs, "conv_id")
    bad = {r.conv_id for r in conv_orphans.select("conv_id").distinct().collect()}
    assert all(int(c.split("-")[1]) % 29 == 7 for c in bad) and bad


def test_ri_null_keys_excluded(spark):
    fact = spark.createDataFrame([("x",), (None,)], "k string")
    dim = spark.createDataFrame([("y",)], "k string")
    out = ri_violations(fact, dim, "k").collect()
    assert len(out) == 1 and out[0].k == "x"


def test_ri_duplicate_and_null_dim_keys_change_nothing(spark):
    fact = spark.createDataFrame([("x",), ("y",), ("y",), ("z",), (None,)], "k string")
    dedup = spark.createDataFrame([("y",)], "k string")
    dirty = spark.createDataFrame([("y",), ("y",), (None,), ("y",)], "k string")
    want = sorted(ri_violations(fact, dedup, "k").collect())
    assert [r.k for r in want] == ["x", "z"]
    for use_broadcast in (True, False):
        got = ri_violations(fact, dirty, "k", use_broadcast=use_broadcast).collect()
        assert sorted(got) == want


def test_drift_identical_distributions_near_zero(spark):
    df = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "role string")
    hist = category_histogram(df, "role")
    out = drift_scores(hist, hist).collect()[0]
    assert abs(out.kl_divergence) < 1e-6
    assert abs(out.chi_squared) < 1e-6


def test_drift_known_shift_and_pandas_parity(spark):
    cur = spark.createDataFrame([("p", "a", 90), ("p", "b", 10)], "part string, category string, n long")
    base = spark.createDataFrame([("x", "a", 50), ("x", "b", 50)], "part string, category string, n long")
    col_row = drift_scores(cur, base).collect()[0]
    pdf_row = drift_scores_pandas(cur, base).collect()[0]
    assert col_row.kl_divergence == pdf_row.kl_divergence
    assert col_row.chi_squared == pdf_row.chi_squared
    # hand-computed: p=(91/102, 11/102), q=(51/102, 51/102)
    p = [91 / 102, 11 / 102]
    q = [51 / 102, 51 / 102]
    kl = sum(pi * math.log(pi / qi) for pi, qi in zip(p, q))
    assert abs(col_row.kl_divergence - round(kl, 6)) < 1e-9


def test_drift_null_category_and_null_part(spark):
    """A NULL category is one more domain category with n = m = 0 (it is
    not a map key); the part with a NULL key is scored like any other."""
    cur = spark.createDataFrame(
        [("p", "a", 90), ("p", None, 10), (None, "a", 5)],
        "part string, category string, n long",
    )
    base = spark.createDataFrame(
        [("x", "a", 50), ("x", "b", 50), ("x", None, 3)],
        "part string, category string, n long",
    )
    rows = [tuple(r) for r in drift_scores(cur, base).collect()]
    # domain (NULL, a, b) for both parts; NULL part: n = (0, 5, 0)
    assert rows == [(None, 0.45876, 5.098039, 3), ("p", 0.626433, 91.764706, 3)]


def test_drift_scores_null_ts_partition(spark):
    """Rows with a NULL ts form the NULL part: stats and verdicts report
    it, so drift must too (no kernel drops rows silently)."""
    from pacts_spark.runner import day_part

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "user")] * 6
        + [("2024-01-01 11:00:00", "assistant")] * 4
        + [(None, "user"), (None, "tool"), (None, "tool")],
        "ts string, role string",
    ).select(F.to_timestamp("ts").alias("ts"), "role")
    # string part: the pandas twin's output schema declares part string
    cur = category_histogram(df, "role", day_part().cast("string"))
    base = category_histogram(df, "role")
    got = [tuple(r) for r in drift_scores(cur, base).collect()]
    assert [r[0] for r in got] == [None, "2024-01-01"]
    assert [r[3] for r in got] == [3, 3]  # domain: assistant, tool, user
    ref = sorted(
        (tuple(r) for r in drift_scores_pandas(cur, base).collect()),
        key=lambda r: r[0] is not None,
    )
    assert got == ref


def test_ts_gaps_and_quantiles(spark):
    rows = [("c1", 1, 0), ("c1", 2, 60), ("c1", 3, 180), ("c2", 1, 0), ("c2", 2, 30)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, epoch long").select(
        "conv_id", "turn_idx", F.timestamp_seconds("epoch").alias("ts")
    )
    gaps = ts_gaps(df).filter(F.col("gap_seconds").isNotNull()).collect()
    assert sorted(r.gap_seconds for r in gaps) == [30.0, 60.0, 120.0]
    q = gap_quantiles(df, exact=True, quantiles=[0.5]).collect()[0]
    assert q.p50 == 60.0 and q.n_gaps == 3 and q.n_negative_gaps == 0


def test_gap_quantiles_detects_out_of_order(spark):
    rows = [("c1", 1, 100), ("c1", 2, 50)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, epoch long").select(
        "conv_id", "turn_idx", F.timestamp_seconds("epoch").alias("ts")
    )
    q = gap_quantiles(df, exact=True).collect()[0]
    assert q.n_negative_gaps == 1


def test_gap_quantile_columns_named_exactly(spark):
    """Column names carry the exact percent: 0.29 is p29 (not p28), 0.57
    is p57, 0.999 is p99_9 beside p99 — never two columns of one name;
    the default names stay p50/p90/p99 (and p50_us.. in the discrete
    variant)."""
    from pacts_spark.checks.timegaps import gap_quantiles_discrete

    df = spark.range(1, 1002).select(
        F.lit("c").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        # gap before turn i is i seconds: gaps 2..1001
        F.timestamp_seconds(F.col("id") * (F.col("id") + 1) / 2).alias("ts"),
    )
    q = gap_quantiles(df, quantiles=[0.29, 0.57, 0.99, 0.999], exact=True)
    assert q.columns[:4] == ["p29", "p57", "p99", "p99_9"]
    row = q.collect()[0]
    # 1000 gaps 2..1001; percentile() interpolates at rank q * (n - 1)
    assert [row.p29, row.p57, row.p99, row.p99_9] == pytest.approx(
        [2 + q * 999 for q in (0.29, 0.57, 0.99, 0.999)]
    )
    assert gap_quantiles(df).columns[:3] == ["p50", "p90", "p99"]

    d = gap_quantiles_discrete(df, quantile_fracs=((29, 100), (99, 100), (999, 1000)))
    assert d.columns[1:4] == ["p29_us", "p99_us", "p99_9_us"]
    row = d.collect()[0]
    assert (row.p29_us, row.p99_us, row.p99_9_us) == (
        291_000_000, 991_000_000, 1_000_000_000,
    )
    assert gap_quantiles_discrete(df).columns[1:4] == ["p50_us", "p90_us", "p99_us"]

    with pytest.raises(ValueError, match="duplicate"):
        gap_quantiles(df, quantiles=[0.5, 0.50])


def test_uniqueness_no_broadcast_mass_duplicates(spark):
    """broadcast_dups=False path: a pathologically duplicated input (every
    key duplicated) must run WITHOUT the broadcast hint — AQE/stats pick
    the join — and agree with the broadcast path's result."""
    df = spark.range(0, 20000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("payload")
    )
    no_bc = uniqueness_violations(df, ["k"], broadcast_dups=False)
    with_bc = uniqueness_violations(df, ["k"], broadcast_dups=True)
    assert "broadcast" not in no_bc._jdf.queryExecution().analyzed().toString().lower()
    assert no_bc.count() == with_bc.count() == 20000
    row = no_bc.filter(F.col("k") == 3).first()
    assert row.dup_count == 40 and "appears 40 times" in row.violation


def test_whale_conversation_window_checks(spark):
    """Skew evidence for the WINDOW paths (north_star: 'skew from long
    conversations'): one 2M-turn conversation — a single fat window
    partition for the lag/rank computations — plus a normal one. The
    whale must flow through gap quantiles and both uniqueness paths with
    exact results (lag is a single streaming pass per partition; map-side
    partial aggregation collapses the whale's hot (conv_id, turn_idx)
    duplicate key before the exchange). Closed-form input: every whale
    gap is exactly 1s."""
    from pyspark.sql import functions as F

    from pacts_spark.checks.timegaps import gap_quantiles_discrete

    n = 2_000_000
    whale = spark.range(n).select(
        F.lit("whale").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    minnow = spark.range(3).select(
        F.lit("minnow").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_micros(F.col("id") * 5_000_000).alias("ts"),
    )
    t = whale.unionByName(minnow)

    q = {r["part"]: r for r in gap_quantiles_discrete(t, partition_col="conv_id").collect()}
    w = q["whale"]
    assert w["n_gaps"] == n - 1
    assert w["p50_us"] == w["p90_us"] == w["p99_us"] == 1_000_000
    assert w["min_gap_us"] == w["max_gap_us"] == 1_000_000
    assert w["n_negative_gaps"] == 0
    assert q["minnow"]["p50_us"] == 5_000_000

    # hot duplicate key on the whale: turn_idx 7 appears 4x
    dup = whale.unionByName(
        spark.range(3).select(
            F.lit("whale").alias("conv_id"),
            F.lit(7).cast("int").alias("turn_idx"),
            F.timestamp_micros(F.lit(7_000_000) + F.col("id")).alias("ts"),
        )
    )
    for d in (
        duplicate_keys(dup, ["conv_id", "turn_idx"]).collect(),
        duplicate_keys_hashed(dup, ["conv_id", "turn_idx"]).collect(),
    ):
        assert len(d) == 1
        assert d[0]["conv_id"] == "whale" and d[0]["turn_idx"] == 7
        assert d[0]["dup_count"] == 4


def test_duplicate_keys_hashed_equals_plain(spark):
    """duplicate_keys_hashed (8-byte-hash shuffle + exact tail verify)
    must return exactly the plain groupBy's result and a pure-Python
    Counter's, including under a 5,000-fold hot key."""
    df = spark.range(200_000).select(
        F.concat(F.lit("conv-"), (F.col("id") % 40_000)).alias("conv_id"),
        # ids 0..39999 five-fold -> turn collisions by construction, plus a
        # mega-hot key: 5000 extra copies of (conv-7, 7)
        (F.col("id") % 13).cast("int").alias("turn_idx"),
    )
    hot = spark.range(5_000).select(
        F.lit("conv-7").alias("conv_id"), F.lit(7).cast("int").alias("turn_idx")
    )
    t = df.unionByName(hot)
    a = {
        (r.conv_id, r.turn_idx): r.dup_count
        for r in duplicate_keys(t, ["conv_id", "turn_idx"]).collect()
    }
    b = {
        (r.conv_id, r.turn_idx): r.dup_count
        for r in duplicate_keys_hashed(t, ["conv_id", "turn_idx"]).collect()
    }
    counter = Counter((f"conv-{i % 40_000}", i % 13) for i in range(200_000))
    counter[("conv-7", 7)] += 5_000
    assert a == b == {k: n for k, n in counter.items() if n > 1} and len(a) > 0
    assert a[("conv-7", 7)] >= 5_000


def test_sequence_violations_known_answers(spark):
    from pacts_spark.checks import sequence_violations

    rows = [
        # conv A: clean 1,2 then gap to 5 (missing 3..4), then 6 with a
        # timestamp BEFORE turn 2's (regression vs the running max),
        # then 7,8 both 'user' (stutter at 8)
        ("A", 1, "system", "s", None, "2025-01-01 00:00:00"),
        ("A", 2, "user", "u", None, "2025-01-01 00:10:00"),
        ("A", 5, "assistant", "a", None, "2025-01-01 00:20:00"),
        ("A", 6, "assistant", "a2", None, "2025-01-01 00:05:00"),
        ("A", 7, "user", "u2", None, "2025-01-01 00:30:00"),
        ("A", 8, "user", "u3", None, "2025-01-01 00:40:00"),
        # conv B: single turn -> nothing; conv C: gap of exactly one
        ("B", 1, "user", "x", None, "2025-01-01 00:00:00"),
        ("C", 1, "user", "x", None, "2025-01-01 00:00:00"),
        ("C", 3, "assistant", "y", None, "2025-01-01 00:01:00"),
        # null turn_idx row: excluded (schema check's problem)
        ("A", None, "user", "z", None, "2025-01-01 00:50:00"),
        # consecutive 'assistant' at A5->A6 is also a stutter
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).select("conv_id", "turn_idx", "role", "text", "tool", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {
        (r.conv_id, r.turn_idx, r.violation)
        for r in sequence_violations(df).collect()
    }
    assert got == {
        ("A", 5, "Missing turn indexes 3..4"),
        ("A", 6, "Timestamp regression at turn 6"),
        ("A", 6, "Role 'assistant' repeated at turn 6"),
        ("A", 8, "Role 'user' repeated at turn 8"),
        ("C", 3, "Missing turn index 2"),
    }


def test_sequence_violations_duplicate_idx_no_gap_and_tool_role_exempt(spark):
    from pacts_spark.checks import sequence_violations

    rows = [
        # duplicate idx 1 (uniqueness's problem, no gap fired); 'tool'
        # repeats are exempt from the stutter rule
        ("D", 1, "user", "a", None, "2025-01-01 00:00:00"),
        ("D", 1, "assistant", "b", None, "2025-01-01 00:01:00"),
        ("D", 2, "tool", "c", "tool-1", "2025-01-01 00:02:00"),
        ("D", 3, "tool", "d", "tool-2", "2025-01-01 00:03:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).select("conv_id", "turn_idx", "role", "text", "tool", F.col("ts_s").cast("timestamp").alias("ts"))
    assert sequence_violations(df).count() == 0


def test_vector_column_stats_known_answers(spark):
    from pacts_spark.checks.stats import vector_column_stats

    rows = [
        (1, [0.6, 0.8, 0.0, 0.0]),            # norm2 = 1.0 -> 1e12 micro2
        (2, [0.0, 0.0, 0.0, 0.0]),            # zero vector
        (3, None),                             # null
        (4, [1.0, 0.0]),                       # wrong dim
        (5, [float("nan"), 0.0, 0.0, 0.0]),    # NaN element
        (6, [float("inf"), 0.0, 0.0, 0.0]),    # Inf element
        (7, [None, 0.0, 0.0, 0.0]),            # NULL element
        (8, [0.5, 0.5, 0.5, 0.5]),             # norm2 = 1.0
        (9, [2.0, 0.0, 0.0, 0.0]),             # norm2 = 4.0 -> max
        (10, [3e-7, 0.0, 0.0, 0.0]),           # quantizes to all-zero
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = vector_column_stats(df, expected_dim=4).collect()[0]
    assert r.part == "__all__"
    assert r.n_rows == 10 and r.n_null == 1 and r.n_bad_dim == 1
    assert r.n_nonfinite == 3          # NaN, Inf, NULL element
    assert r.n_zero == 2               # exact zero + sub-half-micro
    assert r.min_norm2_micro2 == 0
    assert r.max_norm2_micro2 == 4_000_000_000_000
    # good rows: 0 + 0 + 1e12 + 1e12 + 4e12 -> //1e6 each -> 6e6
    assert r.sum_norm2_micro == 6_000_000

    # per-partition variant groups on the given column
    parts = vector_column_stats(
        df.withColumn("grp", (F.col("vec_id") % 2 == 0).cast("string")),
        expected_dim=4,
        partition_col="grp",
    ).collect()
    assert {p.part for p in parts} == {"true", "false"}
    assert sum(p.n_rows for p in parts) == 10


def test_vector_column_stats_empty_and_all_bad(spark):
    from pacts_spark.checks.stats import vector_column_stats

    df = spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>")
    r = vector_column_stats(df, expected_dim=4).collect()[0]
    assert r.n_rows == 1 and r.n_null == 1
    assert r.min_norm2_micro2 is None and r.sum_norm2_micro is None


def test_anomalous_partitions_spike_sigma_zero_and_empty(spark):
    from pacts_spark.checks.drift import anomalous_partitions

    # one spiked partition among uniform ones: only the spike flags.
    # NOTE k=2, not 3: a single outlier among n_p=10 uniform partitions
    # has z = sqrt(n_p - 1) = 3 exactly under population variance, and
    # the test is strict — the integer math reproduces that boundary
    # EXACTLY (dev² == k²·var at k=3), which floats would fuzz.
    rows = [("p%d" % i, 1000, 10) for i in range(9)] + [("spike", 1000, 500)]
    df = spark.createDataFrame(rows, "part string, n_rows long, n_invalid_rows long")
    got = {r.part: r.anomalous for r in anomalous_partitions(df, k=2).collect()}
    assert got["spike"] is True
    assert sum(got.values()) == 1
    # the exact-boundary case: k=3 must NOT flag (strict inequality)
    got3 = {r.part: r.anomalous for r in anomalous_partitions(df, k=3).collect()}
    assert not any(got3.values())
    # sigma = 0 (all rates equal): strict inequality flags nothing
    flat = spark.createDataFrame(
        [("a", 100, 5), ("b", 200, 10), ("c", 1000, 50)],
        "part string, n_rows long, n_invalid_rows long",
    )
    assert not any(r.anomalous for r in anomalous_partitions(flat, k=1).collect())
    # empty input: empty output, stable schema
    out = anomalous_partitions(df.filter(F.lit(False)))
    assert out.count() == 0 and "anomalous" in out.columns


def test_json_field_type_histogram_all_types(spark):
    from pacts_spark.checks.stats import json_field_type_histogram

    df = spark.createDataFrame(
        [
            ('{"a": "x", "b": 5, "c": null, "d": true, "e": [1], "f": {"g": 1}}',),
            ('{"a": "5", "b": -2.5, "d": false}',),   # quoted number stays string
            ("not json",),                             # invalid payload
            (None,),                                   # missing payload
        ],
        "payload string",
    )
    got = {
        (r.field, r.jtype): r.n
        for r in json_field_type_histogram(
            df, "payload", ["a", "b", "c", "d", "e", "f", "zz"]
        ).collect()
    }
    assert got[("a", "string")] == 2       # "x" AND "5" — quotes preserved
    assert got[("b", "number")] == 2       # 5 and -2.5
    assert got[("c", "null")] == 1 and got[("c", "missing")] == 2
    assert got[("d", "boolean")] == 2
    assert got[("e", "array")] == 1 and got[("f", "object")] == 1
    assert got[("zz", "missing")] == 3     # absent key + NULL payload
    assert got[("a", "invalid")] == 1      # unparseable payload row
    # every field of the invalid row classifies 'invalid'
    assert all(got.get((f, "invalid"), 0) == 1 for f in ["a", "b", "c", "d", "e", "f", "zz"])


def test_conversation_shape_violations_known_answers(spark):
    from pacts_spark.checks.sequence import conversation_shape_violations

    rows = [
        # A: opens user, ends assistant, 3 turns -> clean
        ("A", 1, "user", "q", None), ("A", 2, "assistant", "a", None),
        ("A", 3, "assistant", "b", None),
        # B: opens assistant (bad), ends user (bad), 2 turns
        ("B", 1, "assistant", "x", None), ("B", 2, "user", "y", None),
        # C: 1 turn (below min 2), opener/closer same bad row
        ("C", 7, "tool", None, "t-1"),
        # D: NULL turn_idx rows excluded entirely
        ("D", None, "user", "z", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    got = {
        (r.conv_id, r.turn_idx, r.violation)
        for r in conversation_shape_violations(
            df, open_roles=("system", "user"), close_roles=("assistant",),
            min_turns=2, max_turns=2,
        ).collect()
    }
    assert got == {
        ("B", 1, "Conversation opens with role 'assistant'"),
        ("B", 2, "Conversation ends with role 'user'"),
        ("A", 3, "Conversation has 3 turns (maximum 2)"),
        ("C", 7, "Conversation opens with role 'tool'"),
        ("C", 7, "Conversation ends with role 'tool'"),
        ("C", 7, "Conversation has 1 turns (minimum 2)"),
    }


def test_infer_payload_schema_and_roundtrip_to_compiler(spark, registry, engine):
    """The full loop: raw payloads -> type histogram -> inferred schema
    -> pact schema dict -> compiler validates the SAME payload shape."""
    from pacts_spark.checks.stats import (
        infer_payload_schema,
        json_field_type_histogram,
        schema_dict_from_inference,
    )

    df = spark.createDataFrame(
        [("u1", 1, "hi", None), ("u2", 2, "yo", None), ("u3", None, "z", 1.5)],
        "uid string, k int, text string, drifted double",
    )
    payload = df.select(
        F.to_json(F.struct("uid", "k", "text", "drifted"),
                  {"ignoreNullFields": "false"}).alias("p")
    )
    hist = json_field_type_histogram(payload, "p", ["uid", "k", "text", "drifted", "gone"])
    inf = {r.field: r for r in infer_payload_schema(hist).collect()}
    assert inf["uid"].inferred_type == "string" and inf["uid"].required and not inf["uid"].nullable
    assert inf["k"].inferred_type == "number" and inf["k"].nullable
    assert inf["gone"].inferred_type == "unknown" and not inf["gone"].required
    assert inf["uid"].support_ppm == 1_000_000
    assert inf["k"].support_ppm == 666_666  # 2/3 exact floor

    schema = schema_dict_from_inference(
        [r.asDict() for r in inf.values()], min_support_ppm=600_000
    )
    assert schema["required"] == ["text", "uid"]
    assert schema["properties"]["k"] == {"type": "number"}
    assert schema["properties"]["gone"] == {}  # unknown -> untyped

    # the inferred schema validates the original frame via the compiler
    registry.put("inferred", "payload", schema)
    out = engine.validate_data(df, "inferred", "payload").collect()
    assert all(r.valid for r in out)  # frame matches its own inferred contract


def test_vector_stats_twin_survives_nonfinite_rows(spark, tmp_path):
    """Regression (code-review finding): the DuckDB twin must not CRASH
    on the rows the check exists to count — an unguarded
    CAST(round(NaN*1e6) AS BIGINT) is a ConversionException in DuckDB.
    Runs the ACTUAL oracle SQL against a poisoned corpus and compares
    with the Spark operator."""
    import duckdb

    import __spark_entry__ as entrymod
    from pacts_spark.checks.stats import vector_column_stats

    good = [0.5] * 64
    nan_row = [float("nan")] + [0.0] * 63
    inf_row = [float("inf")] + [0.0] * 63
    huge_row = [1e30] * 64  # unquantizable: micro^2 overflows BIGINT
    df = spark.createDataFrame(
        [(1, good), (2, nan_row), (3, inf_row), (4, None), (5, [1.0, 2.0]),
         (6, huge_row)],
        "vec_id long, embedding array<double>",
    )
    pq = str(tmp_path / "emb.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    oracle = con.execute(entrymod.oracle_sql()["vector_stats_embeddings"]).df()
    got = vector_column_stats(df, expected_dim=64).toPandas()
    o, g = oracle.iloc[0], got.iloc[0]
    assert int(o.n_nonfinite) == int(g.n_nonfinite) == 3  # nan, inf, huge
    assert int(o.n_null) == int(g.n_null) == 1
    assert int(o.n_bad_dim) == int(g.n_bad_dim) == 1
    assert int(o.min_norm2_micro2) == int(g.min_norm2_micro2)
    assert int(o.sum_norm2_micro) == int(g.sum_norm2_micro) == 16_000_000


def test_embedding_centroid_drift_known_answer(spark):
    """Spiked partition drifts, aligned partitions don't; negative-sum
    dims exercise the toward-zero truncation both engines share."""
    from pacts_spark.checks.drift import embedding_centroid_drift

    aligned = [1.0, 0.5, -0.25, 0.0]
    rows = (
        [("a", aligned)] * 4
        + [("b", [0.9, 0.55, -0.2, 0.05])] * 4     # near-aligned
        + [("c", [-1.0, -0.5, 0.25, 0.0])] * 4     # anti-aligned -> dot < 0
    )
    df = spark.createDataFrame(rows, "part string, embedding array<double>")
    got = {r.part: r for r in embedding_centroid_drift(df, min_cos_ppm=900_000).collect()}
    assert not got["a"].drifted and not got["b"].drifted
    assert got["c"].drifted and got["c"].dot <= 0
    assert got["a"].n_vecs == 4
    # exact integer pipeline: micro-quantized aligned vector, milli centroid
    # global centroid: per-dim mean of all 12 rows
    assert got["a"].norm2_part == 1000**2 + 500**2 + 250**2  # milli units
    # empty input: empty output, stable schema
    assert embedding_centroid_drift(df.filter(F.lit(False))).count() == 0
