"""Physical-plan regression guards for the 100 TB properties.

PLANS.md documents the plans the engine is designed to produce; these
tests PIN the load-bearing shapes so a refactor cannot silently
reintroduce a scale-killer:

- no CartesianProduct anywhere in the contract queries (the
  deliberate cross joins — drift's parts x one baseline row, the exact
  vector grid's rows x one count row — broadcast an aggregate-sized side
  and must never degrade to a cartesian);
- the row validator against a MATERIALIZED table is scan -> projection
  with zero exchanges (the whole-corpus fast path);
- referential integrity is a broadcast LEFT ANTI hash join (never a
  shuffle join on the fact side);
- column stats compute every column's aggregates in ONE shuffle, with
  one HLL sketch in an ObjectHashAggregate (no sort-based aggregate);
- drift scores plan at most 6 exchanges, and ``ValidationRun.run``'s
  drift scans its input once (the baseline reuses the per-part
  histogram's exchange) and writes in at most 3 jobs;
- ``ValidationRun.run`` derives violations and verdicts from one
  flagged frame: each plan reads the input twice (the scan and the
  duplicate-key groupBy) and holds one broadcast ``ExistenceJoin`` per
  dimension, with no branch ``Union`` and no RI ``LeftAnti``;
- the validator's scan is column-pruned to the columns the schema
  actually checks;
- no output of a relational ``ValidationRun.run`` holds a Python-fed RDD
  or a Python evaluation in its optimized plan (literal frames are JVM
  ``LocalRelation``s);
- ``run()``'s uniqueness is the plain groupBy on the key: neither the
  violations nor the verdicts plan holds an ``xxhash64`` (the removed
  hash-first detector's phase 1);
- a resumed read of a table without a partition column, and ``run()``
  holding a manifest, is one filter on ``cast(ts as date) IN (<date
  literals>)``: no manifest join, no per-row string cast;
- the vector grid router sizes keyed groups on the scoring exchange
  (one exchange below the LSH block scoring) and the unkeyed grid with
  a broadcast count that runs no job at plan build.

Plan text comes from queryExecution().executedPlan() BEFORE execution
(AQE's initial plan) — these are static properties of the compiled
plan, not runtime measurements. The one exception is exchange reuse,
which AQE decides at stage creation: that test reads the final plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# queries whose construction executes Spark jobs (iterative/materializing
# operators): their RESULT plan is a scan of checkpointed labels, so the
# cartesian guard below would inspect the wrong thing anyway — and
# building them per-test is slow. They are covered by their own tests.
_CONSTRUCTION_EXECUTES = {"dedup_clusters_documents", "conversation_state_finals"}


def test_no_cartesian_product_in_any_contract_query(spark):
    bad = {}
    for name, fn in entry.queries().items():
        if name in _CONSTRUCTION_EXECUTES:
            continue
        plan = _plan(fn(spark, str(SF_SMALL)))
        if "CartesianProduct" in plan:
            bad[name] = plan
    assert not bad, f"cartesian products in: {sorted(bad)}"


def test_validator_is_scan_project_only_on_materialized_table(
    spark, engine, tmp_path
):
    """Against a materialized transcripts table (the production shape —
    the window shuffle in the contract queries belongs to the test
    fixture's events->transcripts derivation, not the validator), the
    compiled row validator must be scan -> codegen projection: NO
    exchange, NO Python."""
    path = str(tmp_path / "turns")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    t = spark.read.parquet(path)
    validated = engine.validate_data(t, "transcripts", "turn")
    plan = _plan(validated)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_verdicts_plan_has_no_range_sort_or_explode(spark, engine, tmp_path):
    """On a materialized transcripts table the verdict action is one
    aggregate of the flagged frame: the violations' range exchange (and
    its sampling job) and their (check, violation) inline belong to the
    violations output only."""
    from pacts_spark.runner import ValidationRun
    from pacts_spark.transcripts import conversations_dim, tools_dim

    path = str(tmp_path / "turns")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    res = ValidationRun(engine).run(
        spark,
        spark.read.parquet(path),
        conversations=conversations_dim(events),
        tools=tools_dim(spark),
    )
    plan = _plan(res.verdicts)
    assert "rangepartitioning" not in plan, plan
    assert "Generate" not in plan, plan
    assert "rangepartitioning" in _plan(res.violations)


def test_run_outputs_plan_no_python(spark, engine, tmp_path):
    """A relational ``run()`` over a materialized table, parquet
    conversations and ``tools_dim`` runs no Python: no output's optimized
    plan holds a Python-fed RDD (``createDataFrame`` over a list) or a
    Python UDF evaluation."""
    import re

    from pacts_spark.runner import ValidationRun
    from pacts_spark.transcripts import conversations_dim, tools_dim

    path, convs = str(tmp_path / "turns"), str(tmp_path / "convs")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    conversations_dim(events).write.parquet(convs)
    tools = tools_dim(spark)
    assert sorted(r.tool for r in tools.collect()) == [f"tool-{i}" for i in range(5)]
    res = ValidationRun(engine).run(
        spark,
        spark.read.parquet(path),
        conversations=spark.read.parquet(convs),
        tools=tools,
    )
    for name in ("violations", "verdicts", "stats", "drift", "gaps"):
        plan = getattr(res, name)._jdf.queryExecution().optimizedPlan().toString()
        assert not re.search(r"LogicalRDD|ExistingRDD|EvalPython", plan), (name, plan)


def test_check_outputs_read_input_twice_with_existence_joins(spark, engine, tmp_path):
    """Violations and verdicts both derive from the flagged frame: each
    plan scans the transcripts table twice (the validated rows and the
    duplicate-key groupBy) and holds one ExistenceJoin per dimension; no
    per-check branch is unioned and no RI anti-join remains."""
    from pacts_spark.runner import ValidationRun
    from pacts_spark.transcripts import conversations_dim, tools_dim

    path = str(tmp_path / "turns")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    res = ValidationRun(engine).run(
        spark,
        spark.read.parquet(path),
        conversations=conversations_dim(events),
        tools=tools_dim(spark),
    )
    for name in ("violations", "verdicts"):
        plan = _plan(getattr(res, name))
        # the events scan (conversations dimension) reads no turn_idx
        scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "turn_idx" in ln]
        assert len(scans) == 2, (name, plan)
        assert plan.count("ExistenceJoin") == 2, (name, plan)
        assert "Union" not in plan and "LeftAnti" not in plan, (name, plan)


def test_run_uniqueness_is_plain_groupby(spark, engine, tmp_path):
    """``run()`` finds duplicate keys with one groupBy on (conv_id,
    turn_idx): no ``xxhash64`` in the violations or verdicts plan."""
    from pacts_spark.runner import ValidationRun
    from pacts_spark.transcripts import conversations_dim, tools_dim

    path = str(tmp_path / "turns")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    res = ValidationRun(engine).run(
        spark,
        spark.read.parquet(path),
        conversations=conversations_dim(events),
        tools=tools_dim(spark),
    )
    for name in ("violations", "verdicts"):
        plan = getattr(res, name)._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64" not in plan, (name, plan)
        assert "Aggregate [conv_id#" in plan, (name, plan)


def test_ri_check_is_broadcast_anti_join(spark):
    from pacts_spark.checks import ri_violations

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    plan = _plan(
        ri_violations(
            orders, cust, "o_custkey", "c_custkey",
            select_cols=["o_orderkey", "o_custkey"],
        )
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_colstats_all_columns_in_one_shuffle(spark):
    from pacts_spark.checks import column_stats

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    plan = _plan(
        column_stats(
            li,
            ["l_orderkey", "l_partkey", "l_returnflag"],
            partition_col="l_linestatus",
        )
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_colstats_one_hll_sketch_in_object_hash_aggregate(spark):
    """The approximate distinct count is ONE DataSketches HLL sketch per
    (part, column) group, in an ObjectHashAggregate: no HLL++
    (approx_count_distinct) and no SortAggregate over the exploded
    entries."""
    import re

    from pacts_spark.checks import column_stats

    t = entry._transcripts(spark, str(SF_SMALL))
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    plan = _plan(column_stats(t, cols, partition_col="role"))
    # the final aggregate's sketch; the map side's is partial_hll_sketch_agg
    assert len(re.findall(r"\bhll_sketch_agg\(", plan)) == 1, plan
    assert "approx_count_distinct" not in plan and "SortAggregate" not in plan, plan
    assert "ObjectHashAggregate" in plan, plan


def test_drift_plan_has_at_most_six_exchanges(spark, tmp_path):
    """Drift over a table's role histograms: the two histogram shuffles
    and the baseline's broadcast (both inputs are scored in one task) —
    no join-built (part, category) domain."""
    from pacts_spark.checks import category_histogram, drift_scores
    from pacts_spark.runner import day_part

    path = str(tmp_path / "turns")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    t = spark.read.parquet(path)
    plan = _plan(
        drift_scores(
            category_histogram(t, "role", day_part()), category_histogram(t, "role")
        )
    )
    assert plan.count("Exchange") <= 6, plan


def test_run_drift_scans_input_once(spark, engine, tmp_path):
    """``run()`` scores drift against its own per-part role histogram
    summed over parts, so the baseline side is a ReusedExchange of the
    current side's aggregate and the input is scanned once, not twice."""
    from pacts_spark.runner import ValidationRun

    path = str(tmp_path / "turns")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    drift = ValidationRun(engine).run(spark, spark.read.parquet(path)).drift
    drift.collect()
    final = _plan(drift).split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1, final
    assert "ReusedExchange" in final, final


def test_run_drift_writes_in_at_most_three_jobs(spark, engine, tmp_path):
    """Both drift inputs are histograms (one row per part and category),
    scored in one task: writing ``run().drift`` runs the histogram's map
    stage, the baseline's broadcast and the write — at most 3 jobs."""
    from pacts_spark.runner import ValidationRun

    path = str(tmp_path / "turns")
    entry._transcripts(spark, str(SF_SMALL)).write.parquet(path)
    drift = ValidationRun(engine).run(spark, spark.read.parquet(path)).drift
    sc = spark.sparkContext
    group = "test-run-drift-jobs"
    sc.setJobGroup(group, "run().drift write")
    try:
        drift.write.parquet(str(tmp_path / "drift"))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 3, list(jobs)


def test_validator_scan_is_column_pruned(spark, engine):
    """The orders check schema touches 5 of the table's 6 columns;
    o_orderpriority must not be read (ReadSchema pruning — at 100 TB an
    unpruned scan is the difference between reading checked columns and
    reading everything)."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    reg_engine = entry._engine()
    validated = reg_engine.validate_data(orders, "tpch", "orders_check").select(
        "o_orderkey", "valid", "error_message"
    )
    plan = _plan(validated)
    assert "o_orderpriority" not in plan, plan
    assert "o_orderdate" not in plan, plan


def test_df_cap_broadcasts_hot_set_not_kept_set(spark):
    """The df-cap inverted indexes (n-gram Jaccard, winnow overlap) must
    broadcast only the small HOT set (df > cap, boilerplate by
    construction) as a LeftAnti removal — never the corpus-sized kept
    set. A BroadcastHashJoin with Inner join type on the shingle /
    fingerprint key is exactly the 100 TB driver-OOM plan this guards
    against."""
    from pacts_spark.datapipe.dedup import ngram_jaccard_pairs
    from pacts_spark.datapipe.textstats import winnow_overlap_pairs

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    for q in (
        ngram_jaccard_pairs(docs),
        winnow_overlap_pairs(docs),
    ):
        # assert on the optimized LOGICAL plan's explicit hints: at tiny
        # SF Catalyst's stats-based planner broadcasts the small self-join
        # sides too, which is size-driven and correct — the scale defect
        # is an explicit broadcast() HINT, which forces the broadcast
        # regardless of estimated size.
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        hinted = [
            ln
            for ln in plan.splitlines()
            if "strategy=broadcast" in ln
            and ("shingle" in ln or "fingerprint" in ln)
        ]
        assert hinted, plan  # the hot-set anti-join must carry the hint
        for ln in hinted:
            assert "Join LeftAnti" in ln, plan


def test_resume_scan_prunes_partitions_at_source(spark, tmp_path):
    """Iceberg-seam contract (table adapter): a RESUMED read over a
    physically partitioned table must carry the validated-partition
    exclusion as a PartitionFilter on the scan — directories of validated
    partitions are pruned at file listing, so resume I/O is proportional
    to PENDING data (a row-level filter would still read and decode
    every file)."""
    from pacts_spark.checkpoint import ValidationManifest
    from pacts_spark.table import ParquetTableAdapter

    df = spark.createDataFrame(
        [("c1", 1, "2026-01-01"), ("c2", 1, "2026-01-02"), ("c3", 2, "2026-01-02")],
        "conv_id string, turn_idx int, part string",
    )
    tbl = str(tmp_path / "transcripts_parted")
    df.write.partitionBy("part").parquet(tbl)

    manifest = ValidationManifest(str(tmp_path / "manifest"))
    manifest.record(
        spark.createDataFrame(
            [("2026-01-01", 1, 0, True)],
            "part string, n_rows long, n_violations long, pass boolean",
        ),
        run_id="r1",
        seq=1,
    )

    pending = ParquetTableAdapter().scan_pending(spark, tbl, manifest)
    plan = _plan(pending)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines, plan
    # the exclusion must sit in PartitionFilters (source pruning), and the
    # post-scan side must NOT re-filter (no Filter node above the scan)
    assert "PartitionFilters: [" in plan, plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "2026-01-01" in pf, plan
    # hive partition inference types `part` as DATE — stringify to compare
    assert {str(r.part) for r in pending.select("part").distinct().collect()} == {
        "2026-01-02"
    }
    # validated part recorded as FAILED later (higher seq) becomes pending again
    manifest.record(
        spark.createDataFrame(
            [("2026-01-01", 1, 5, False)],
            "part string, n_rows long, n_violations long, pass boolean",
        ),
        run_id="r2",
        seq=2,
    )
    again = ParquetTableAdapter().scan_pending(spark, tbl, manifest)
    assert {str(r.part) for r in again.select("part").distinct().collect()} == {
        "2026-01-01",
        "2026-01-02",
    }


def test_resume_without_partition_column_is_one_date_filter(spark, engine, tmp_path):
    """A resumed read of an unpartitioned table, and ``run()`` holding the
    manifest, filter on ``cast(ts as date) IN (<validated days>)``: the
    manifest's strings are cast once to date literals, the partition is
    never cast to string per row, and no join with the manifest is
    planned."""
    import re
    from datetime import datetime

    from pacts_spark.checkpoint import ValidationManifest
    from pacts_spark.runner import ValidationRun
    from pacts_spark.table import ParquetTableAdapter

    days = [datetime(2026, 1, d, 9) for d in (1, 2, 3)]
    df = spark.createDataFrame(
        [(f"c{i}", 1, "user", "x", ts, None) for i, ts in enumerate(days + [None])],
        "conv_id string, turn_idx int, role string, text string, ts timestamp, tool string",
    )
    tbl = str(tmp_path / "flat")
    df.write.parquet(tbl)
    manifest = ValidationManifest(str(tmp_path / "manifest"))
    manifest.record(
        spark.createDataFrame(
            [("2026-01-01", 1, 0, True), ("2026-01-03", 1, 0, True)],
            "part string, n_rows long, n_violations long, pass boolean",
        ),
        run_id="r1",
        seq=1,
    )
    # the manifest is collected unordered: either literal order is fine
    in_days = re.compile(
        r"NOT cast\(ts#\d+ as date\) IN \((2026-01-01,2026-01-03|2026-01-03,2026-01-01)\)"
    )
    as_string = re.compile(r"cast\(cast\(ts#\d+ as date\) as string\)")

    pending = ParquetTableAdapter().scan_pending(spark, tbl, manifest)
    plan = _plan(pending)
    filters = [ln for ln in plan.splitlines() if "Filter (" in ln and "FileScan" not in ln]
    assert len(filters) == 1 and in_days.search(filters[0]), plan
    assert "Join" not in plan and not as_string.search(plan), plan
    assert sorted(r.conv_id for r in pending.collect()) == ["c1", "c3"]

    run = ValidationRun(engine, manifest=manifest)
    plan = _plan(run.run(spark, spark.read.parquet(tbl)).verdicts)
    assert in_days.search(plan), plan
    assert "LeftAnti" not in plan and not as_string.search(plan), plan


def test_iceberg_adapter_refuses_without_runtime(spark):
    """The Iceberg adapter must fail at WIRING time (clear RuntimeError)
    when the runtime jar is absent — not mid-run with a Py4J stack."""
    import pytest as _pytest

    from pacts_spark.table import get_adapter

    with _pytest.raises(RuntimeError, match="Iceberg runtime"):
        get_adapter("iceberg", spark)
    with _pytest.raises(ValueError, match="unknown table format"):
        get_adapter("csv")


def test_healthy_vector_gate_is_a_scan_level_filter(spark, tmp_path):
    """The gate must compile to ONE codegen'd Filter directly over the
    parquet scan — size/forall/exists in the scan's DataFilters, the
    isnotnull residual pushed to the reader, and NO exchange/UDF between
    scan and filter (at 100 TB the gate must ride the scan, not a
    shuffle)."""
    from pacts_spark.datapipe.similarity import healthy_vectors

    pq = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(1, [0.5] * 4), (2, None)], "vec_id long, embedding array<double>"
    ).write.parquet(pq)
    df = spark.read.parquet(pq)
    plan = (
        healthy_vectors(df, dim=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_filter = [
        ln for ln in plan.splitlines() if "Filter" in ln and "Scan" not in ln
    ]
    assert len(scan_filter) == 1, plan          # exactly one Filter node
    assert "Exchange" not in plan, plan         # no shuffle for a row filter
    assert "Python" not in plan, plan           # pure Column, no UDF
    lower = plan.lower()
    assert "isnotnull(embedding" in lower, plan # null test reaches the scan
    assert "forall" in lower and "exists" in lower, plan


def _subtree(plan: str, marker: str) -> list[str]:
    """Lines of the first plan node containing ``marker`` and its subtree
    (deeper-indented lines that follow it)."""
    lines = plan.splitlines()
    top = next(i for i, ln in enumerate(lines) if marker in ln)
    depth = len(lines[top]) - len(lines[top].lstrip(" :+-"))
    sub = [lines[top]]
    for ln in lines[top + 1 :]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        sub.append(ln)
    return sub


def test_lsh_near_pairs_one_exchange_below_block_scoring(spark):
    """The (band, bucket) window count that sizes the grid and the block
    scoring groupBy ride ONE full-volume exchange (PLANS.md §10): the
    scoring keys extend the window's hash partitioning."""
    from pacts_spark.datapipe.similarity import lsh_cosine_near_pairs

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    plan = _plan(lsh_cosine_near_pairs(emb, dim=64, threshold=0.4))
    exchanges = [
        ln for ln in _subtree(plan, "FlatMapGroupsInPandas") if "Exchange" in ln
    ]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(band" in exchanges[0], plan


def test_exact_grid_sized_by_broadcast_count_without_jobs(spark):
    """The unkeyed exact grid takes its size from a one-row count
    broadcast onto the rows: a BroadcastNestedLoopJoin, never a
    CartesianProduct, and building the plan (dim given) runs no job."""
    from pacts_spark.datapipe.similarity import cosine_pairs

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    sc = spark.sparkContext
    group = "test-exact-grid-plan-build"
    sc.setJobGroup(group, "cosine_pairs plan build")
    try:
        plan = _plan(cosine_pairs(emb, threshold=0.4, dim=64))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == [], jobs
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
