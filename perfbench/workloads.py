"""The workloads. Each one generates its inputs from the seed, runs one
pass through the package's public functions, checks the pass's outputs
against an independent DuckDB or pure-Python answer, and, for the traced
run, materializes its isolated layers with the ``noop`` sink (``count()``
would column-prune the projection)."""

from __future__ import annotations

import hashlib
import json
import math
import statistics
import time
from pathlib import Path

import duckdb

import gen
from pacts_spark.checkpoint import ValidationManifest
from pacts_spark.checks import (
    category_histogram,
    column_stats,
    drift_scores,
    gap_quantiles,
    ri_violations,
    uniqueness_violations,
)
from pacts_spark.compiler import compile_relational
from pacts_spark.engine import PactsEngine
from pacts_spark.model import parse_envelopes
from pacts_spark.oracle import validate_envelope
from pacts_spark.registry import SchemaRegistry
from pacts_spark.runner import ValidationRun, day_part
from pacts_spark.table import ParquetTableAdapter
from pacts_spark.transcripts import tools_dim

# same contract as __spark_entry__.PROPS_CHECK_SCHEMA
PROPS_CHECK_SCHEMA = {
    "type": "object",
    "properties": {"k": {"type": "integer"}},
    "required": ["k", "v"],
}
TOOLS_IN = "(" + ", ".join(f"'{t}'" for t in gen.TOOLS) + ")"
STAT_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pq(path: Path) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _digest(rows) -> str:
    return hashlib.md5(repr(sorted(map(repr, rows))).encode()).hexdigest()


class Workload:
    rows_unit = "rows"
    warmup_passes = 1
    min_passes = 1  # timed passes of an untraced run, at the least

    def __init__(self, root: Path, work: Path, seed: int) -> None:
        self.root, self.work, self.seed = root, work, seed
        self.out = work / "out"

    def load_registry(self) -> None:
        reg = SchemaRegistry("bees", "v1", schema_root=self.root / "schemas")
        reg.load_dir(self.root / "schemas")
        reg.put("events", "props_check", PROPS_CHECK_SCHEMA)
        self.reg = reg
        self.engine = PactsEngine(reg)

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Read the generated inputs and compute the expected answers."""

    def run_pass(self, spark, tr, i: int) -> None:
        """Pass ``i``; passes below ``warmup_passes`` are the untimed warm-up."""
        raise NotImplementedError

    def check(self, i: int) -> bool:
        """Whether the outputs of timed pass ``i`` (``i >= 1``) are right."""
        raise NotImplementedError

    def layers(self, spark, tr) -> None:
        """Isolated-layer spans of the traced run."""

    def layer_checks(self, tr) -> dict:
        """Checks on the traced run's counters, as ``{name: passed}``."""
        return {}


# ------------------------------------------------------------ batch_full --


def _tagged_sql(t: str, convs: str) -> str:
    """One row per violation (schema rows carry their error count), the
    checks of ``ValidationRun.run`` restated in DuckDB."""
    return f"""
WITH t AS (SELECT *, CAST(CAST(ts AS DATE) AS VARCHAR) AS part FROM {t}),
dups AS (SELECT conv_id, turn_idx FROM t GROUP BY 1, 2 HAVING count(*) > 1),
tagged AS (
  SELECT part, 'schema' AS chk,
         CAST(conv_id IS NULL AS INT) + CAST(turn_idx IS NULL AS INT)
         + CAST(role IS NULL AS INT) + CAST(text IS NULL AS INT)
         + CAST(ts IS NULL AS INT) AS n,
         CAST(conv_id IS NULL OR turn_idx IS NULL OR role IS NULL
              OR text IS NULL OR ts IS NULL AS INT) AS invalid
  FROM t
  UNION ALL
  SELECT t.part, 'uniqueness', 1, 0 FROM t JOIN dups d
    ON t.conv_id IS NOT DISTINCT FROM d.conv_id
   AND t.turn_idx IS NOT DISTINCT FROM d.turn_idx
  UNION ALL
  SELECT part, 'referential_conv', 1, 0 FROM t
  WHERE conv_id IS NOT NULL AND conv_id NOT IN (SELECT conv_id FROM {convs})
  UNION ALL
  SELECT part, 'referential_tool', 1, 0 FROM t
  WHERE tool IS NOT NULL AND tool NOT IN {TOOLS_IN}
)"""


class BatchFull(Workload):
    """``ValidationRun.run()`` writing all five outputs over a
    materialized transcripts table. Its traced run also times the
    resume path (``scan_pending`` -> ``run_and_write`` ->
    ``manifest.record``) once, with most days already in the manifest."""

    rows_unit = "turns"
    N_EVENTS, N_USERS, REPLICAS, DAYS, PENDING = 50_000, 1_500, 4, 10, 2
    OUTPUTS = ("violations", "verdicts", "stats", "drift", "gaps")

    def generate(self) -> None:
        gen.transcripts(
            self.work, self.N_EVENTS, self.N_USERS, self.DAYS, self.REPLICAS, self.seed
        )

    def prepare(self, spark) -> None:
        self.t = spark.read.parquet(str(self.work / "transcripts"))
        self.t_warm = spark.read.parquet(str(self.work / "transcripts" / "part-0.parquet"))
        self.convs = spark.read.parquet(str(self.work / "convs"))
        self.tools = tools_dim(spark)
        self.run = ValidationRun(self.engine)
        con = duckdb.connect()
        self.t_sql, self.c_sql = _pq(self.work / "transcripts"), _pq(self.work / "convs")
        self.n_rows = con.execute(f"SELECT count(*) FROM {self.t_sql}").fetchone()[0]
        tagged = _tagged_sql(self.t_sql, self.c_sql)
        self.exp_counts = dict(
            con.execute(
                f"{tagged} SELECT chk, CAST(sum(n) AS BIGINT) FROM tagged"
                " GROUP BY chk HAVING sum(n) > 0"
            ).fetchall()
        )
        # the shape of __spark_entry__._VERDICTS_SQL over the materialized table
        self.exp_verdicts = sorted(
            con.execute(
                f"""{tagged}
SELECT part, sum(n) = 0,
       CAST(sum(n) AS BIGINT),
       CAST(sum(invalid) AS BIGINT),
       CAST(count(*) FILTER (WHERE chk = 'schema') AS BIGINT)
FROM tagged GROUP BY part"""
            ).fetchall()
        )
        self.metrics_digest = None

    def run_pass(self, spark, tr, i: int) -> None:
        # the warm-up reads one of the gen.FILES files: the same plans
        # compile at a quarter of the rows (the pass is mostly fixed cost)
        t = self.t_warm if i == 0 else self.t
        res = self.run.run(spark, t, conversations=self.convs, tools=self.tools)
        for name in self.OUTPUTS:
            with tr.span(f"runner.{name}"):
                getattr(res, name).write.mode("overwrite").parquet(str(self.out / name))

    def check(self, i: int) -> bool:
        con = duckdb.connect()
        counts = dict(
            con.execute(
                f'SELECT "check", count(*) FROM {_pq(self.out / "violations")} GROUP BY 1'
            ).fetchall()
        )
        verdicts = sorted(
            con.execute(
                "SELECT CAST(part AS VARCHAR), pass, n_violations, n_invalid_rows, n_rows"
                f" FROM {_pq(self.out / 'verdicts')}"
            ).fetchall()
        )
        digest = _digest(
            row
            for name in ("stats", "drift", "gaps")
            for row in con.execute(f"SELECT * FROM {_pq(self.out / name)}").fetchall()
        )
        if self.metrics_digest is None:
            self.metrics_digest = digest
        return (
            counts == self.exp_counts
            and verdicts == self.exp_verdicts
            and digest == self.metrics_digest
        )

    def layers(self, spark, tr) -> None:
        t, part = self.t, day_part()
        schema = self.reg.load_schema("transcripts", "turn")
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            compile_relational(schema, t.schema)
            walls.append(time.perf_counter() - t0)
        tr.record("compiler", statistics.median(walls))
        spans = {
            "scan": lambda: t,
            "engine.validate_data": lambda: self.engine.validate_data(
                t, "transcripts", "turn"
            ),
            "checks.uniqueness": lambda: uniqueness_violations(
                t, ["conv_id", "turn_idx"], method="hash"
            ),
            "checks.referential": lambda: ri_violations(t, self.convs, "conv_id").unionByName(
                ri_violations(t, self.tools, "tool")
            ),
            "checks.stats": lambda: column_stats(t, STAT_COLS, partition_col=part),
            "checks.drift": lambda: drift_scores(
                category_histogram(t, "role", part), category_histogram(t, "role")
            ),
            "checks.timegaps": lambda: gap_quantiles(t, partition_col=part),
        }
        for name, build in spans.items():
            with tr.span(name):
                _noop(build())
        self.resume_increment(spark, tr)

    def resume_increment(self, spark, tr) -> None:
        """One increment of the production job path: all days but
        ``PENDING`` are already validated in the manifest."""
        days = gen.day_names(self.DAYS)
        pending = gen.pending_days(self.seed, self.PENDING, self.DAYS)
        done = [(d, True, 0, 0) for d in days if d not in pending]
        manifest = ValidationManifest(self.work / "manifest")
        manifest.record(
            spark.createDataFrame(done, "part string, pass boolean, n_rows long, n_violations long"),
            run_id="seed",
            seq=0,
        )
        with tr.span("table.scan_pending"):
            todo = ParquetTableAdapter().scan_pending(
                spark, str(self.work / "transcripts"), manifest
            )
            _noop(todo)
        with tr.span("runner.run_and_write"):
            out = self.run.run_and_write(
                spark, todo, str(self.work / "resume"), conversations=self.convs,
                tools=self.tools, run_id="increment", seq=1, pending_filtered=True,
            )
        with tr.span("checkpoint.record"):
            manifest.record(spark.read.parquet(out["verdicts_path"]), run_id="increment", seq=1)
        in_days = "(" + ", ".join(f"'{d}'" for d in pending) + ")"
        tagged = _tagged_sql(
            f"(SELECT * FROM {self.t_sql} WHERE CAST(CAST(ts AS DATE) AS VARCHAR) IN {in_days})",
            self.c_sql,
        )
        con = duckdb.connect()
        expected = con.execute(
            f"""{tagged}
SELECT part, CASE WHEN sum(n) = 0 THEN 'validated' ELSE 'failed' END,
       CAST(count(*) FILTER (WHERE chk = 'schema') AS BIGINT), CAST(sum(n) AS BIGINT)
FROM tagged GROUP BY part"""
        ).fetchall() + [(d, "validated", 0, 0) for d, *_ in done]
        state = con.execute(
            f"""
SELECT part, status, n_rows, n_violations FROM {_pq(self.work / 'manifest')}
QUALIFY row_number() OVER (PARTITION BY part ORDER BY finished_seq DESC) = 1"""
        ).fetchall()
        self.manifest_ok = sorted(state) == sorted(expected)

    def layer_checks(self, tr) -> dict:
        return {
            "scan.rows_out == n_turns": tr.rows_out("scan") == self.n_rows,
            "manifest after the resume increment": getattr(self, "manifest_ok", False),
        }


# -------------------------------------------------------- json_envelopes --


class JsonEnvelopes(Workload):
    """``parse_envelopes`` -> ``validate_envelopes`` over generated
    envelope JSON with a fixed mix of outcomes (``gen.ENVELOPE_MIX``).
    Its traced run also runs the curation sweep once (``curation_sweep``)."""

    rows_unit = "envelopes"
    # the two passes after the first one are still 10-40% slower than the
    # rest; a pass is short, so the median of three is cheap
    warmup_passes = 3
    min_passes = 3
    N = 200_000
    SAMPLE_MOD = 997

    def generate(self) -> None:
        gen.envelopes(self.work, self.N, self.seed)

    def prepare(self, spark) -> None:
        self.src = spark.read.parquet(str(self.work / "envelopes")).select("env_id", "value")
        con = duckdb.connect()
        src = _pq(self.work / "envelopes")
        self.n_rows, self.n_valid = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE \"case\" IN {gen.VALID_CASES})"
            f" FROM {src}"
        ).fetchone()
        # error strings of a seeded sample, from the pure-Python reference
        schemas = self.reg.as_validator_dict()
        self.sample = {}
        for env_id, value in con.execute(
            f"SELECT env_id, value FROM {src}"
            f" WHERE env_id % {self.SAMPLE_MOD} = {self.seed % self.SAMPLE_MOD}"
        ).fetchall():
            try:
                env = json.loads(value)
            except ValueError:
                env = {}
            self.sample[env_id] = validate_envelope(
                env.get("header"), env.get("data"), schemas
            ).error_message

    def run_pass(self, spark, tr, i: int) -> None:
        parsed = parse_envelopes(self.src, keep=("env_id",))
        out = self.engine.validate_envelopes(parsed).select("env_id", "valid", "error_message")
        out.write.mode("overwrite").parquet(str(self.out / "validated"))

    def check(self, i: int) -> bool:
        con = duckdb.connect()
        out = _pq(self.out / "validated")
        n, n_valid = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE valid) FROM {out}"
        ).fetchone()
        sample = dict(
            con.execute(
                f"SELECT env_id, error_message FROM {out}"
                f" WHERE env_id % {self.SAMPLE_MOD} = {self.seed % self.SAMPLE_MOD}"
            ).fetchall()
        )
        return n == self.n_rows and n_valid == self.n_valid and sample == self.sample

    def layers(self, spark, tr) -> None:
        with tr.span("model.parse_envelopes"):
            _noop(parse_envelopes(self.src, keep=("env_id",)))
        with tr.span("engine.validate_envelopes"):
            _noop(self.engine.validate_envelopes(parse_envelopes(self.src, keep=("env_id",))))
        self.sweep_checks = curation_sweep(spark, tr, self.work, self.seed)

    def layer_checks(self, tr) -> dict:
        return getattr(self, "sweep_checks", {"curation sweep": False})


# -------------------------------------------------------- curation sweep --

# the datapipe operators of __spark_entry__.queries() the sweep runs
SWEEP = (
    "cosine_nn_embeddings",
    "ivf_cosine_nn",
    "ann_nn_embeddings",
    "lsh_neardup_embeddings",
    "pq_topk_embeddings",
    "semantic_dedup_embeddings",
    "kmeans_clusters_embeddings",
    "embedding_decontamination",
    "curation_pipeline",
    "conversation_neardup_transcripts",
)


def _cell(v) -> str:
    """A value as the contract check compares it: floats to 6 places."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(map(_cell, v)) + "]"
    return str(v)


def _frame(rel) -> tuple:
    """A DuckDB result as its sorted column names and the sorted multiset
    of its rows."""
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=cols.__getitem__)
    rows = sorted(tuple(_cell(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def curation_sweep(spark, tr, work: Path, seed: int) -> dict:
    """Each operator of ``SWEEP`` built and written once, as the isolated
    span ``datapipe.<query>``. Afterwards each output is compared with its
    ``oracle_sql()`` twin over the same generated tables. Returns
    ``{check name: passed}``; an operator that raises fails its check."""
    import __spark_entry__ as entry

    sf = work / "sf"
    gen.curation(sf, seed)
    queries, oracles = entry.queries(), entry.oracle_sql()
    written = []
    for name in SWEEP:
        with tr.span(f"datapipe.{name}"):
            try:
                queries[name](spark, str(sf)).write.mode("overwrite").parquet(
                    str(work / "sweep" / name)
                )
                written.append(name)
            except Exception:  # noqa: BLE001 — a failed operator is a failed check
                pass
    con = duckdb.connect()
    for t in gen.CURATION_TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf}/{t}.parquet'")
    return {
        f"datapipe.{name} == oracle_sql": name in written
        and _frame(con.execute(f"FROM {_pq(work / 'sweep' / name)}"))
        == _frame(con.execute(oracles[name]))
        for name in SWEEP
    }


WORKLOADS = {
    "batch_full": BatchFull,
    "json_envelopes": JsonEnvelopes,
}
