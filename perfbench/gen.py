"""Seeded input generators, written in DuckDB so that generating inputs
does not exercise the Spark code under test. The same seed gives the same
parquet files.

Row content comes from DuckDB's ``hash`` of one string made of the row,
the seed and a salt. (``hash(a, b, c)`` of several arguments combines the
argument hashes so that their low bits correlate across salts.) The events
table has the columns and value ranges of the sf testdata ``events`` table
(days from 2024-01-01, five event types, ``props = '{"k": 0..99}'``);
transcripts are derived from it by ``__spark_entry__.TRANSCRIPTS_SQL``,
the DuckDB twin of ``pacts_spark.transcripts.transcripts_from_events``.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

import duckdb

from __spark_entry__ import TRANSCRIPTS_SQL

START = "TIMESTAMP '2024-01-01'"
EVENT_TYPES = ["signup", "view", "error", "purchase", "click"]
TOOLS = [f"tool-{i}" for i in range(5)]  # pacts_spark.transcripts.tools_dim
FILES = 4  # one file per core, so the scan has one split per core


def _hash(*parts) -> str:
    """SQL for the hash of ``parts`` (columns or numbers) joined by '/'."""
    return f"hash(concat_ws('/', {', '.join(map(str, parts))}))"


def _h(seed: int, salt: int) -> str:
    return _hash("i", seed, salt)


def _write(con, select: str, out: Path, key: str) -> None:
    """``select`` as ``FILES`` parquet files under ``out``, split by ``key``."""
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    con.execute(f"CREATE OR REPLACE TEMP TABLE w AS {select}")
    for b in range(FILES):
        con.execute(
            f"COPY (SELECT * FROM w WHERE hash({key}) % {FILES} = {b})"
            f" TO '{out}/part-{b}.parquet' (FORMAT parquet)"
        )


def replica_stride(n_users: int, seed: int) -> int:
    """The seed's replica shift. The stride stays above the largest
    ``user_id``, or replicas would merge conversations."""
    return n_users + random.Random(seed).randrange(1_000_000)


def orphan_residue(seed: int) -> int:
    """``user_id % 29`` residue left out of the conversation dimension."""
    return random.Random(seed + 1).randrange(29)


def day_names(days: int) -> list[str]:
    return [f"2024-01-{d + 1:02d}" for d in range(days)]


def pending_days(seed: int, n: int, days: int) -> list[str]:
    """The seed's resume split: the ``n`` days not yet in the manifest."""
    return sorted(random.Random(seed + 2).sample(day_names(days), n))


def _events(con, n_events: int, n_users: int, days: int, replicas: int, seed: int) -> None:
    """Table ``events``: ``n_events`` base events replicated ``replicas``
    times with the seed's stride."""
    step = days * 86_400_000_000 // n_events
    stride = replica_stride(n_users, seed)
    types = "[" + ", ".join(f"'{t}'" for t in EVENT_TYPES) + "]"
    con.execute(
        f"""
CREATE TABLE base AS
SELECT i AS event_id,
       {START} + to_microseconds(CAST(i * {step} + {_h(seed, 1)} % {step} AS BIGINT)) AS ts,
       CAST({_h(seed, 2)} % {n_users} AS BIGINT) AS user_id,
       {types}[CAST({_h(seed, 3)} % 5 AS INT) + 1] AS event_type,
       CAST({_h(seed, 4)} % 20000 AS DOUBLE) / 100 AS value,
       '{{"k": ' || CAST({_h(seed, 5)} % 100 AS VARCHAR) || '}}' AS props
FROM range({n_events}) t(i)"""
    )
    con.execute(
        f"""
CREATE TABLE events AS
SELECT event_id + rep * 1000000000 AS event_id, ts,
       user_id + rep * {stride} AS user_id, event_type, value, props
FROM base, range({replicas}) r(rep)"""
    )


def transcripts(
    work: Path, n_events: int, n_users: int, days: int, replicas: int, seed: int
) -> None:
    """``work/transcripts``: events replicated ``replicas`` times with the
    seed's stride, then derived into turns; ``work/convs``: the
    conversation dimension without the seed's orphan residue."""
    con = duckdb.connect()
    _events(con, n_events, n_users, days, replicas, seed)
    _write(con, TRANSCRIPTS_SQL, work / "transcripts", "conv_id")
    _write(
        con,
        "SELECT DISTINCT 'conv-' || CAST(user_id AS VARCHAR) AS conv_id FROM events"
        f" WHERE user_id % 29 <> {orphan_residue(seed)}",
        work / "convs",
        "conv_id",
    )


# ---------------------------------------------------------------- curation --

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch window"
    " spark order data column join small big line customer query filter"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
CURATION_TABLES = ("embeddings", "documents", "events")


def curation(sf: Path, seed: int, n_vec: int = 250, n_docs: int = 250) -> None:
    """The tables the datapipe operators read, as single parquet files
    under ``sf`` in the layout of the sf testdata directories:

    - ``embeddings``: unit-norm 64-d vectors in 10 loose labelled
      clusters; every 20th vector is a near copy of the one before it;
    - ``documents``: 5-69 tokens drawn from ``WORDS``; every 10th
      document is the one before it with about a tenth of its tokens
      replaced;
    - ``events``: 10,000 events of 150 users over 30 days, as for the
      transcripts.
    """
    shutil.rmtree(sf, ignore_errors=True)
    sf.mkdir(parents=True)
    con = duckdb.connect()

    def unit(lo: int, salt: str) -> str:  # uniform in [-1, 1]
        return f"(CAST({_hash(salt, seed, lo)} % 2001 AS DOUBLE) - 1000) / 1000"

    con.execute(
        f"""
COPY (
  WITH v AS (
    SELECT i, base, CAST({_hash("base", seed, 20)} % 10 AS INT) AS label
    FROM (SELECT i, CASE WHEN i % 20 = 1 THEN i - 1 ELSE i END AS base FROM range({n_vec}) t(i))
  ),
  c AS (
    SELECT i, j, label,
           0.4 * {unit(21, "label, j")} + {unit(22, "base, j")}
           + CASE WHEN base <> i THEN 0.02 * {unit(23, "i, j")} ELSE 0 END AS x
    FROM v, range(64) r(j)
  )
  SELECT i AS vec_id,
         CAST(list(x / norm ORDER BY j) AS FLOAT[]) AS embedding,
         any_value(label) AS label
  FROM (SELECT *, sqrt(sum(x * x) OVER (PARTITION BY i)) AS norm FROM c)
  GROUP BY i ORDER BY i
) TO '{sf}/embeddings.parquet' (FORMAT parquet)"""
    )
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    langs = "[" + ", ".join(f"'{lang}'" for lang in LANGS) + "]"
    con.execute(
        f"""
COPY (
  WITH d AS (
    SELECT i, base, 5 + {_hash("base", seed, 30)} % 65 AS n_tok
    FROM (SELECT i, CASE WHEN i % 10 = 3 THEN i - 1 ELSE i END AS base FROM range({n_docs}) t(i))
  ),
  tok AS (
    SELECT i, k,
           {words}[CAST(CASE WHEN base <> i AND {_hash("i", "k", seed, 32)} % 10 = 0
                             THEN {_hash("i", "k", seed, 33)} ELSE {_hash("base", "k", seed, 31)} END
                        % {len(WORDS)} AS INT) + 1] AS w
    FROM d JOIN range(70) r(k) ON k < d.n_tok
  ),
  docs AS (SELECT i, string_agg(w, ' ' ORDER BY k) AS text FROM tok GROUP BY i)
  SELECT i AS doc_id, text,
         {langs}[CAST({_hash("i", seed, 34)} % {len(LANGS)} AS INT) + 1] AS lang,
         'src' || CAST({_hash("i", seed, 35)} % 10 AS VARCHAR) AS source,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM docs ORDER BY i
) TO '{sf}/documents.parquet' (FORMAT parquet)"""
    )
    _events(con, 10_000, 150, 30, 1, seed)
    con.execute(f"COPY (FROM events ORDER BY event_id) TO '{sf}/events.parquet' (FORMAT parquet)")


# ---------------------------------------------------------------- envelopes --

# share of rows per case, in percent
ENVELOPE_MIX = {
    "valid_props": 60,
    "valid_turn": 15,
    "invalid_data": 10,
    "malformed": 5,
    "unknown_coord": 5,
    "missing_version": 5,
}
VALID_CASES = ("valid_props", "valid_turn")


def _header(version: str | None, category: str, name: str) -> str:
    fields = [] if version is None else [f'"schema_version": "{version}"']
    fields += [f'"schema_category": "{category}"', f'"schema_name": "{name}"']
    return "'{\"header\": {" + ", ".join(fields) + ', "content_type": "application/json"}\''


def envelopes(work: Path, n: int, seed: int) -> None:
    """``work/envelopes``: ``(env_id, case, value)``, one envelope JSON
    string per row, the case picked by a seeded hash in the proportions of
    ``ENVELOPE_MIX``."""
    k = f"CAST({_h(seed, 11)} % 1000 AS VARCHAR)"
    props_hdr = _header("v1", "events", "props_check")
    props_data = f"""'{{"k": ' || {k} || ', "v": "x' || {k} || '"}}'"""
    turn_data = (
        f"""'{{"conv_id": "conv-' || {k} || '", "turn_idx": ' || {k}"""
        f""" || ', "role": "user", "text": "turn ' || {k}"""
        """ || '", "ts": "2024-01-02T03:04:05"}'"""
    )
    bad_data = f"""CASE {_h(seed, 12)} % 3
        WHEN 0 THEN '{{"k": ' || {k} || '}}'
        WHEN 1 THEN '{{"k": "' || {k} || '", "v": 1}}'
        ELSE '[1, 2]' END"""

    def env(hdr: str, data: str) -> str:
        return f"""{hdr} || ', "data": ' || {data} || '}}'"""

    edges, lo = [], 0
    for name, pct in ENVELOPE_MIX.items():
        lo += pct
        edges.append(f"WHEN bucket < {lo} THEN '{name}'")
    values = {
        "valid_props": env(props_hdr, props_data),
        "valid_turn": env(_header("v1", "transcripts", "turn"), turn_data),
        "invalid_data": env(props_hdr, bad_data),
        # truncated text: not JSON at all
        "malformed": f"substr({env(props_hdr, props_data)}, 1, 60)",
        "unknown_coord": env(_header("v1", "nope", "nada"), props_data),
        "missing_version": env(_header(None, "events", "props_check"), props_data),
    }
    value = "CASE " + " ".join(f"WHEN \"case\" = '{c}' THEN {v}" for c, v in values.items()) + " END"
    con = duckdb.connect()
    _write(
        con,
        f"""
SELECT i AS env_id, "case", {value} AS value FROM (
  SELECT i, CASE {' '.join(edges)} END AS "case"
  FROM (SELECT i, {_h(seed, 10)} % 100 AS bucket FROM range({n}) t(i))
)""",
        work / "envelopes",
        "env_id",
    )
