"""Local mimic of the driver's queries()/oracle_sql() comparison.

Runs every oracled query through Spark AND DuckDB at the given sf dir and
compares row count, sorted column names, and an order-insensitive value
multiset. Usage: python tools/check_contract.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from pacts_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cells = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], cells


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark(app="contract-check", cores=16, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = list(sdf.columns)
        except Exception as exc:  # noqa: BLE001 — survey mode: report, go on
            failures.append(name)
            print(f"{name:28s} SPARK-ERROR {type(exc).__name__}: "
                  f"{(str(exc).splitlines() or [repr(exc)])[0][:160]}")
            continue
        try:
            orel = con.execute(oracles[name])
            ocols = [d[0] for d in orel.description]
            orows = orel.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"{name:28s} DUCK-ERROR {type(exc).__name__}: "
                  f"{(str(exc).splitlines() or [repr(exc)])[0][:160]}")
            continue
        sc, sv = frame_key(scols, [list(r) for r in srows])
        oc, ov = frame_key(ocols, [list(r) for r in orows])
        status = []
        if len(srows) != len(orows):
            status.append(f"ROWCOUNT spark={len(srows)} duck={len(orows)}")
        if sc != oc:
            status.append(f"SCHEMA spark={sc} duck={oc}")
        if not status and sv != ov:
            diff = [i for i, (a, b) in enumerate(zip(sv, ov)) if a != b][:3]
            ex = [(sv[i], ov[i]) for i in diff]
            status.append(f"VALUES mismatch, first diffs: {ex}")
        if status:
            failures.append(name)
            print(f"{name:28s} FAIL  {'; '.join(status)}")
        else:
            print(f"{name:28s} OK    {len(srows)} rows")
    spark.stop()
    if failures:
        print("FAILED:", failures)
        return 1
    print("all oracled queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
