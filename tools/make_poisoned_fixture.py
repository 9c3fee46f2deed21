"""Build a deterministic POISONED copy of an sf fixture for twin
regression (the round-4 lesson: latent twin crashes/divergences hide on
clean fixtures — DuckDB CAST(NaN AS BIGINT) raises, NULL keys reach
driver dicts, unicode tails, zero/ragged vectors). Appends adversarial
rows to documents / embeddings / events; copies the TPC-H-ish tables
unchanged. Usage: python tools/make_poisoned_fixture.py [src] [dst]
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def main() -> int:
    src = Path(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
    dst = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/poison_sf")
    dst.mkdir(parents=True, exist_ok=True)

    for t in ("region", "nation", "supplier", "part"):
        shutil.copy(src / f"{t}.parquet", dst / f"{t}.parquet")

    # -- orders: NULL/duplicate keys, NULL + dangling + NULL-dim FKs,
    #    enum-violating status, NaN/Inf/huge totalprice, NULL date
    o = pq.read_table(src / "orders.parquet")
    obase = 9_000_000
    odate = np.datetime64("2026-01-01T00:00:00", "us")
    orows = pa.table(
        {
            "o_orderkey": pa.array(
                [None, obase + 1, obase + 1, obase + 3, obase + 4,
                 obase + 5, obase + 6], type=pa.int64()
            ),
            "o_custkey": pa.array(
                [None, 888_888_001, 888_888_001, None, 1,
                 888_888_002, 1], type=pa.int64()
            ),  # 888888xxx custkeys dangle (no such customer)
            "o_orderstatus": pa.array(
                [None, "", "X", "O", "F", "O", "O"], type=pa.string()
            ),
            "o_totalprice": pa.array(
                [float("nan"), float("inf"), -1e308, None, 0.0,
                 1.5, 123.0], type=pa.float64()
            ),
            "o_orderdate": pa.array(
                [None] + [odate] * 6, type=pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                [None, "", "1-URGENT", "1-URGENT", "5-LOW",
                 "5-LOW", "5-LOW"], type=pa.string()
            ),
        },
        schema=o.schema,
    )
    pq.write_table(pa.concat_tables([o, orows]), dst / "orders.parquet")

    # -- customer: NULL key in the DIMENSION (NOT-IN trap), duplicate key
    c = pq.read_table(src / "customer.parquet")
    crows = pa.table(
        {
            "c_custkey": pa.array([None, 1], type=pa.int64()),
            "c_name": pa.array([None, ""], type=pa.string()),
            "c_nationkey": pa.array([None, 0], type=pa.int32()),
            "c_acctbal": pa.array([float("nan"), None], type=pa.float64()),
            "c_mktsegment": pa.array([None, "BUILDING"], type=pa.string()),
        },
        schema=c.schema,
    )
    pq.write_table(pa.concat_tables([c, crows]), dst / "customer.parquet")

    # -- lineitem: NULL composite-key halves (incl. DUPLICATED all-NULL
    #    key), NaN/Inf measures, NULL strings, NULL date, extreme ints
    li = pq.read_table(src / "lineitem.parquet")
    lbase = 9_000_000
    ldate = np.datetime64("2026-01-01T00:00:00", "us")
    lrows = pa.table(
        {
            "l_orderkey": pa.array(
                [None, None, lbase, lbase, None, -(2**62)], type=pa.int64()
            ),
            "l_partkey": pa.array(
                [None, None, 1, 1, 2, 2**62], type=pa.int64()
            ),
            "l_suppkey": pa.array(
                [None, None, 1, 1, None, None], type=pa.int64()
            ),
            "l_linenumber": pa.array(
                [None, None, 1, 1, 7, 7], type=pa.int32()
            ),
            "l_quantity": pa.array(
                [float("nan"), float("inf"), None, -0.0, 1e308, 1.0],
                type=pa.float64(),
            ),
            "l_extendedprice": pa.array(
                [float("-inf"), None, 0.0, 0.0, float("nan"), 1.0],
                type=pa.float64(),
            ),
            "l_discount": pa.array(
                [None, 0.0, 0.0, 0.0, 0.0, 0.0], type=pa.float64()
            ),
            "l_tax": pa.array(
                [None, 0.0, 0.0, 0.0, 0.0, 0.0], type=pa.float64()
            ),
            "l_returnflag": pa.array(
                [None, "", "A", "A", "N", "N"], type=pa.string()
            ),
            "l_linestatus": pa.array(
                [None, "", "O", "O", "F", "F"], type=pa.string()
            ),
            "l_shipdate": pa.array(
                [None, None] + [ldate] * 4, type=pa.timestamp("us")
            ),
        },
        schema=li.schema,
    )
    pq.write_table(pa.concat_tables([li, lrows]), dst / "lineitem.parquet")

    # -- documents: NULL/empty/whitespace text, unicode incl. astral +
    #    ZWJ, single huge doc, repeated-token pathologies, NULL lang/src
    d = pq.read_table(src / "documents.parquet")
    base = 9_000_000
    texts = [
        None,
        "",
        "   ",
        "héllo🌍 wörld " * 40,
        "a👩‍👩‍👧x " + "αβγδε " * 100,
        "tok " * 5000,                      # one token repeated (rep stats)
        "singleword",
        "\t tabs\tand\nnewlines \n mixed",
        "word " * 3 + "🌍" * 50,
        "the quick brown fox " * 250,       # near-dup of itself chunk-wise
    ]
    rows = {
        "doc_id": [base + i for i in range(len(texts))],
        "text": texts,
        "lang": [None, "xx", "en", "el", None, "en", "en", "en", "en", "en"],
        "source": [None, "", "poison", "poison", "poison",
                   "poison", "poison", "poison", "poison", "poison"],
        "n_chars": [None if t is None else len(t) for t in texts],
    }
    extra = pa.table(rows, schema=d.schema)
    pq.write_table(pa.concat_tables([d, extra]), dst / "documents.parquet")

    # -- embeddings: NULL vector, empty vector, ragged dims, NaN/Inf
    #    elements, NULL element, zero vector, huge magnitudes
    e = pq.read_table(src / "embeddings.parquet")
    dim = len(e.column("embedding")[0].as_py())
    vbase = 9_000_000
    vecs = [
        None,
        [],
        [0.5] * (dim // 2),                 # ragged short
        [0.5] * (dim + 3),                  # ragged long
        [float("nan")] * dim,
        [float("inf")] + [0.0] * (dim - 1),
        [0.0] * dim,                        # zero vector
        [1e30] * dim,                       # overflow-ish magnitude
        [None] + [0.25] * (dim - 1),        # NULL element
        [1.0] + [0.0] * (dim - 1),
    ]
    erows = {
        "vec_id": [vbase + i for i in range(len(vecs))],
        "embedding": vecs,
        "label": [None, 0, 1, 2, 3, 4, 5, 6, 7, 8],
    }
    eextra = pa.table(erows, schema=e.schema)
    pq.write_table(pa.concat_tables([e, eextra]), dst / "embeddings.parquet")

    # -- events: NULL ts, NULL user, NULL/weird event_type, NaN/Inf
    #    value, duplicate event_id, far-future/ancient ts, poisoned props,
    #    and a second NULL-user event whose event_id % 97 = 0: with the
    #    first one it makes two turns keyed (conv_id NULL, turn_idx 1), a
    #    duplicated key with a NULL part
    ev = pq.read_table(src / "events.parquet")
    ebase = 9_000_000_000
    ets = pa.array(
        [None,
         np.datetime64("1970-01-01T00:00:00", "us"),
         np.datetime64("2199-12-31T23:59:59", "us"),
         np.datetime64("2026-01-01T00:00:00", "us"),
         np.datetime64("2026-01-01T00:00:00", "us"),   # exact tie
         np.datetime64("2026-01-01T00:00:01", "us"),
         np.datetime64("2026-01-01T02:00:00", "us"),
         np.datetime64("2026-01-01T02:00:00.000001", "us"),
         None,    # NULL ts on a user that ALSO has real events:
                  # exercises mixed-session in-transcript NULL ordering
         None],
        type=pa.timestamp("us"),
    )
    n = len(ets)
    evrows = pa.table(
        {
            "event_id": pa.array(
                [ebase, ebase + 1, ebase + 2, ebase + 3, ebase + 3,
                 ebase + 5, ebase + 6, ebase + 7, ebase + 8, ebase + 82],
                type=pa.int64()
            ),
            "ts": ets,
            "user_id": pa.array(
                [None, 7_777_001, 7_777_001, 7_777_002, 7_777_002,
                 7_777_002, 7_777_002, 7_777_002, 7_777_002, None],
                type=pa.int64()
            ),
            "event_type": pa.array(
                [None, "", "error", "click", "click", "error",
                 "purchase", "purchase", "nullts", "view"], type=pa.string()
            ),
            "value": pa.array(
                [float("nan"), float("inf"), float("-inf"), None,
                 1e308, -1e308, 0.0, 1.5, 2.5, 3.5], type=pa.float64()
            ),
            "props": pa.array(
                [None, "", "not json", '{"turn_idx": "3"}',
                 '{"turn_idx": null}', '{"nested": {"deep": [1,2]}}',
                 '{"turn_idx": 9.5}', '{"turn_idx": 2}',
                 '{"turn_idx": 4}', '{"turn_idx": 1}'],
                type=pa.string(),
            ),
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, evrows]), dst / "events.parquet")
    print(f"poisoned fixture at {dst}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
