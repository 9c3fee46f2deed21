"""Build a deterministically SKEWED copy of an sf fixture: one whale
user owns ~50% of events (whale conversation/session), ~20% of documents
share one template text (hot dedup/minhash cluster), ~20% of embeddings
are one identical vector (hot LSH bucket / semantic cluster). Values
stay engine-agnostic, so every oracle twin must still match — this
exercises the SKEW-tolerance claims (per-key sequential recurrences,
hot-key uniqueness, banded near-dup candidate volume, hot-bucket caps)
on data shaped like the adversarial 100 TB case.
Usage: python tools/make_skew_fixture.py [src] [dst]
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq


def main() -> int:
    src = Path(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
    dst = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/skew_sf")
    dst.mkdir(parents=True, exist_ok=True)

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        shutil.copy(src / f"{t}.parquet", dst / f"{t}.parquet")

    # events: every even event_id belongs to the WHALE user
    ev = pq.read_table(src / "events.parquet").to_pydict()
    whale = 777_000_001
    ev["user_id"] = [
        whale if (eid is not None and eid % 2 == 0) else u
        for eid, u in zip(ev["event_id"], ev["user_id"])
    ]
    pq.write_table(
        pa.table(ev, schema=pq.read_schema(src / "events.parquet")),
        dst / "events.parquet",
    )

    # documents: doc_id % 5 == 0 -> one shared template text
    d = pq.read_table(src / "documents.parquet").to_pydict()
    template = ("the quick brown fox jumps over the lazy dog and then "
                "files a support ticket about it " * 4)
    d["text"] = [
        template if (i is not None and i % 5 == 0) else t
        for i, t in zip(d["doc_id"], d["text"])
    ]
    d["n_chars"] = [
        len(template) if (i is not None and i % 5 == 0) else n
        for i, n in zip(d["doc_id"], d["n_chars"])
    ]
    pq.write_table(
        pa.table(d, schema=pq.read_schema(src / "documents.parquet")),
        dst / "documents.parquet",
    )

    # embeddings: vec_id % 5 == 0 -> one identical vector
    e = pq.read_table(src / "embeddings.parquet").to_pydict()
    dim = len(next(v for v in e["embedding"] if v is not None))
    hot = [0.25] * dim
    e["embedding"] = [
        hot if (i is not None and i % 5 == 0) else v
        for i, v in zip(e["vec_id"], e["embedding"])
    ]
    pq.write_table(
        pa.table(e, schema=pq.read_schema(src / "embeddings.parquet")),
        dst / "embeddings.parquet",
    )
    print(f"skew fixture at {dst}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
