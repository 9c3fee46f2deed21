"""Block-size evidence for the vector grid router (BENCH/GRID_BLOCK.md).

Runs ONE vector kernel at ONE corpus size in a fresh local[4] session and
prints one JSON line: median wall over ``reps`` timed calls (after one
warm-up call), JVM stage CPU, Python worker CPU, shuffle write, stages per
call, the peak RSS of the largest Python worker, and the output row count.

The corpus is SF_DIR's embeddings (sf0.1: 2,000 x 64) tiled to N
vectors: copy j keeps the labels, shifts vec_id by j*100000 and adds
seeded Gaussian noise (sd 0.05) to every element, so tiles are
near-duplicates but not ties. It is written once per N under
``corpus_dir``.

Usage (run each variant in its own process and nothing else meanwhile;
PYTHONPATH picks the checkout; ``default`` keeps its block sizes, a
number B sets both BLOCK_ROWS and UNKEYED_BLOCK_ROWS to B):

    PYTHONPATH=. python tools/grid_block_bench.py N KERNEL B|default REPS SF_DIR [corpus_dir]

KERNEL: topk (cosine_topk), decon (cosine_topk with a vec_id % 10 eval
side as queries), pairs (cosine_pairs >= 0.9), pq (pq_topk, the
pq_topk_embeddings settings), ivf (ivf_topk by label), lsh
(lsh_ann_topk, 16 planes / 8 bands), ivfq (ivf_quantized_topk, 8 cells,
nprobe 2).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.append(str(Path(__file__).resolve().parents[1]))  # perfbench


def make_corpus(n: int, sf_dir: str, out: Path) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    V = np.stack(base["embedding"].to_numpy()).astype(np.float32)
    rng = np.random.default_rng(7)
    ids, vecs, labels = [], [], []
    for j in range(-(-n // len(base))):
        noise = 0 if j == 0 else rng.normal(0, 0.05, V.shape).astype(np.float32)
        ids.append(base["vec_id"].to_numpy() + j * 100000)
        vecs.append(V + noise)
        labels.append(base["label"].to_numpy())
    table = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids)[:n], pa.int64()),
            "embedding": pa.array(list(np.concatenate(vecs)[:n]), pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(labels)[:n], pa.int32()),
        }
    )
    pq.write_table(table, out)


def build(S, F, emb, kernel: str):
    if kernel == "topk":
        return S.cosine_topk(emb, k=1, dim=64)
    if kernel == "decon":
        ev = emb.filter(F.col("vec_id") % 10 == 0)
        tr = emb.filter(F.col("vec_id") % 10 != 0)
        return S.cosine_topk(ev, k=1, candidates=tr, dim=64)
    if kernel == "pairs":
        return S.cosine_pairs(emb, threshold=0.9, dim=64)
    if kernel == "pq":
        return S.pq_topk(emb, k=3, m=8, k_codes=16, iters=2, rerank=32, dim=64)
    if kernel == "ivf":
        return S.ivf_topk(emb, block_col="label", k=1, dim=64)
    if kernel == "lsh":
        return S.lsh_ann_topk(emb, dim=64, k=1, n_planes=16, bands=8)
    if kernel == "ivfq":
        return S.ivf_quantized_topk(emb, n_cells=8, nprobe=2, k=1, dim=64)
    raise SystemExit(f"unknown kernel {kernel}")


def main() -> None:
    n, kernel, variant, reps = int(sys.argv[1]), sys.argv[2], sys.argv[3], int(sys.argv[4])
    corpus_dir = Path(sys.argv[6] if len(sys.argv) > 6 else "grid_block_corpus")
    corpus_dir.mkdir(parents=True, exist_ok=True)
    corpus = corpus_dir / f"corpus_{n}.parquet"
    if not corpus.exists():
        make_corpus(n, sys.argv[5], corpus)

    from perfbench.counters import SparkCounters, _hwm_kb, _stat, descendants, worker_cpu_s
    from pyspark.sql import functions as F

    from pacts_spark.datapipe import similarity as S
    from pacts_spark.session import get_spark

    if variant != "default":
        S.BLOCK_ROWS = S.UNKEYED_BLOCK_ROWS = int(variant)
    spark = get_spark(app="grid-block-bench", cores=4, shuffle_partitions=4)
    sc = spark.sparkContext
    emb = spark.read.parquet(str(corpus))
    counters = SparkCounters(spark)
    jvm = next(p for p in descendants(os.getpid()) if _stat(p)[0] == "java")
    walls, cpus, py_cpus, shuffle, stages, rows = [], [], [], [], [], None
    for r in range(reps + 1):  # call 0 warms up
        group = f"call{r}"
        sc.setJobGroup(group, group)
        w0 = worker_cpu_s(jvm)
        t0 = time.perf_counter()
        out = build(S, F, emb, kernel).collect()
        wall = time.perf_counter() - t0
        w1 = worker_cpu_s(jvm)
        tot = counters.stage_totals([group])
        if r == 0:
            rows = len(out)
            continue
        walls.append(wall)
        cpus.append(tot["cpu_s"])
        py_cpus.append(w1 - w0)
        shuffle.append(tot["shuffle_write_mb"])
        stages.append(tot["stages"])
    workers = [p for p in descendants(jvm) if _stat(p)[0].startswith("python")]
    med = statistics.median
    print(
        json.dumps(
            {
                "variant": variant,
                "n": n,
                "kernel": kernel,
                "wall_s": round(med(walls), 2),
                "walls": [round(x, 2) for x in walls],
                "jvm_cpu_s": round(med(cpus), 2),
                "py_cpu_s": round(med(py_cpus), 2),
                "shuffle_mb": round(med(shuffle), 1),
                "stages": med(stages),
                "peak_worker_mb": round(max((_hwm_kb(p) for p in workers), default=0) / 1024),
                "workers": len(workers),
                "rows": rows,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
