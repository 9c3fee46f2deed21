"""One benchmark for the repo: one workload per call, timed end to end at
local[4], with per-layer Spark counters from a traced run.

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from ``--seed`` under ``.perfbench_work/``, sets up (session, registry,
inputs) three times, runs the workload's untimed, unchecked warm-up
passes, then runs and checks passes until ``--seconds`` of measuring have
passed and the workload's ``min_passes`` timed passes exist. The last
line of stdout is one JSON object; ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json and ``--trace 1`` its per-layer metrics, from
one traced pass and the isolated layers. A traced run also writes its
spans to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
SETUPS = 3
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(msg, flush=True)


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    raise SystemExit(code)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Spans (name, start, end, parent, pass id), kept in memory. Each
    span runs under its own Spark job group so its counters can be read
    back afterwards; outside a traced pass ``span`` does nothing.
    ``overhead_s`` is the wall time of the tracer's own calls in the
    current pass: what tracing adds to it."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.traced = False

    def begin_pass(self, pass_id, traced: bool) -> list[str]:
        self.pass_id, self.traced = pass_id, traced
        self.overhead_s = 0.0
        self.group = f"pass-{pass_id}"
        self.groups = [self.group]
        self.sc.setJobGroup(self.group, self.group)
        return self.groups

    @contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        t0 = time.perf_counter()
        group = f"{name}@{self.pass_id}"
        self.groups.append(group)
        self.sc.setJobGroup(group, name)
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self.spans.append(
                {"name": name, "start": t1 - T0, "end": t2 - T0,
                 "parent": self.group, "pass": self.pass_id, "group": group}
            )
            self.sc.setJobGroup(self.group, self.group)
            self.overhead_s += time.perf_counter() - t2

    def record(self, name: str, wall_s: float) -> None:
        """A layer that runs in Python only, with no Spark jobs."""
        self.spans.append({"name": name, "wall_s": wall_s, "pass": self.pass_id})

    def rows_out(self, name: str):
        return next((s["rows_out"] for s in self.spans if s["name"] == name), None)


def wait_for_no_java(seconds: float) -> bool:
    from counters import java_pids

    deadline = time.monotonic() + seconds
    while java_pids():
        if time.monotonic() > deadline:
            return False
        time.sleep(1)
    return True


def start_session(app: str):
    from pacts_spark.session import get_spark

    spark = get_spark(
        app=app,
        cores=CORES,
        shuffle_partitions=CORES,
        extra={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    from counters import _procs, descendants

    proc = spark.sparkContext._gateway.proc
    procs = _procs()
    return next(
        p for p in [proc.pid, *descendants(proc.pid, procs)]
        if procs.get(p, ("",))[0] == "java"
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its workers are gone."""
    from counters import descendants

    proc = spark.sparkContext._gateway.proc
    children = descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — still running: force it
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(Path(f"/proc/{p}").exists() for p in children):
        if time.monotonic() > deadline:
            for p in children:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            break
        time.sleep(0.2)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found beside perfbench/", 2)
    if not (ROOT / "pacts_spark" / "__init__.py").is_file() or not (ROOT / "schemas").is_dir():
        fail("pacts_spark/ and schemas/ must be in the checkout root", 2)
    spec = json.loads(spec_path.read_text())

    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", 2)
    if not wait_for_no_java(30):
        fail("another java process is running; refusing to measure", 3)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the Python workers import pacts_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    spark = None
    try:
        wl = WORKLOADS[args.workload](ROOT, work, args.seed)
        setups, reg_walls = [], []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(f"perfbench-{args.workload}")
            t1 = time.perf_counter()
            wl.load_registry()
            reg_walls.append(time.perf_counter() - t1)
            wl.generate()
            setups.append(time.perf_counter() - t0)
            log(f"setup {k}: {setups[-1]:.2f} s")
        wl.prepare(spark)
        result = measure(spark, wl, args, setups, reg_walls, spec)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


def measure(spark, wl, args, setups, reg_walls, spec) -> dict:
    from counters import SparkCounters, peak_rss_mb, worker_cpu_s

    ctr = SparkCounters(spark)
    jvm = jvm_pid(spark)
    tr = Tracer(spark.sparkContext)
    passes: list[dict] = []
    rss = 0.0
    t_measure = None
    i = 0
    while True:
        warm = i < wl.warmup_passes
        traced = bool(args.trace) and not warm
        cpu0 = worker_cpu_s(jvm)
        groups = tr.begin_pass(i, traced)
        t0 = time.perf_counter()
        try:
            wl.run_pass(spark, tr, i)
            err = None
        except Exception as exc:  # noqa: BLE001 — a failed pass is counted, not fatal
            err = f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}"
        wall = time.perf_counter() - t0
        st = ctr.stage_totals(groups)
        p = {
            "pass": i, "warm": warm, "traced": traced, "wall_s": wall,
            "cpu_s": st["cpu_s"] + worker_cpu_s(jvm) - cpu0,
            "shuffle_mb": st["shuffle_write_mb"],
            "io_mb": st["shuffle_write_mb"] + st["output_mb"],
            "trace_overhead_s": tr.overhead_s,
        }
        if err is None and warm:
            p["ok"] = True  # the warm-up passes are not checked
        elif err is None:
            try:
                p["ok"] = wl.check(i)
            except Exception as exc:  # noqa: BLE001 — an unreadable output is a mismatch
                err = f"check: {type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}"
        p["ok"] = err is None and p.get("ok", False)
        rss = max(rss, peak_rss_mb(jvm))
        passes.append(p)
        log(
            f"pass {i}{' (warm-up)' if warm else ''}{' traced' if traced else ''}: "
            f"{wall:.3f} s, cpu {p['cpu_s']:.2f} s, shuffle {p['shuffle_mb']:.2f} MB, "
            f"io {p['io_mb']:.2f} MB, "
            f"{'ok' if p['ok'] else 'MISMATCH ' + (err or 'outputs differ from the oracle')}"
        )
        if err is not None:
            break
        i += 1
        if i == wl.warmup_passes:
            t_measure = time.perf_counter()
        timed = passes[wl.warmup_passes:]
        # a traced run times one traced pass; its isolated layers follow
        if args.trace and timed:
            break
        if len(timed) >= wl.min_passes and time.perf_counter() - t_measure >= args.seconds:
            break

    checks = {f"pass {p['pass']}": p["ok"] for p in passes}
    if args.trace:
        tr.begin_pass("layers", True)
        tr.record("registry", median(reg_walls))
        if passes[-1]["ok"]:
            wl.layers(spark, tr)
        for s in tr.spans:
            if "group" in s:
                s.update(ctr.stage_totals([s["group"]]))
                s.update(ctr.sql_rows([s["group"]]))
                s["wall_s"] = s["end"] - s["start"]
                s["core_util"] = s["busy_s"] / (s["wall_s"] * CORES)
        checks.update(wl.layer_checks(tr))
    failed = sum(1 for ok in checks.values() if not ok)
    timed = [p for p in passes if not p["warm"]]
    if args.trace:
        metrics = layer_metrics(spec, tr, passes)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"trace-{args.workload}-seed{args.seed}.json").write_text(
            json.dumps({"workload": args.workload, "seed": args.seed,
                        "passes": passes, "spans": tr.spans, "checks": checks}, indent=1)
        )
    else:
        pass_s = median([p["wall_s"] for p in timed])
        values = {
            "rows_per_s": wl.n_rows / pass_s if pass_s else 0.0,
            "pass_s": pass_s,
            "cpu_s": median([p["cpu_s"] for p in timed]),
            "io_mb": median([p["io_mb"] for p in timed]),
            "peak_rss_mb": rss,
            "setup_s": median(setups),
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": values[n], "unit": units[n]} for n in units}
        for n, m in metrics.items():
            log(f"{n} = {m['value']:.6g} {m['unit']}")
        if timed:
            # with n passes the highest percentile a sample supports is the max
            log(f"pass_s max = {max(p['wall_s'] for p in timed):.6g} s (n={len(timed)} timed passes)")
        log(f"rows per pass = {wl.n_rows} {wl.rows_unit}")
        log(f"shuffle_mb = {median([p['shuffle_mb'] for p in timed]):.6g} MB")
        log(f"failed_share = {failed / max(len(checks), 1):.6g} ratio")
    for name, ok in checks.items():
        if not ok:
            log(f"FAILED check: {name}")
    return {"correct": failed == 0, "attempted": len(checks), "failed": failed,
            "metrics": metrics}


def layer_metrics(spec, tr, passes) -> dict:
    by_layer: dict[str, list[dict]] = {}
    for s in tr.spans:
        by_layer.setdefault(s["name"], []).append(s)

    def med(layer, field):
        return median([s[field] for s in by_layer.get(layer, []) if field in s])

    def ratio(a, b):
        return a / b if b else 0.0

    special = {
        "runner.verdicts.rescan_ratio": lambda: ratio(
            med("runner.verdicts", "shuffle_write_mb"), med("runner.violations", "shuffle_write_mb")
        ),
        "engine.validate_envelopes.python_row_share": lambda: ratio(
            med("engine.validate_envelopes", "python_rows"), med("engine.validate_envelopes", "rows_out")
        ),
        "table.scan_pending.scan_ratio": lambda: ratio(
            med("table.scan_pending", "scan_rows"), med("table.scan_pending", "rows_out")
        ),
        "trace.overhead_s": lambda: median([p["trace_overhead_s"] for p in passes if p["traced"]]),
        "trace.pass_s": lambda: median([p["wall_s"] for p in passes if p["traced"]]),
    }
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in special:
            v = special[name]()
        else:
            layer, field = name.rsplit(".", 1)
            v = med(layer, field)
        out[name] = {"value": float(v), "unit": m["unit"]}
    return out


if __name__ == "__main__":
    main()
