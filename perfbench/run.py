"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake_churn --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. One process, one Spark session
on ``local[<cores>]`` and one closed-loop client: each operation starts
after the previous one returns. Inputs come only from ``--seed``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the run's context (cores, CPU steal, sample counts).
Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_churn", "text_dedup")
# Tune on DEFAULT_SEED; confirm a claimed gain on HOLDOUT_SEED, which
# no change is tuned on.
DEFAULT_SEED = 1
HOLDOUT_SEED = 90417


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help=f"workload seed (default {DEFAULT_SEED}; held out: {HOLDOUT_SEED})")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str, cpus: int) -> None:
    """Point every scratch directory of Python, Spark and the JVM into
    ``work``, and let Spark's Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM (the launcher too): temp files and no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes)
    and wait for it; the Python workers it forked end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def span_cost_s(n: int = 2000) -> float:
    """Seconds one recorded span costs the traced code, measured here."""
    from perfbench.trace import Tracer

    tracer = Tracer(enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("op", "bench", new_op=True):
            pass
    return (time.perf_counter() - t0) / n


def trace_metrics(run) -> dict[str, float]:
    """Per operation: self time by layer; the share of operation time
    that named layers cover; the share of the timed section spent inside
    operations; and the tracing overhead, the measured cost of the spans
    recorded as a share of operation time."""
    from perfbench.trace import layer_self_times

    spans = [s for s in run.tracer.spans if s.op is not None]  # not warm-up
    ops = [s for s in spans if s.parent is None]
    out: dict[str, float] = {"trace.ops_share_pct": 100.0 * sum(run.all_latencies()) / run.wall_s}
    if ops:
        n = len(ops)
        by_layer = layer_self_times(spans)
        for layer, total in by_layer.items():
            out[f"{layer}_s"] = total / n
            top = layer.split(".")[0]
            out[f"self.{top}_s"] = out.get(f"self.{top}_s", 0.0) + total / n
        wall = sum(s.duration for s in ops)
        out["trace.coverage_pct"] = 100.0 * (wall - by_layer.get("bench", 0.0)) / wall
        out["trace.overhead_pct"] = 100.0 * len(spans) * span_cost_s() / wall
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "iceberg_catalog_bench_spark", "__init__.py")):
        print(f"perfbench: no iceberg_catalog_bench_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work, cpus)

    import importlib

    from perfbench import harness, metrics
    from perfbench.stats import kind_geomean, summarize
    from perfbench.trace import Tracer

    workload = importlib.import_module(f"perfbench.{args.workload}")
    run = harness.Run(seed=args.seed, seconds=args.seconds, work=work,
                      tracer=Tracer(enabled=bool(args.trace)))
    jiffies0 = harness.cpu_jiffies()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = run.spark = harness.start_session(work, cpus)
        session_s = time.perf_counter() - t0
        run.setup_s = session_s
        layer = workload.main(run)
        rss_py = harness.peak_rss_mb([os.getpid()])
        rss_jvm = harness.peak_rss_mb([harness.jvm_pid(spark)])
        heap_mb, nonheap_mb = harness.jvm_retained_mb(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    for err in run.errors:
        harness.log(err)

    lat = run.all_latencies()
    s = summarize(lat, 1000.0)
    values = {
        "setup_s": run.setup_s,
        "op_geomean_ms": 1000.0 * kind_geomean(run.latencies),
        "memory_mb": rss_py + heap_mb + nonheap_mb,
        "op_p50_ms": s["p50"],
        "op_tail_ms": s["tail"],
        "ops_per_s": len(lat) / run.wall_s,
        "rss.peak_mb": rss_py + rss_jvm,
        "rss.python_mb": rss_py,
        "jvm.heap_after_gc_mb": heap_mb,
        "jvm.nonheap_mb": nonheap_mb,
        "context.cores": float(cpus),
        "context.steal_pct": harness.steal_pct(jiffies0, harness.cpu_jiffies()),
        "error_rate": run.failed / max(1, run.attempted),
        "op_samples": float(s["n"]),
        "op_tail_beyond": float(s["tail_beyond"]),
        "session.start_s": session_s,
        **trace_metrics(run),
        **layer,
    }
    names = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    context = {k: v for k, v in values.items() if k not in names}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "context": context,
                      "latencies_ms": {k: [round(x * 1000.0, 3) for x in v]
                                       for k, v in run.latencies.items()}}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics.render(values, names),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
