"""The benchmark's metrics: names, units, direction, and for each
per-layer metric the end-to-end metric it should move and on which
workloads it is measured.

``BENCHMARK.json`` lists the same names and units (a test keeps the
two in step). A per-layer metric reads 0 on a workload that does not
exercise its layer: that workload is the one its optimisation must
leave unchanged.
"""

from __future__ import annotations

import re

LAKE, TEXT = "lake_churn", "text_dedup"
ALL = (LAKE, TEXT)

# name: (unit, better, bound). Every workload reports each of them.
#   setup_s        session start, input generation and warm-up, before
#                  the timed section
#   op_geomean_ms  geometric mean over the operation kinds of the timed
#                  section of each kind's geometric-mean latency (the TPC
#                  power-metric form: each kind counts once, so a mix of
#                  0.01 s and 3 s operations is not dominated by the
#                  slowest, and where the timed loop stops does not
#                  change the weights)
#   memory_mb      benchmark Python peak RSS + Spark JVM heap in use after
#                  a full collection + JVM non-heap in use
END_TO_END: dict[str, tuple[str, str, float]] = {
    "setup_s": ("s", "lower", 0.25),
    "op_geomean_ms": ("ms", "lower", 0.25),
    "memory_mb": ("MB", "lower", 0.2),
}

# name: (unit, better, metric it should move, workloads). The catalog's
# user-facing readings (commit, scan and lookup latency, ingest rate,
# maintenance time) move op_geomean_ms on lake_churn; the catalog
# internals name the one of those they should move.
PER_LAYER: dict[str, tuple[str, str, str, tuple[str, ...]]] = {
    # run context and accounting
    "context.cores": ("count", "higher", "op_geomean_ms", ALL),
    "context.steal_pct": ("%", "lower", "op_geomean_ms", ALL),
    "error_rate": ("ratio", "lower", "op_geomean_ms", ALL),
    "op_samples": ("count", "higher", "op_geomean_ms", ALL),
    "op_p50_ms": ("ms", "lower", "op_geomean_ms", ALL),
    "op_tail_ms": ("ms", "lower", "op_geomean_ms", ALL),
    "op_tail_beyond": ("count", "higher", "op_geomean_ms", ALL),
    "ops_per_s": ("1/s", "higher", "op_geomean_ms", ALL),
    "rss.peak_mb": ("MB", "lower", "memory_mb", ALL),
    "jvm.heap_after_gc_mb": ("MB", "lower", "memory_mb", ALL),
    "jvm.nonheap_mb": ("MB", "lower", "memory_mb", ALL),
    "trace.overhead_pct": ("%", "lower", "op_geomean_ms", ALL),
    "trace.coverage_pct": ("%", "higher", "op_geomean_ms", ALL),
    "trace.ops_share_pct": ("%", "higher", "op_geomean_ms", ALL),
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "setup.inputs_s": ("s", "lower", "setup_s", ALL),
    "setup.warm_s": ("s", "lower", "setup_s", ALL),
    # self time per traced operation, by layer
    "self.bench_s": ("s", "lower", "op_geomean_ms", ALL),
    "self.sources_s": ("s", "lower", "op_geomean_ms", ALL),
    "self.operators_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    "self.catalog_s": ("s", "lower", "op_geomean_ms", (LAKE,)),
    "self.streaming_s": ("s", "lower", "op_geomean_ms", (LAKE,)),
    "sources.load_table_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    "operators.build_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    "operators.plan_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    "operators.exec_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    # counters of the final plans and executor totals, per traced query
    "operators.exchanges": ("count", "lower", "op_geomean_ms", (TEXT,)),
    "operators.python_boot_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    "operators.python_init_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    "operators.python_total_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    "operators.python_sent_mb": ("MB", "lower", "op_geomean_ms", (TEXT,)),
    "operators.python_received_mb": ("MB", "lower", "op_geomean_ms", (TEXT,)),
    "spark.input_mb": ("MB", "lower", "op_geomean_ms", (TEXT,)),
    "spark.shuffle_read_mb": ("MB", "lower", "op_geomean_ms", (TEXT,)),
    "spark.shuffle_write_mb": ("MB", "lower", "op_geomean_ms", (TEXT,)),
    "spark.task_s": ("s", "lower", "op_geomean_ms", (TEXT,)),
    "passes": ("count", "higher", "op_geomean_ms", (TEXT,)),
    # catalog commits and reads
    "catalog.append_ms": ("ms", "lower", "catalog.commit_p50_ms", (LAKE,)),
    "catalog.delete_ms": ("ms", "lower", "catalog.commit_p50_ms", (LAKE,)),
    "catalog.upsert_ms": ("ms", "lower", "catalog.commit_p50_ms", (LAKE,)),
    "catalog.overwrite_ms": ("ms", "lower", "catalog.commit_p50_ms", (LAKE,)),
    "catalog.commit_p50_ms": ("ms", "lower", "op_geomean_ms", (LAKE,)),
    "catalog.commit_tail_ms": ("ms", "lower", "op_geomean_ms", (LAKE,)),
    "catalog.commit_tail_beyond": ("count", "higher", "op_geomean_ms", (LAKE,)),
    "catalog.scan_p50_ms": ("ms", "lower", "op_geomean_ms", (LAKE,)),
    "catalog.scan_tail_ms": ("ms", "lower", "op_geomean_ms", (LAKE,)),
    "catalog.scan_tail_beyond": ("count", "higher", "op_geomean_ms", (LAKE,)),
    "catalog.lookup_p50_ms": ("ms", "lower", "op_geomean_ms", (LAKE,)),
    "catalog.lookup_tail_ms": ("ms", "lower", "op_geomean_ms", (LAKE,)),
    "catalog.lookup_tail_beyond": ("count", "higher", "op_geomean_ms", (LAKE,)),
    "catalog.scan_plan_ms": ("ms", "lower", "catalog.scan_p50_ms", (LAKE,)),
    "catalog.scan_plan_early_ms": ("ms", "lower", "catalog.scan_p50_ms", (LAKE,)),
    "catalog.scan_plan_late_ms": ("ms", "lower", "catalog.scan_tail_ms", (LAKE,)),
    "catalog.scan_exec_ms": ("ms", "lower", "catalog.scan_p50_ms", (LAKE,)),
    "catalog.scan_exec_early_ms": ("ms", "lower", "catalog.scan_p50_ms", (LAKE,)),
    "catalog.scan_exec_late_ms": ("ms", "lower", "catalog.scan_tail_ms", (LAKE,)),
    "catalog.time_travel_ms": ("ms", "lower", "catalog.scan_tail_ms", (LAKE,)),
    # catalog history and layout
    "catalog.age_slowdown": ("ratio", "lower", "catalog.commit_tail_ms", (LAKE,)),
    "catalog.snapshots": ("count", "lower", "catalog.commit_tail_ms", (LAKE,)),
    "catalog.commits": ("count", "higher", "op_geomean_ms", (LAKE,)),
    "catalog.metadata_kb_per_commit": ("KB", "lower", "catalog.commit_p50_ms", (LAKE,)),
    "catalog.data_files_per_commit": ("count", "lower", "catalog.maintenance_s", (LAKE,)),
    "catalog.files_scanned_ratio": ("ratio", "lower", "catalog.scan_p50_ms", (LAKE,)),
    "catalog.table_bytes_per_row": ("B", "lower", "memory_mb", (LAKE,)),
    # catalog bulk load and maintenance
    "catalog.fanout_write_s": ("s", "lower", "catalog.ingest_mrows_per_s", (LAKE,)),
    "catalog.fanout_shuffle_mb": ("MB", "lower", "catalog.ingest_mrows_per_s", (LAKE,)),
    "catalog.ingest_mrows_per_s": ("Mrows/s", "higher", "op_geomean_ms", (LAKE,)),
    "catalog.rewrite_data_files_s": ("s", "lower", "catalog.maintenance_s", (LAKE,)),
    "catalog.rewrite_manifests_s": ("s", "lower", "catalog.maintenance_s", (LAKE,)),
    "catalog.expire_snapshots_s": ("s", "lower", "catalog.maintenance_s", (LAKE,)),
    "catalog.maintenance_s": ("s", "lower", "op_geomean_ms", (LAKE,)),
    # streaming source
    "streaming.drain_ms": ("ms", "lower", "op_geomean_ms", (LAKE,)),
    "streaming.rows_per_s": ("1/s", "higher", "op_geomean_ms", (LAKE,)),
}

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def valid_name(name: str) -> bool:
    return bool(NAME.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT.match(unit))


def render(values: dict[str, float], names) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every name in ``names``; a
    metric a workload did not measure reads 0."""
    table = {**{k: v[0] for k, v in END_TO_END.items()},
             **{k: v[0] for k, v in PER_LAYER.items()}}
    return {n: {"value": float(values.get(n, 0.0)), "unit": table[n]} for n in names}
