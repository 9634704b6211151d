"""Registered-query operations for ``text_dedup``.

One operation is one registry query: the builder call (Python-side
DataFrame construction), then ``toPandas()`` (planning, execution and
the result fetch). In a traced operation the executed plan is forced
between the two, so Catalyst planning gets its own span, and the plan
and executor counters are read after the operation returns.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from typing import Any

from . import harness
from .trace import patch_module_functions

PACKAGE = "iceberg_catalog_bench_spark"


def trace_sources(run) -> list:
    """Wrap the table loaders every builder calls, so their time is
    recorded under ``sources`` inside the build span."""
    from iceberg_catalog_bench_spark import sources

    return [
        patch_module_functions(run.tracer, PACKAGE, sources.load_table,
                               "load_table", "sources.load_table"),
        patch_module_functions(run.tracer, PACKAGE, sources.load_events_ts_range,
                               "load_events_ts_range", "sources.load_table"),
    ]


class QueryOps:
    """Runs registry queries as timed operations and keeps what the
    correctness checks and the per-layer readings need."""

    def __init__(self, run, sf_dir: str):
        from iceberg_catalog_bench_spark.operators import registry

        registry.load_all()
        self.registry = registry
        self.run = run
        self.sf_dir = sf_dir
        self.results: dict[str, Any] = {}       # name -> first pandas result
        self.row_counts: dict[str, set[int]] = {}
        self.exchanges: dict[str, float] = {}   # name -> exchanges in final plan
        self.counters: list[dict[str, float]] = []

    def build(self, name: str):
        return self.registry.QUERIES[name](self.run.spark, self.sf_dir)

    def warm(self, name: str) -> None:
        self.build(name).toPandas()

    def warm_all(self, names: list[str]) -> float:
        """Run every query twice, untimed, three at a time (most of a
        cold query is single-threaded compilation); returns the time.
        After one warm run a query's second timed run took about a
        quarter less time than its first; after two, about an eighth."""
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(self.warm, n) for n in names * 2]:
                f.result()
        return time.perf_counter() - t0

    def execute(self, name: str) -> None:
        run, tr = self.run, self.run.tracer
        before = harness.executor_totals(run.spark) if tr.enabled else None
        holder: dict[str, Any] = {}

        def body():
            with tr.span("build", "operators.build"):
                df = self.build(name)
            if tr.enabled:
                with tr.span("plan", "operators.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec", "operators.exec"):
                holder["df"] = df
                return df.toPandas()

        ok, pdf = run.op(name, name, body)
        if not ok:
            return
        self.results.setdefault(name, pdf)
        self.row_counts.setdefault(name, set()).add(len(pdf))
        if tr.enabled:
            delta = harness.totals_delta(before, harness.executor_totals(run.spark))
            plan = harness.plan_readings(holder["df"])
            self.exchanges.setdefault(name, plan["exchanges"])
            self.counters.append({**plan, **delta})

    def check(self, names: list[str]) -> None:
        """Every query returns the same row count on every execution,
        and its first result matches its DuckDB oracle on the same
        files."""
        import duckdb

        from iceberg_catalog_bench_spark.engine import oracle

        from .inputs import TABLES

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        try:
            for name in names:
                if name not in self.results:
                    continue  # its failure is already counted
                self.run.check(len(self.row_counts[name]) == 1,
                               f"{name}: row count changed between executions")
                sql = self.registry.ORACLES.get(name)
                if sql is None:
                    continue
                self.run.check(*compare_with_oracle(
                    oracle, name, self.results[name], con.execute(sql).fetchdf()))
        finally:
            con.close()

    def layer_metrics(self) -> dict[str, float]:
        """Per-query means of the counters read after each query."""
        out: dict[str, float] = {"operators.exchanges": sum(self.exchanges.values())}

        def mean(key: str) -> float:
            return statistics.fmean(c[key] for c in self.counters) if self.counters else 0.0

        for key in ("python_boot_s", "python_init_s", "python_total_s",
                    "python_sent_mb", "python_received_mb"):
            out[f"operators.{key}"] = mean(key)
        out["spark.input_mb"] = mean("input") / harness.MB
        out["spark.shuffle_read_mb"] = mean("sread") / harness.MB
        out["spark.shuffle_write_mb"] = mean("swrite") / harness.MB
        out["spark.task_s"] = mean("task_ms") / 1000.0
        return out


def pass_order(seed: int, chosen: list[str], p: int) -> list[str]:
    return random.Random(f"{seed}/{p}").sample(chosen, len(chosen))


def run_passes(run, ops: QueryOps, names: list[str]) -> float:
    """The timed section: ``names`` in a new seeded order per pass, one
    operation after another until ``run.seconds`` have passed. Returns
    the passes made (a fraction when the last one was cut short)."""
    restore = trace_sources(run) if run.tracer.enabled else []
    t0 = time.perf_counter()
    n = 0
    while n == 0 or run.more(t0):
        p, i = divmod(n, len(names))
        if i == 0:
            order = pass_order(run.seed, names, p)
        ops.execute(order[i])
        n += 1
    run.wall_s = time.perf_counter() - t0
    for undo in restore:
        undo()
    return n / len(names)


def compare_with_oracle(oracle, name: str, got, want) -> tuple[bool, str]:
    """Row count, column names and every value, order-insensitive,
    after the engine's own oracle normalisation."""
    got = got.rename(columns=str.lower)
    want = want.rename(columns=str.lower)
    if sorted(got.columns) != sorted(want.columns):
        return False, f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"{name}: {len(got)} rows, oracle {len(want)}"
    a, b = oracle._normalize(got), oracle._normalize(want)
    for i in range(len(a)):
        for c in a.columns:
            if not oracle._values_equal(a.at[i, c], b.at[i, c]):
                return False, f"{name}: row {i} col {c}: {a.at[i, c]!r} != {b.at[i, c]!r}"
    return True, name
