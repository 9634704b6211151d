"""What every workload shares: the Spark session, the closed-loop
operation runner with its failure accounting, and the readings taken
from Spark, the JVM and the host.

Reads of Spark internals (the executor status store and the executed
plan's metrics) are made here, after an operation has returned and
outside its timer.
"""

from __future__ import annotations

import os
import re
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from .trace import Tracer

MB = 1024.0 * 1024.0


@dataclass
class Run:
    """One workload run: its inputs, its session and what it measured."""

    seed: int
    seconds: float
    work: str
    tracer: Tracer
    # stop the timed loop after this many operations as well (tests use
    # it to compare two runs op for op); None: time alone decides
    max_ops: int | None = None
    spark: Any = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # operation kind -> latencies in seconds, in execution order
    latencies: dict[str, list[float]] = field(default_factory=dict)
    # the kind of every operation attempted, in order
    order: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    wall_s: float = 0.0

    def op(self, kind: str, name: str, fn: Callable[[], Any]) -> tuple[bool, Any]:
        """Run one operation of the closed loop and time it.

        An operation that raises counts as attempted and failed; its
        latency is not recorded. Returns ``(ok, result)``."""
        self.attempted += 1
        self.order.append(kind)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, "bench", new_op=True):
                out = fn()
        except Exception:  # the loop must go on; the failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            return False, None
        self.latencies.setdefault(kind, []).append(time.perf_counter() - t0)
        return True, out

    def more(self, t0: float) -> bool:
        """Whether the timed loop started at ``t0`` goes on."""
        return (time.perf_counter() - t0 < self.seconds
                and (self.max_ops is None or self.attempted < self.max_ops))

    def check(self, ok: bool, what: str) -> None:
        """A correctness check made outside the timer; a wrong output
        counts its operation as failed."""
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")

    def all_latencies(self) -> list[float]:
        return [x for v in self.latencies.values() for x in v]


def start_session(work: str, cpus: int):
    """The engine's own session factory on ``local[cpus]``, with Spark's
    scratch directories inside ``work``."""
    from iceberg_catalog_bench_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def executor_totals(spark) -> dict[str, float]:
    """Cumulative executor input, shuffle bytes and task time."""
    store = spark.sparkContext._jsc.sc().statusStore()
    ex = store.executorList(False)
    t = {"input": 0.0, "sread": 0.0, "swrite": 0.0, "task_ms": 0.0}
    for i in range(ex.size()):
        e = ex.apply(i)
        t["input"] += e.totalInputBytes()
        t["sread"] += e.totalShuffleRead()
        t["swrite"] += e.totalShuffleWrite()
        t["task_ms"] += e.totalDuration()
    return t


def totals_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


_EXCHANGE = re.compile(r"^[\s:+\-|*]*(\(\d+\)\s*)?(Exchange|BroadcastExchange|ShuffleExchange)\b",
                       re.MULTILINE)
_PY_METRICS = ("pythonBootTime", "pythonInitTime", "pythonTotalTime",
               "pythonDataSent", "pythonDataReceived")


def plan_readings(df) -> dict[str, float]:
    """Exchanges in the final executed plan of ``df`` (after it ran),
    and the sums of its Python-worker metrics: boot/init/total time in
    seconds, data sent/received in MB."""
    plan = df._jdf.queryExecution().executedPlan()
    text = plan.toString()
    if "== Final Plan ==" in text:  # adaptive plan: count the final one only
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    out = {"exchanges": float(len(_EXCHANGE.findall(text)))}
    sums = dict.fromkeys(_PY_METRICS, 0.0)
    stack, seen = [plan], 0
    while stack and seen < 2000:
        node = stack.pop()
        seen += 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec") or cls == "ReusedExchangeExec":
            stack.append(node.plan() if cls.endswith("QueryStageExec") else node.child())
            continue
        metrics = node.metrics()
        for name in _PY_METRICS:
            m = metrics.get(name)
            if m.isDefined():
                kind = m.get().metricType()
                scale = 1e-9 if kind == "nsTiming" else 1e-3 if kind == "timing" else 1.0
                sums[name] += m.get().value() * scale
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    out.update(python_boot_s=sums["pythonBootTime"],
               python_init_s=sums["pythonInitTime"],
               python_total_s=sums["pythonTotalTime"],
               python_sent_mb=sums["pythonDataSent"] / MB,
               python_received_mb=sums["pythonDataReceived"] / MB)
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_retained_mb(spark) -> tuple[float, float]:
    """(heap in use after a full collection, non-heap in use) of the
    Spark JVM, in MB: the memory the run holds, free of the garbage a
    high-water mark also counts."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() / MB,
            mx.getNonHeapMemoryUsage().getUsed() / MB)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2], v[7] if len(v) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    busy, steal = after[0] - before[0], after[1] - before[1]
    return 100.0 * steal / (busy + steal) if busy + steal > 0 else 0.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
