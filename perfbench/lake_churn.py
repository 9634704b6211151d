"""``lake_churn``: the LakeTable lifecycle under a stream of commits.

A ``sources.datagen.generate_tx_events`` table partitioned
``days(ts), bucket(16, user_id)`` gets one bulk fanout load, then a
seeded closed-loop stream until ``--seconds`` have passed: blocks of
the four row-level commits (``append``, merge-on-read ``delete_where``,
``upsert_by_keys``, ``overwrite_partitions`` of one day), each
followed by a read (a 2-day pruned ``scan`` aggregate, a bucket point
lookup ``scan("user_id = k")`` on a skewed key, or a time-travel
``read(snapshot_id=...)`` of a seeded past snapshot), and an
``availableNow`` drain of the ``laketable`` streaming source every
``DRAIN_EVERY`` commits. It ends with ``rewrite_data_files`` (scoped to
the day the appends land in), ``rewrite_manifests`` and
``expire_snapshots``. This is the one workload where catalog metadata,
commit and pruning do most of the work, with writes beside reads.

Where the shapes come from (SURVEY.md tables):

- the table, its partitioning and its generator: ``blob-dfs_bench.py``
  (D3, G1-G6);
- the row mix of a block of commits: 75% inserts, 20% updates, 5%
  deletes, the interoperability spec's CDC mix (M5);
- the window read: a 2-day ``days(ts)`` window grouped by city (Q9,
  Q10); the point lookup: one ``user_id`` equality, as bench.py's
  ``synth_point_lookup``; time travel: the count at a stored past
  snapshot (T2, T6); ``expire_snapshots(retain_last=2)`` (P3);
- the overwrite: one day's live rows rewritten with new values, the
  shape of bench.py's ``overwrite_partition_day`` backfill.

The sizes are not from any trace. ``BULK_ROWS`` is a fifth of
bench.py's 1M-row synthetic phase, and ``BLOCK_ROWS`` (the rows one
block of commits changes) is small against it, so that a short run
makes several commits and the figures stay steady. The overwritten
day is the one the appends land in, so its size follows the appends,
not the bulk load. The lookup keys follow a Zipf law only so that
keys repeat within one run; its exponent and key count were picked,
not measured.

A Python model of the live keys checks every read: the window count,
the lookup row count, the count at each time-travel target, the rows
each drain streamed, and the live row count after maintenance.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from . import harness
from .stats import summarize

BULK_ROWS = 200_000
DAY_S = 86_400
BULK_DAYS = -(-BULK_ROWS // DAY_S)   # generate_tx_events: ts = base + user_id % 30d
HOT_DAY = BULK_DAYS                 # appends and overwrites land here
NEW_KEY_BASE = 10_000_000
BLOCK_ROWS = 200
INSERTS, UPDATES, DELETES = (BLOCK_ROWS * p // 100 for p in (75, 20, 5))
HOT_KEYS = 64
ZIPF_S = 1.1
DRAIN_EVERY = 4
BUCKETS = 16
PARTITION_BY = ["days(ts)", f"bucket({BUCKETS}, user_id)"]
SCHEMA = "user_id bigint, ts timestamp, amount double, city string, category string"
CITIES = ["Paris", "Seoul", "Tokyo", "Lyon", "Lille", "Marseille", "Nantes", "Bordeaux"]
COMMITS = ("append", "delete", "upsert", "overwrite")
READS = ("window", "lookup", "time_travel", "lookup")


def day_bounds(day: int) -> tuple[str, str]:
    from iceberg_catalog_bench_spark.sources.datagen import EPOCH_BASE

    fmt = "%Y-%m-%d %H:%M:%S"
    lo = time.strftime(fmt, time.gmtime(EPOCH_BASE + day * DAY_S))
    return lo, time.strftime(fmt, time.gmtime(EPOCH_BASE + (day + 1) * DAY_S))


def schedule(seed: int, blocks: int) -> list[tuple[str, int]]:
    """The operation stream: ``(kind, seed of its parameters)``. The
    kinds follow a fixed cycle (each commit followed by a read, a drain
    every ``DRAIN_EVERY`` commits), so every prefix of the stream has
    the same mix whatever the seed; the seed picks what each operation
    touches (keys, days, time-travel targets)."""
    rng = random.Random(seed)
    out: list[tuple[str, int]] = []
    for b in range(blocks):
        for i, (c, r) in enumerate(zip(COMMITS, READS)):
            out += [(c, rng.getrandbits(32)), (r, rng.getrandbits(32))]
            if (4 * b + i + 1) % DRAIN_EVERY == 0:
                out.append(("drain", rng.getrandbits(32)))
    return out


@dataclass
class Model:
    """Live keys and the day each lives in; counts per snapshot."""

    live: dict[int, int] = field(default_factory=dict)
    per_day: dict[int, int] = field(default_factory=dict)
    at_snapshot: dict[int, int] = field(default_factory=dict)
    appended_rows: int = 0

    def add(self, key: int, day: int) -> None:
        if key in self.live:
            self.remove(key)
        self.live[key] = day
        self.per_day[day] = self.per_day.get(day, 0) + 1

    def remove(self, key: int) -> None:
        day = self.live.pop(key, None)
        if day is not None:
            self.per_day[day] -= 1


class LakeChurn:
    def __init__(self, run):
        from pyspark.sql import functions as F

        from iceberg_catalog_bench_spark.catalog import LakeTable
        from iceberg_catalog_bench_spark.sources.datagen import EPOCH_BASE
        from iceberg_catalog_bench_spark.streaming.table_source import register_source

        self.F, self.LakeTable, self.epoch = F, LakeTable, EPOCH_BASE
        self.run, self.spark = run, run.spark
        register_source(self.spark)
        self.rng = random.Random(run.seed * 7919 + 1)
        self.model = Model()
        self.snapshots: list[int] = []
        self.readings: dict[str, list[float]] = {}
        self.streamed = 0
        self.table = None
        self.next_key = NEW_KEY_BASE
        hot = random.Random(run.seed).sample(range(BULK_ROWS), HOT_KEYS)
        self.hot_keys, self.hot_weights = hot, [1.0 / (i + 1) ** ZIPF_S for i in range(HOT_KEYS)]

    def note(self, name: str, value: float) -> None:
        self.readings.setdefault(name, []).append(value)

    # -- generated inputs -------------------------------------------------

    def rows(self, keys: list[tuple[int, int]]):
        """A batch DataFrame of ``(key, day)`` pairs with seeded values."""
        F = self.F
        data = [(k, self.epoch + d * DAY_S + self.rng.randrange(DAY_S),
                 round(self.rng.random() * 1000.0, 6), CITIES[k % 8], "ABCDE"[k % 5])
                for k, d in keys]
        return (self.spark.createDataFrame(
            data, "user_id bigint, ts_s bigint, amount double, city string, category string")
            .select("user_id", F.timestamp_seconds("ts_s").alias("ts"),
                    "amount", "city", "category"))

    def new_keys(self, n: int) -> list[int]:
        self.next_key += n
        return list(range(self.next_key - n, self.next_key))

    def skewed_key(self) -> int:
        return self.rng.choices(self.hot_keys, self.hot_weights)[0]

    # -- operations -------------------------------------------------------

    def committed(self, snap) -> None:
        self.snapshots.append(snap.snapshot_id)
        self.model.at_snapshot[snap.snapshot_id] = len(self.model.live)

    def commit(self, kind: str) -> None:
        run, tr, t, m = self.run, self.run.tracer, self.table, self.model
        if kind == "append":
            keys = self.new_keys(INSERTS)
            df = self.rows([(k, HOT_DAY) for k in keys])
            call = lambda: t.append(df)  # noqa: E731

            def apply():
                for k in keys:
                    m.add(k, HOT_DAY)
                m.appended_rows += len(keys)
        elif kind == "delete":
            keys = sorted(self.rng.sample(sorted(m.live), DELETES))
            where = f"user_id IN ({', '.join(map(str, keys))})"
            call = lambda: t.delete_where(where, mode="merge-on-read")  # noqa: E731

            def apply():
                for k in keys:
                    m.remove(k)
        elif kind == "upsert":
            keys = [(k, m.live[k]) for k in self.rng.sample(sorted(m.live), UPDATES)]
            df = self.rows(keys)
            call = lambda: t.upsert_by_keys(df, on=["user_id"])  # noqa: E731

            def apply():
                pass  # the same keys, in the same days, with new values
        else:  # every live row of the hot day, with new values
            keys = sorted(k for k, d in m.live.items() if d == HOT_DAY)
            df = self.rows([(k, HOT_DAY) for k in keys])
            call = lambda: t.overwrite_partitions(df)  # noqa: E731

            def apply():
                pass  # the day keeps its keys: each partition it has is replaced

        def body():
            with tr.span(kind, f"catalog.{kind}"):
                return call()

        ok, snap = run.op(kind, kind, body)
        if ok:
            apply()
            self.committed(snap)

    def read(self, kind: str) -> None:
        run, tr, t, m = self.run, self.run.tracer, self.table, self.model
        holder = {}
        if kind == "window":
            d0 = self.rng.randrange(BULK_DAYS)
            lo, _ = day_bounds(d0)
            _, hi = day_bounds(d0 + 1)
            where = f"ts >= '{lo}' AND ts < '{hi}'"
            expect = m.per_day.get(d0, 0) + m.per_day.get(d0 + 1, 0)
        elif kind == "lookup":
            k = self.skewed_key()
            where = f"user_id = {k}"
            expect = 1 if k in m.live else 0
        else:
            sid = self.rng.choice(self.snapshots[:-1] or self.snapshots)
            expect = m.at_snapshot[sid]

        def body():
            if kind == "time_travel":
                with tr.span("time_travel", "catalog.time_travel"):
                    return t.read(snapshot_id=sid).count()
            with tr.span("scan", "catalog.scan_plan"):
                df = t.scan(where)
            holder["df"] = df
            with tr.span("collect", "catalog.scan_exec"):
                if kind == "window":
                    return sum(r["count"] for r in df.groupBy("city").count().collect())
                return len(df.collect())

        ok, got = run.op(kind, kind, body)
        if not ok:
            return
        run.check(got == expect, f"{kind}: {got} rows, model {expect}")
        if tr.enabled and kind == "window":
            live_files = len(t.read().inputFiles())
            self.note("files_scanned_ratio", len(holder["df"].inputFiles()) / max(1, live_files))

    def drain(self) -> None:
        run, tr = self.run, self.run.tracer
        ck = os.path.join(run.work, "drain-ck")

        def body():
            with tr.span("drain", "streaming.drain"):
                q = (self.spark.readStream.format("laketable").option("path", self.table.path)
                     .option("skip-non-appends", "true")
                     .option("starting-snapshot-id", str(self.snapshots[0])).load()
                     .writeStream.format("noop").trigger(availableNow=True)
                     .option("checkpointLocation", ck).start())
                q.awaitTermination(120)
                return q

        ok, q = run.op("drain", "drain", body)
        if ok:
            rows = sum(p["numInputRows"] for p in q.recentProgress)
            self.note("drain_rows", rows)
            self.streamed += rows
            run.check(self.streamed == self.model.appended_rows,
                      f"drain: streamed {self.streamed} rows, model appended "
                      f"{self.model.appended_rows}")

    def bulk_load(self) -> None:
        from iceberg_catalog_bench_spark.sources.datagen import generate_tx_events

        run, tr = self.run, self.run.tracer
        self.table = self.LakeTable.create(
            self.spark, os.path.join(run.work, "tx_events"), SCHEMA,
            partition_by=PARTITION_BY)
        before = harness.executor_totals(self.spark)

        def body():
            with tr.span("generate", "sources.datagen"):
                df = generate_tx_events(self.spark, BULK_ROWS, seed=run.seed)
            with tr.span("append", "catalog.fanout_write"):
                return self.table.append(df)

        ok, snap = run.op("bulk", "bulk", body)
        if not ok:
            raise RuntimeError("bulk load failed; nothing to churn")
        delta = harness.totals_delta(before, harness.executor_totals(self.spark))
        self.note("fanout_shuffle_mb", delta["swrite"] / harness.MB)
        for k in range(BULK_ROWS):
            self.model.add(k, k // DAY_S)
        self.committed(snap)

    def maintain(self) -> None:
        run, tr, t = self.run, self.run.tracer, self.table
        lo, hi = day_bounds(HOT_DAY)
        steps = [
            # every hot-day group, however many files it has, so the
            # work does not hinge on how far the loop got
            ("rewrite_data_files",
             lambda: t.rewrite_data_files(min_input_files=1,
                                          where=f"ts >= '{lo}' AND ts < '{hi}'")),
            ("rewrite_manifests", t.rewrite_manifests),
            ("expire_snapshots", lambda: t.expire_snapshots(retain_last=2)),
        ]
        for name, call in steps:
            def body(name=name, call=call):
                with tr.span(name, f"catalog.{name}"):
                    return call()

            run.op(name, name, body)


def warm_up(run, lc: LakeChurn) -> None:
    """The whole lifecycle once on four-row tables, untimed, with the
    batches built as the timed commits build theirs: starts the Python
    workers of the streaming source and compiles every plan shape the
    timed section uses. Three independent step lists run on three
    threads, because most of a cold step is single-threaded start-up
    and compilation."""
    from concurrent.futures import ThreadPoolExecutor

    from iceberg_catalog_bench_spark.catalog import LakeTable

    spark = run.spark
    rows = lambda n: lc.rows([(k, HOT_DAY) for k in range(n)])  # noqa: E731
    lo, hi = day_bounds(HOT_DAY)
    a, b, c = (LakeTable.create(spark, os.path.join(run.work, f"warm-{x}"), SCHEMA,
                                partition_by=PARTITION_BY)
               for x in "abc")
    first = {}
    commits = [
        lambda: a.append(rows(4)),
        lambda: a.append(rows(4)),
        lambda: a.rewrite_data_files(min_input_files=1, where=f"ts >= '{lo}' AND ts < '{hi}'"),
        lambda: a.delete_where("user_id IN (1, 2)", mode="merge-on-read"),
        lambda: a.upsert_by_keys(rows(2), on=["user_id"]),
        lambda: a.overwrite_partitions(rows(1)),
        a.rewrite_manifests,
        lambda: a.expire_snapshots(retain_last=2),
    ]
    reads = [
        lambda: first.setdefault("b", b.append(rows(4)).snapshot_id),
        lambda: b.scan("user_id = 3").collect(),
        lambda: b.scan(f"ts >= '{lo}' AND ts < '{hi}'").groupBy("city").count().collect(),
        lambda: b.read(snapshot_id=first["b"]).count(),
    ]
    drain = [
        lambda: c.append(rows(4)),
        lambda: spark.readStream.format("laketable").option("path", c.path)
        .option("skip-non-appends", "true").load()
        .writeStream.format("noop").trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(run.work, "warm-ck")).start()
        .awaitTermination(120),
    ]

    def run_steps(steps):
        for step in steps:
            step()

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(run_steps, s) for s in (commits, reads, drain)]:
            f.result()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def main(run) -> dict[str, float]:
    t0 = time.perf_counter()
    lc = LakeChurn(run)
    inputs_s = time.perf_counter() - t0
    warm_up(run, lc)
    warm_s = time.perf_counter() - t0 - inputs_s
    run.setup_s += inputs_s + warm_s

    ops = iter(schedule(run.seed, 10_000))
    t0 = time.perf_counter()
    lc.bulk_load()
    # --seconds bounds the commit stream alone, so the load's time does
    # not cut the history short
    stream_t0 = time.perf_counter()
    while run.more(stream_t0):
        kind, op_seed = next(ops)
        lc.rng.seed(op_seed)
        if kind in COMMITS:
            lc.commit(kind)
        elif kind == "drain":
            lc.drain()
        else:
            lc.read(kind)
    t1 = time.perf_counter()
    meta_bytes = dir_bytes(os.path.join(lc.table.path, "_meta"))
    commits = len(lc.snapshots) - 1
    data_files = len(lc.table.read().inputFiles())
    t2 = time.perf_counter()
    lc.maintain()
    run.wall_s = (t1 - t0) + (time.perf_counter() - t2)

    live = lc.table.read().count()
    run.check(live == len(lc.model.live),
              f"after maintenance: {live} live rows, model {len(lc.model.live)}")
    return {**layer_metrics(run, lc, meta_bytes, commits, data_files, live),
            "setup.warm_s": warm_s, "setup.inputs_s": inputs_s}


def age_slowdown(latencies: dict[str, list[float]]) -> float | None:
    """How much a commit slows down as history grows, comparing each
    commit kind with itself: per kind with at least two commits, the
    median latency over its last tenth of commits divided by that over
    its first tenth; the geometric mean of those ratios. None when no
    kind has committed twice."""
    ratios = []
    for kind in COMMITS:
        xs = latencies.get(kind, [])
        if len(xs) >= 2:
            tenth = max(1, round(len(xs) / 10))
            ratios.append(statistics.median(xs[-tenth:]) / statistics.median(xs[:tenth]))
    if not ratios:
        return None
    return math.exp(statistics.fmean(math.log(r) for r in ratios))


def layer_metrics(run, lc: LakeChurn, meta_bytes: int, commits: int,
                  data_files: int, live: int) -> dict[str, float]:
    lat = run.latencies
    med = lambda k: statistics.median(lat[k]) if lat.get(k) else 0.0  # noqa: E731
    out: dict[str, float] = {}
    for kind in COMMITS:
        out[f"catalog.{kind}_ms"] = med(kind) * 1000.0
    for name, kinds in (("commit", COMMITS), ("scan", ("window", "time_travel")),
                        ("lookup", ("lookup",))):
        samples = [x for k in kinds for x in lat.get(k, [])]
        if samples:
            s = summarize(samples, 1000.0)
            out[f"catalog.{name}_p50_ms"] = s["p50"]
            out[f"catalog.{name}_tail_ms"] = s["tail"]
            out[f"catalog.{name}_tail_beyond"] = s["tail_beyond"]
    out["catalog.time_travel_ms"] = med("time_travel") * 1000.0
    slowdown = age_slowdown(lat)
    if slowdown is not None:
        out["catalog.age_slowdown"] = slowdown
    out["catalog.snapshots"] = float(len(lc.snapshots))
    out["catalog.commits"] = float(commits)
    out["catalog.metadata_kb_per_commit"] = meta_bytes / 1024.0 / max(1, commits + 1)
    out["catalog.data_files_per_commit"] = data_files / max(1, commits + 1)
    if lc.readings.get("files_scanned_ratio"):
        out["catalog.files_scanned_ratio"] = statistics.median(lc.readings["files_scanned_ratio"])
    out["catalog.fanout_write_s"] = med("bulk")
    out["catalog.fanout_shuffle_mb"] = lc.readings["fanout_shuffle_mb"][0]
    out["catalog.ingest_mrows_per_s"] = BULK_ROWS / 1e6 / med("bulk") if lat.get("bulk") else 0.0
    maint = 0.0
    for name in ("rewrite_data_files", "rewrite_manifests", "expire_snapshots"):
        out[f"catalog.{name}_s"] = med(name)
        maint += med(name)
    out["catalog.maintenance_s"] = maint
    out["catalog.table_bytes_per_row"] = dir_bytes(lc.table.path) / max(1, live)
    for layer in ("scan_plan", "scan_exec"):
        spans = [x.duration for x in run.tracer.spans if x.layer == f"catalog.{layer}"]
        if spans:
            third = max(1, len(spans) // 3)
            out[f"catalog.{layer}_ms"] = statistics.median(spans) * 1000.0
            out[f"catalog.{layer}_early_ms"] = statistics.median(spans[:third]) * 1000.0
            out[f"catalog.{layer}_late_ms"] = statistics.median(spans[-third:]) * 1000.0
    if lat.get("drain"):
        out["streaming.drain_ms"] = med("drain") * 1000.0
        out["streaming.rows_per_s"] = sum(lc.readings["drain_rows"]) / sum(lat["drain"])
    return out
