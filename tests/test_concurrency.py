"""Multi-writer commit concurrency (reference spec
`ICEBERG-Interoperability-Test-Spec.md:83,107-111`): concurrent
writers against ONE table must serialize through the O_EXCL commit
lock with optimistic retry — every commit lands (no lost updates) and
the snapshot history stays a single linear parent chain.

The commit path is Spark-free metadata I/O, so the writers are real
OS processes (spawn, separate interpreters — nothing shared but the
filesystem), the same isolation two engines writing one Iceberg table
would have.
"""

import multiprocessing as mp
import os
import time

from iceberg_catalog_bench_spark.catalog.table import LakeTable

_N_WRITERS = 4
_N_COMMITS = 12


def _writer(table_path: str, wid: int, out_dir: str) -> None:
    from iceberg_catalog_bench_spark.catalog.table import (
        CommitConflict,
        FileEntry,
        LakeTable,
    )

    t = LakeTable.load(None, table_path)
    # start barrier: interpreter start-up varies by more than one
    # writer's whole run, so without it the writers may never overlap
    open(os.path.join(out_dir, f"ready-{wid}"), "w").close()
    deadline = time.monotonic() + 60
    while (sum(n.startswith("ready-") for n in os.listdir(out_dir))
           < _N_WRITERS and time.monotonic() < deadline):
        time.sleep(0.001)
    conflicts = 0
    for i in range(_N_COMMITS):
        while True:
            t._reload()
            snap = t._snapshot()
            base = list(snap.files) if snap else []
            fe = FileEntry(
                path=f"data/w{wid}-c{i}.parquet", rows=1, bytes=10,
                schema_version=0, seq=None,
            )
            try:
                t._commit("append", base + [fe], {"writer": wid, "commit": i})
                break
            except CommitConflict:
                conflicts += 1
    with open(os.path.join(out_dir, f"conflicts-{wid}"), "w") as fh:
        fh.write(str(conflicts))


def test_multiprocess_writers_no_lost_commits(spark, tmp_path):
    table_path = str(tmp_path / "t")
    # schema DDL parsing needs the JVM; the writers themselves are
    # Spark-free (pure metadata commits)
    LakeTable.create(spark, table_path, "id bigint")

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)
    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_writer, args=(table_path, w, out_dir))
        for w in range(_N_WRITERS)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=300)
        assert p.exitcode == 0

    t = LakeTable.load(None, table_path)
    snaps = t._meta["snapshots"]
    assert len(snaps) == _N_WRITERS * _N_COMMITS

    # no lost commit: every (writer, commit) pair landed exactly once
    seen = [(s["summary"]["writer"], s["summary"]["commit"]) for s in snaps]
    assert sorted(seen) == sorted(
        (w, i) for w in range(_N_WRITERS) for i in range(_N_COMMITS)
    )

    # linear history: walking parents from the tip visits every commit
    by_id = {s["snapshot_id"]: s for s in snaps}
    cur, chain = t._meta["current_snapshot_id"], 0
    while cur is not None:
        chain += 1
        cur = by_id[cur]["parent_id"]
    assert chain == _N_WRITERS * _N_COMMITS

    # the contention was real: at least one optimistic retry happened
    total_conflicts = sum(
        int(open(os.path.join(out_dir, f"conflicts-{w}")).read())
        for w in range(_N_WRITERS)
    )
    assert total_conflicts >= 1

    # the lock file never leaks
    assert not os.path.exists(os.path.join(table_path, "_meta", "commit.lock"))


def test_streaming_ingest_races_batch_appends(spark, tmp_path):
    """A foreachBatch streaming ingest and a concurrent batch writer
    hitting the SAME LakeTable must both land all rows: every commit
    retries through the commit lock, so no snapshot is lost and the
    history stays linear. This is the streaming×batch coexistence the
    Iceberg commit protocol promises (a streaming writer is just
    another optimistic committer)."""
    import threading

    from pyspark.sql import functions as F

    from iceberg_catalog_bench_spark.catalog import LakeTable

    d = str(tmp_path / "t")
    t = LakeTable.create(spark, d, "id bigint, src string")

    src_dir = str(tmp_path / "stream-src")
    # 4 source files → up to 4 streaming micro-batch commits
    spark.range(400).select("id", F.lit("stream").alias("src")) \
        .repartition(4).write.parquet(src_dir)

    errs = []

    def batch_writer():
        try:
            h = LakeTable.load(spark, d)
            for i in range(4):
                h.append(
                    spark.range(1000 + i * 100, 1100 + i * 100)
                    .select("id", F.lit("batch").alias("src"))
                )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ingest_handle = LakeTable.load(spark, d)

    def ingest(batch_df, batch_id):
        ingest_handle.append(batch_df)

    th = threading.Thread(target=batch_writer)
    th.start()
    q = (
        spark.readStream.schema("id bigint, src string").parquet(src_dir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    th.join()
    assert not errs, errs

    final = LakeTable.load(spark, d)
    counts = {r["src"]: r["n"] for r in
              final.read().groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"stream": 400, "batch": 400}
    # linear history: every snapshot's parent is the previous snapshot
    snaps = [r.asDict() for r in final.snapshots().orderBy("snapshot_id").collect()]
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent_id"] == prev["snapshot_id"]


def _partitioned_appender(table_path: str, wid: int) -> None:
    from iceberg_catalog_bench_spark.catalog.table import (
        CommitConflict,
        FileEntry,
        LakeTable,
    )

    t = LakeTable.load(None, table_path)
    for i in range(8):
        while True:
            t._reload()
            snap = t._snapshot()
            base = list(snap.files) if snap else []
            fe = FileEntry(
                path=f"data/keep-w{wid}-c{i}.parquet", rows=1, bytes=10,
                schema_version=0, seq=None,
                partition={"_p_identity_cat": "keep"},
            )
            try:
                t._commit("append", base + [fe], {"writer": wid, "commit": i})
                break
            except CommitConflict:
                pass


def test_dynamic_overwrite_races_appends(spark, tmp_path):
    """A dynamic partition overwrite racing concurrent appends into a
    DIFFERENT partition: the overwrite's conflict retry re-derives the
    carried set from the advanced head, so every racer's file survives
    and only the overwritten partition's files are replaced."""
    import multiprocessing as mp

    table_path = str(tmp_path / "t")
    t = LakeTable.create(spark, table_path, "k bigint, cat string",
                         partition_by=["identity(cat)"])
    t.append(spark.createDataFrame(
        [(1, "hot"), (2, "keep")], "k bigint, cat string"))

    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_partitioned_appender, args=(table_path, w))
        for w in range(2)
    ]
    for p in procs:
        p.start()
    # overwrite the 'hot' partition repeatedly while appenders run
    for j in range(4):
        t._reload()
        t.overwrite_partitions(spark.createDataFrame(
            [(100 + j, "hot")], "k bigint, cat string"))
    for p in procs:
        p.join(timeout=300)
        assert p.exitcode == 0

    t = LakeTable.load(spark, table_path)
    snap = t._snapshot()
    keep = [f for f in snap.files
            if f.partition.get("_p_identity_cat") == "keep"]
    hot = [f for f in snap.files
           if f.partition.get("_p_identity_cat") == "hot"]
    # every appender file survived every overwrite
    assert {f.path for f in keep} >= {
        f"data/keep-w{w}-c{i}.parquet" for w in range(2) for i in range(8)
    }
    # the hot partition holds exactly the LAST overwrite's output
    assert len(hot) >= 1
    # the appenders' entries are synthetic metadata (no bytes on disk,
    # like the base concurrency test) — read through the pruned scan,
    # which opens only the hot partition's real files
    rows = t.scan("cat = 'hot'").collect()
    assert sorted(r.k for r in rows) == [103]
    # linear history
    by_id = {s["snapshot_id"]: s for s in t._meta["snapshots"]}
    cur, chain = t._meta["current_snapshot_id"], 0
    while cur is not None:
        chain += 1
        cur = by_id[cur].get("parent_id")
    assert chain == len(t._meta["snapshots"])


def _main_appender(table_path: str, wid: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_catalog_bench_spark.catalog.table import (
        CommitConflict,
        FileEntry,
        LakeTable,
    )

    t = LakeTable.load(None, table_path)
    for i in range(8):
        # a real one-row data file, so main stays fully readable
        rel = f"data/main-w{wid}-c{i}.parquet"
        abspath = os.path.join(table_path, rel)
        pq.write_table(
            pa.table({"k": pa.array([100 + wid * 10 + i], pa.int64()),
                      "v": pa.array([0.0], pa.float64())}),
            abspath,
        )
        while True:
            t._reload()
            snap = t._snapshot()
            base = list(snap.files) if snap else []
            fe = FileEntry(
                path=rel, rows=1, bytes=os.path.getsize(abspath),
                schema_version=0, seq=None,
            )
            try:
                t._commit("append", base + [fe], {"writer": wid, "commit": i})
                break
            except CommitConflict:
                pass


def test_branch_update_races_main_appends(spark, tmp_path):
    """Branch-staged DML racing main appenders (the WAP audit writer
    vs the production feed): both refs advance through the SAME
    metadata commit lock, so every main append survives every branch
    commit and vice versa; branch rewrites never leak into main's file
    list; and the diverged publish is refused (fast_forward demands
    main be an ancestor of the branch head — anything else would drop
    the racers' commits)."""
    import multiprocessing as mp

    import pytest

    table_path = str(tmp_path / "t")
    t = LakeTable.create(spark, table_path, "k bigint, v double")
    t.append(spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "k bigint, v double"))
    t.create_branch("audit")

    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_main_appender, args=(table_path, w))
        for w in range(2)
    ]
    for p in procs:
        p.start()
    # stage three successive updates on the audit branch while the
    # appenders hammer main
    for j in range(3):
        t._reload()
        t.update({"v": f"v + {10 ** (j + 1)}"}, "k = 1", branch="audit")
    for p in procs:
        p.join(timeout=300)
        assert p.exitcode == 0

    t = LakeTable.load(spark, table_path)
    main_paths = {f.path for f in t._snapshot().files}
    # every racer append survived every branch commit
    assert main_paths >= {
        f"data/main-w{w}-c{i}.parquet" for w in range(2) for i in range(8)
    }
    # no branch rewrite artifact leaked into main's file list: main's
    # only real data file is still the original base append
    assert not any("update" in p for p in main_paths)
    # the branch head reflects all three updates (1110.0 = 1 + 10+100+1000),
    # and none of the synthetic main appends
    br = {(r.k, r.v) for r in t.read_branch("audit").collect()}
    assert br == {(1, 1111.0), (2, 2.0), (3, 3.0)}
    # main readers see the pre-branch values plus every racer row —
    # and NOT the branch-staged update (k=1 keeps v=1.0)
    main_rows = {(r.k, r.v) for r in t.read().collect()}
    expected = {(1, 1.0), (2, 2.0), (3, 3.0)} | {
        (100 + w * 10 + i, 0.0) for w in range(2) for i in range(8)
    }
    assert main_rows == expected
    # diverged publish refused — main advanced past the branch point
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("audit")
