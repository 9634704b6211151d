"""The `laketable` Python DataSource (streaming + batch read of table
commits): incremental offset semantics, field-id schema projection,
and the append-only contract."""

import os

import pytest

from iceberg_catalog_bench_spark.catalog.table import LakeTable
from iceberg_catalog_bench_spark.streaming.table_source import register_source


def _drain(spark, path, sink, ck, **opts):
    reader = spark.readStream.format("laketable").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet").option("path", sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination(300)


def test_batch_and_incremental_stream(spark, tmp_path):
    """Offsets are snapshot ids in the checkpoint: a second run over
    the same checkpoint delivers ONLY commits made since the first —
    never redelivers."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    t.append(spark.createDataFrame([(3, 3.0)], "k bigint, v double"))

    bdf = spark.read.format("laketable").option("path", t.path).load()
    assert sorted(r["k"] for r in bdf.collect()) == [1, 2, 3]

    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    _drain(spark, t.path, sink, ck)
    assert sorted(r["k"] for r in spark.read.parquet(sink).collect()) == [1, 2, 3]

    t.append(spark.createDataFrame([(4, 4.0)], "k bigint, v double"))
    _drain(spark, t.path, sink, ck)
    assert sorted(r["k"] for r in spark.read.parquet(sink).collect()) == [1, 2, 3, 4]


def test_stream_projects_by_field_id(spark, tmp_path):
    """Files written before a rename/add-column stream under the
    CURRENT names: renamed column resolved by field id, added column
    null-filled."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, s string")
    t.append(spark.createDataFrame([(1, "a")], "k bigint, s string"))
    t.rename_column("s", "label")
    t.add_column("extra", "bigint", default=None)
    t.append(spark.createDataFrame([(2, "b", 9)], "k bigint, label string, extra bigint"))

    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    _drain(spark, t.path, sink, ck)
    df = spark.read.parquet(sink)
    assert df.schema.simpleString() == "struct<k:bigint,label:string,extra:bigint>"
    rows = {r["k"]: (r["label"], r["extra"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9)}


def test_stream_refuses_then_skips_non_appends(spark, tmp_path):
    """A delete/rewrite snapshot in the offset range raises by default
    (replaying rewritten files would duplicate rows);
    skip-non-appends=true skips those snapshots but still delivers
    later appends."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    t.delete_where("k = 1")
    t.append(spark.createDataFrame([(3, 3.0)], "k bigint, v double"))

    sink, ck = str(tmp_path / "s1"), str(tmp_path / "c1")
    with pytest.raises(Exception, match="not a pure append"):
        _drain(spark, t.path, sink, ck)

    sink2, ck2 = str(tmp_path / "s2"), str(tmp_path / "c2")
    _drain(spark, t.path, sink2, ck2, **{"skip-non-appends": "true"})
    # first append + third append delivered; the delete snapshot's
    # rewritten file is skipped (streaming read does not apply deletes)
    assert sorted(r["k"] for r in spark.read.parquet(sink2).collect()) == [1, 2, 3]


def test_batch_reader_refuses_mor_tables(spark, tmp_path):
    """The Python batch reader cannot apply merge-on-read delete files
    — it must refuse rather than return deleted rows."""
    register_source(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, v double",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    t.delete_where("k = 1")
    assert t.delete_files().count() > 0  # precondition: MoR path taken
    with pytest.raises(Exception, match="merge-on-read"):
        spark.read.format("laketable").option("path", t.path).load().collect()


def test_cdc_stream_emits_upsert_and_position_deletes(spark, tmp_path):
    """mode=cdc: appends stream as +I; an upsert commit's equality
    delete file streams as -D key retractions (non-key null — the
    writer retracted blind) followed by its +I rows; a MoR position
    delete re-reads the tombstoned row's full values by position."""
    register_source(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, v double",
        properties={"write.delete.mode": "merge-on-read",
                    "write.update.mode": "merge-on-read"},
    )
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "k bigint, v double"))
    t.upsert_by_keys(
        spark.createDataFrame([(2, 20.0), (4, 4.0)], "k bigint, v double"), on=["k"]
    )
    t.delete_where("k = 1")

    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("laketable")
        .option("path", t.path).option("mode", "cdc").load()
        .writeStream.format("parquet").option("path", sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination(300)
    key = lambda t: (t[3], t[2], t[0], t[1] is None, t[1] or 0.0)  # noqa: E731
    rows = sorted(
        (tuple(r) for r in spark.read.parquet(sink)
         .select("k", "v", "_change_type", "_commit_snapshot_id").collect()),
        key=key,
    )
    assert rows == sorted([
        (1, 1.0, "insert", 1), (2, 2.0, "insert", 1), (3, 3.0, "insert", 1),
        (2, None, "delete", 2), (4, None, "delete", 2),
        (2, 20.0, "insert", 2), (4, 4.0, "insert", 2),
        (1, 1.0, "delete", 3),
    ], key=key)


def test_cdc_stream_refuses_cow_rewrites(spark, tmp_path):
    """A copy-on-write delete rewrites files — not expressible as a
    per-file row feed; CDC mode must refuse and point at changelog()."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    t.delete_where("k = 1")  # CoW: removes + rewrites the file
    with pytest.raises(Exception, match="changelog"):
        q = (
            spark.readStream.format("laketable")
            .option("path", t.path).option("mode", "cdc").load()
            .writeStream.format("parquet").option("path", str(tmp_path / "s"))
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "c")).start()
        )
        q.awaitTermination(300)


def test_cdc_mode_is_streaming_only(spark, tmp_path):
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    with pytest.raises(Exception, match="streaming-only"):
        (spark.read.format("laketable").option("path", t.path)
         .option("mode", "cdc").load().collect())


def test_stream_reports_expired_offset_range(spark, tmp_path):
    """If snapshots between the checkpointed offset and the head were
    expired before the stream consumed them, the source must fail with
    a clear unrecoverable-gap error, not a KeyError mid-ancestry-walk."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    _drain(spark, t.path, sink, ck)  # checkpoint at snapshot 1
    t.append(spark.createDataFrame([(2, 2.0)], "k bigint, v double"))
    t.append(spark.createDataFrame([(3, 3.0)], "k bigint, v double"))
    t.expire_snapshots(retain_last=1)  # snapshot 2 (and 1) gone
    with pytest.raises(Exception, match="expired"):
        _drain(spark, t.path, sink, ck)


def test_property_interleaved_commits_and_drains_exactly_once(spark, tmp_path):
    """Property (hypothesis-style over a fixed seed set): for ANY
    interleaving of append commits and checkpointed drains, the sink
    ends up with every appended row exactly once — offsets never skip
    a commit and never redeliver one."""
    import random

    register_source(spark)
    rng = random.Random(5)
    for case in range(3):
        base = tmp_path / f"case{case}"
        t = LakeTable.create(spark, str(base / "t"), "k bigint, v double")
        sink, ck = str(base / "sink"), str(base / "ck")
        appended, next_k = [], 0
        ops = [rng.choice(["append", "drain"]) for _ in range(rng.randint(3, 5))]
        ops += ["append", "drain"]  # always end with data + a final drain
        for op in ops:
            if op == "append":
                n = rng.randint(1, 3)
                rows = [(next_k + i, float(next_k + i)) for i in range(n)]
                next_k += n
                t.append(spark.createDataFrame(rows, "k bigint, v double"))
                appended += rows
            elif appended:  # drain on an empty table: nothing to plan
                _drain(spark, t.path, sink, ck)
        _drain(spark, t.path, sink, ck)
        got = sorted((r["k"], r["v"]) for r in spark.read.parquet(sink).collect())
        assert got == sorted(appended), f"case {case}: ops={ops}"


def test_rate_limit_splits_commits_exactly_once(spark, tmp_path):
    """max-files-per-trigger bounds each micro-batch to N added files,
    splitting commits mid-snapshot via (snapshot_id, pos) offsets; the
    union of all batches covers every file exactly once."""
    from iceberg_catalog_bench_spark.catalog.snapshots import (
        changes as _snapshot_changes,
    )
    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableStreamReader,
        _load_meta,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    for lo in (0, 10, 20):
        t.append(spark.range(lo, lo + 6).toDF("k").repartition(3))
    meta = _load_meta(t.path)
    total_files = sum(
        len(_snapshot_changes(meta, sn)[0]) for sn in meta["snapshots"]
    )
    assert total_files >= 6  # three commits, multiple files each

    r = LakeTableStreamReader(t.path, False, False, max_files=2)
    off = r.initialOffset()
    seen_files: list[str] = []
    seen_rows: list[int] = []
    batches = 0
    while True:
        nxt = r.latestOffset()
        if nxt == off:
            break
        parts = r.partitions(off, nxt)
        assert len(parts) <= 2, f"batch {batches} exceeded the cap: {nxt}"
        for p in parts:
            seen_files.append(p.abs_path)
            for rb in r.read(p):
                seen_rows.extend(rb.column(0).to_pylist())
        off = nxt
        batches += 1
        assert batches < 50, "rate-limited walk failed to converge"
    assert len(seen_files) == len(set(seen_files)) == total_files
    assert sorted(seen_rows) == sorted(
        list(range(0, 6)) + list(range(10, 16)) + list(range(20, 26))
    )
    assert batches >= (total_files + 1) // 2


def test_rate_limit_end_to_end_drains_completely(spark, tmp_path):
    """A capped stream under a processing-time trigger drains the whole
    table across several micro-batches — bounded batches, complete
    exactly-once delivery (the catch-up-storm control)."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    expected = []
    for lo in (0, 100, 200):
        t.append(spark.range(lo, lo + 6).toDF("k").repartition(3))
        expected += list(range(lo, lo + 6))
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("laketable").option("path", t.path)
        .option("max-files-per-trigger", "2").load()
        .writeStream.format("parquet").option("path", sink)
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", ck).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["k"] for r in spark.read.parquet(sink).collect())
    assert got == sorted(expected)
    batch_ids = [
        n for n in os.listdir(os.path.join(ck, "offsets")) if n.isdigit()
    ]
    assert len(batch_ids) >= 5, f"expected >=5 capped batches, got {batch_ids}"


def test_rate_limit_caps_across_restart_and_guards_regression(spark, tmp_path):
    """Spark's restart protocol (verified against the 4.1 runner)
    replays the offset log's last batch through partitions() BEFORE the
    first latestOffset — a restarted reader must resume capping from
    that checkpointed position, not from the table root (which would
    regress) and not uncapped. And a batch whose end is behind its
    start (rolled-back table) must raise, because Spark plans batches
    on offset inequality alone."""
    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableStreamReader,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    for lo in (0, 10, 20):
        t.append(spark.range(lo, lo + 6).toDF("k").repartition(3))

    a = LakeTableStreamReader(t.path, False, False, max_files=2)
    start = a.initialOffset()
    end1 = a.latestOffset()
    a.partitions(start, end1)

    # restart: fresh reader, Spark replays (start, end1] first
    b = LakeTableStreamReader(t.path, False, False, max_files=2)
    replay = b.partitions(start, end1)
    assert len(replay) == 2
    end2 = b.latestOffset()
    nxt = b.partitions(end1, end2)
    assert 1 <= len(nxt) <= 2, f"restart batch uncapped: {end1} -> {end2}"

    with pytest.raises(Exception, match="offset regression"):
        b.partitions(end2, end1)


def test_rate_limit_never_splits_cdc_commits(spark, tmp_path):
    """In CDC mode a commit's -D/+I records are one atomic feed unit:
    even max-files-per-trigger=1 delivers a multi-file upsert commit in
    a single batch."""
    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableStreamReader,
    )

    register_source(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, v double",
        properties={"write.update.mode": "merge-on-read"},
    )
    t.append(
        spark.createDataFrame([(i, float(i)) for i in range(6)],
                              "k bigint, v double").repartition(3)
    )
    t.upsert_by_keys(
        spark.createDataFrame([(2, 20.0), (3, 30.0)], "k bigint, v double"),
        on=["k"],
    )
    r = LakeTableStreamReader(t.path, False, True, max_files=1)
    off = r.initialOffset()
    per_batch = []
    while True:
        nxt = r.latestOffset()
        if nxt == off:
            break
        parts = r.partitions(off, nxt)
        kinds = set()
        for p in parts:
            for rb in r.read(p):
                kinds.update(rb.column(rb.schema.get_field_index("_change_type"))
                             .to_pylist())
        per_batch.append((len(parts), kinds))
        off = nxt
        assert len(per_batch) < 20
    # batch 1: the base append's 3 files (atomic in CDC mode);
    # final batch: the upsert commit — its retractions AND inserts together
    assert per_batch[0][0] == 3
    assert per_batch[-1][1] == {"delete", "insert"}


def test_rate_limit_cap_sweep_matches_uncapped_delivery(spark, tmp_path):
    """For EVERY cap 1..7 over one messy history (commits of 1/3/2/4
    files with a CoW delete in the middle, skip-non-appends on), the
    capped walk delivers exactly the uncapped file set, exactly once,
    never exceeding the cap on splittable commits."""
    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableStreamReader,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    t.append(spark.range(0, 4).toDF("k").repartition(1))
    t.append(spark.range(10, 16).toDF("k").repartition(3))
    t.delete_where("k = 11")  # CoW rewrite — skipped, not splittable
    t.append(spark.range(20, 24).toDF("k").repartition(2))
    t.append(spark.range(30, 38).toDF("k").repartition(4))

    def walk(cap):
        r = LakeTableStreamReader(t.path, True, False, max_files=cap)
        off = r.initialOffset()
        files, sizes = [], []
        while True:
            nxt = r.latestOffset()
            if nxt == off:
                return files, sizes
            parts = r.partitions(off, nxt)
            files += [p.abs_path for p in parts]
            sizes.append(len(parts))
            off = nxt
            assert len(sizes) < 64

    baseline, _ = walk(None)
    assert len(baseline) == len(set(baseline)) >= 10
    for cap in range(1, 8):
        files, sizes = walk(cap)
        assert sorted(files) == sorted(baseline), f"cap={cap}"
        assert len(files) == len(set(files)), f"cap={cap} duplicated a file"
        # every delivered file costs one unit of budget, and the
        # skipped delete commit delivers nothing — no batch exceeds cap
        assert max(sizes) <= cap, (cap, sizes)


def test_stream_starting_position_is_exclusive(spark, tmp_path):
    """starting-snapshot-id / starting-timestamp begin the stream AFTER
    the named/covered snapshot — a new consumer subscribes to new
    commits without replaying table history."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    s2 = t.append(spark.createDataFrame([(2,)], "k bigint"))
    t.append(spark.createDataFrame([(3,)], "k bigint"))

    sink, ck = str(tmp_path / "s1"), str(tmp_path / "c1")
    _drain(spark, t.path, sink, ck, **{"starting-snapshot-id": str(s2.snapshot_id)})
    assert sorted(r["k"] for r in spark.read.parquet(sink).collect()) == [3]

    sink2, ck2 = str(tmp_path / "s2"), str(tmp_path / "c2")
    _drain(spark, t.path, sink2, ck2,
           **{"starting-timestamp": str(s2.timestamp_ms)})
    assert sorted(r["k"] for r in spark.read.parquet(sink2).collect()) == [3]

    with pytest.raises(Exception, match="not on the streamed ref"):
        sink3, ck3 = str(tmp_path / "s3"), str(tmp_path / "c3")
        _drain(spark, t.path, sink3, ck3, **{"starting-snapshot-id": "999"})


def test_stream_and_batch_read_a_branch(spark, tmp_path):
    """option('branch', b) streams the branch head's ancestry (shared
    main prefix + branch-staged commits) — the WAP audit feed; main
    streams stay unaffected by branch commits."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    t.create_branch("audit")
    t.append(spark.createDataFrame([(2,)], "k bigint"), branch="audit")
    t.append(spark.createDataFrame([(3,)], "k bigint"), branch="audit")

    bsink, bck = str(tmp_path / "bs"), str(tmp_path / "bc")
    _drain(spark, t.path, bsink, bck, branch="audit")
    assert sorted(r["k"] for r in spark.read.parquet(bsink).collect()) == [1, 2, 3]

    msink, mck = str(tmp_path / "ms"), str(tmp_path / "mc")
    _drain(spark, t.path, msink, mck)
    assert sorted(r["k"] for r in spark.read.parquet(msink).collect()) == [1]

    bdf = (spark.read.format("laketable").option("path", t.path)
           .option("branch", "audit").load())
    assert sorted(r["k"] for r in bdf.collect()) == [1, 2, 3]
    with pytest.raises(Exception, match="no branch"):
        (spark.read.format("laketable").option("path", t.path)
         .option("branch", "nope").load().collect())


def test_stream_writer_table_to_table(spark, tmp_path):
    """writeStream.format('laketable'): executor tasks write parquet
    files, the driver publishes each micro-batch as ONE snapshot with
    the (query-id, batch-id) guard — a laketable-to-laketable pipe
    delivers everything exactly once, incrementally."""
    register_source(spark)
    src = LakeTable.create(spark, str(tmp_path / "src"), "k bigint, v double")
    dst = LakeTable.create(spark, str(tmp_path / "dst"), "k bigint, v double")
    src.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    src.append(spark.createDataFrame([(3, 3.0)], "k bigint, v double"))
    ck = str(tmp_path / "ck")

    def pipe():
        q = (
            spark.readStream.format("laketable").option("path", src.path).load()
            .writeStream.format("laketable").option("path", dst.path)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination(300)

    pipe()
    dst._reload()
    assert sorted(r["k"] for r in dst.read().collect()) == [1, 2, 3]
    snap = dst._snapshot()
    assert snap.summary.get("streaming.batch-id") == 0

    src.append(spark.createDataFrame([(4, 4.0)], "k bigint, v double"))
    pipe()
    dst._reload()
    assert sorted(r["k"] for r in dst.read().collect()) == [1, 2, 3, 4]


def test_stream_writer_replay_and_abort_semantics(spark, tmp_path):
    """Driving the writer directly: a replayed batch id is skipped and
    its duplicate files unlinked; abort removes the partial batch's
    files; a schema mismatch refuses at stream start."""
    import glob

    import pyarrow as pa

    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableDataSource,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")
    ds = LakeTableDataSource(options={"path": t.path})
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("k bigint, v double")
    w = ds.streamWriter(schema, overwrite=False)

    def batch(rows):
        return pa.RecordBatch.from_pylist(
            [{"k": k, "v": v} for k, v in rows],
            schema=pa.schema([("k", pa.int64()), ("v", pa.float64())]),
        )

    m0 = w.write(iter([batch([(1, 1.0), (2, 2.0)])]))
    w.commit([m0, None], 0)
    t._reload()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]

    # replay of batch 0: committed files must be unlinked, table unchanged
    m0b = w.write(iter([batch([(1, 1.0), (2, 2.0)])]))
    w.commit([m0b], 0)
    t._reload()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    assert not os.path.exists(os.path.join(t.path, m0b.files[0]["rel"]))

    # abort: the file disappears, metadata never saw it
    m1 = w.write(iter([batch([(9, 9.0)])]))
    w.abort([m1], 1)
    assert not os.path.exists(os.path.join(t.path, m1.files[0]["rel"]))
    # exactly one live data file remains (batch 0's)
    live = glob.glob(os.path.join(t.path, "data", "stream-*.parquet"))
    assert len(live) == 1

    # empty task → no file, commit of nothing publishes no snapshot
    m_empty = w.write(iter([]))
    assert m_empty.files == []
    before = t._meta["current_snapshot_id"]
    w.commit([m_empty], 1)
    t._reload()
    assert t._meta["current_snapshot_id"] == before

    with pytest.raises(Exception, match="does not match table schema"):
        ds.streamWriter(StructType.fromDDL("k bigint, wrong string"), False)
    with pytest.raises(Exception, match="append output mode"):
        ds.streamWriter(schema, True)


def test_batch_reader_filter_pushdown_prunes_files(spark, tmp_path):
    """pushFilters prunes whole files from the manifest by footer
    min/max before any task launches; files written before a filtered
    column existed (all-null) are skipped too; results are identical
    with pushdown enabled end-to-end."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In
    from pyspark.sql.types import StructType

    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableDataSource,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    for lo in (0, 100, 200):
        t.append(spark.range(lo, lo + 10).toDF("k").repartition(1))
    t.add_column("tag", "bigint", default=None)
    t.append(
        spark.createDataFrame([(300, 7)], "k bigint, tag bigint").repartition(1)
    )

    ds = LakeTableDataSource(
        options={"path": t.path, "filter-pushdown": "true"}
    )

    def plan(*filters):
        r = ds.reader(StructType.fromDDL("k bigint, tag bigint"))
        r.pushFilters(list(filters))
        return r.partitions()

    assert len(plan()) == 4
    assert len(plan(EqualTo(("k",), 105))) == 1
    assert len(plan(GreaterThan(("k",), 199))) == 2
    assert len(plan(In(("k",), (5, 205)))) == 2
    # tag existed only for the last file — all-null elsewhere can't match
    assert len(plan(EqualTo(("tag",), 7))) == 1

    # worker-side: the Arrow scan ships only matching rows
    r = ds.reader(StructType.fromDDL("k bigint, tag bigint"))
    r.pushFilters([EqualTo(("k",), 105)])
    (part,) = r.partitions()
    rows = [v for rb in r.read(part) for v in rb.column(0).to_pylist()]
    assert rows == [105]

    # end-to-end under the conf gate: same answer, pruning engaged
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        df = (spark.read.format("laketable").option("path", t.path)
              .option("filter-pushdown", "true").load()
              .filter("k = 105"))
        assert [row["k"] for row in df.collect()] == [105]
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    # and without the option, default-conf reads keep working
    df = spark.read.format("laketable").option("path", t.path).load()
    assert df.count() == 31


def test_pushdown_honors_column_defaults_and_float_nan_rules(spark, tmp_path):
    """Two review-driven contracts: (1) a column added with a non-null
    DEFAULT reads as that default in pre-add files, and pushdown prunes
    by evaluating the predicate against the default — never by assuming
    all-null; (2) float predicates are never pushed (Spark orders NaN
    above everything, Arrow/parquet use IEEE — pushing would silently
    drop NaN rows)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan
    from pyspark.sql.types import StructType

    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableDataSource,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))
    t.add_column("src", "string", default="web")
    t.append(spark.createDataFrame(
        [(2, 2.0, "app")], "k bigint, v double, src string"
    ))

    # default fill: the pre-add file reads src='web', matching the JVM path
    rows = {r["k"]: r["src"] for r in
            (spark.read.format("laketable").option("path", t.path).load()
             .collect())}
    assert rows == {1: "web", 2: "app"}
    jvm_rows = {r["k"]: r["src"] for r in t.read().collect()}
    assert jvm_rows == rows

    ds = LakeTableDataSource(
        options={"path": t.path, "filter-pushdown": "true"}
    )
    schema = StructType.fromDDL("k bigint, v double, src string")

    def plan(*filters):
        r = ds.reader(schema)
        r.pushFilters(list(filters))
        return r.partitions()

    assert len(plan()) == 2
    # src='web' matches the old file's default → kept; the new file's
    # footer stats say src='app' only → pruned
    assert len(plan(EqualTo(("src",), "web"))) == 1
    # src='app' cannot match the old file's default → pruned
    assert len(plan(EqualTo(("src",), "app"))) == 1
    assert len(plan(EqualTo(("src",), "ftp"))) == 0

    # float = / < / <= push safely: NaN matches under NEITHER Spark
    # (NaN sorts greatest) nor IEEE semantics, so stats pruning and the
    # Arrow row filter agree with Spark's own filter
    r = ds.reader(schema)
    r.pushFilters([EqualTo(("v",), 1.0)])
    assert len(r.preds) == 1
    assert len(r.partitions()) == 1
    # float > / >= are refused: Spark KEEPS NaN rows for them but
    # footer stats omit NaN and IEEE row filters drop them
    r = ds.reader(schema)
    r.pushFilters([GreaterThan(("v",), 0.5)])
    assert r.preds == []
    assert len(r.partitions()) == 2

    # streaming projection fills the default too
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    _drain(spark, t.path, sink, ck)
    srows = {r["k"]: r["src"] for r in spark.read.parquet(sink).collect()}
    assert srows == {1: "web", 2: "app"}


def test_batch_writer_append_and_overwrite(spark, tmp_path):
    """df.write.format('laketable'): executor-side parquet writes
    committed as one append snapshot; mode('overwrite') replaces the
    file set; schema mismatches refuse before any write."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")

    def w(rows, mode):
        (spark.createDataFrame(rows, "k bigint, v double")
         .write.format("laketable").option("path", t.path).mode(mode).save())

    w([(1, 1.0), (2, 2.0)], "append")
    t._reload()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    assert t._snapshot().operation == "append"

    w([(3, 3.0)], "append")
    t._reload()
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]

    w([(9, 9.0)], "overwrite")
    t._reload()
    assert sorted(r["k"] for r in t.read().collect()) == [9]
    assert t._snapshot().operation == "overwrite"
    # history intact: time travel still sees the pre-overwrite state
    old_sid = t._meta["snapshots"][-2]["snapshot_id"]
    assert sorted(
        r["k"] for r in t.read(snapshot_id=old_sid).collect()
    ) == [1, 2, 3]

    with pytest.raises(Exception, match="does not match table schema"):
        (spark.createDataFrame([(1, "x")], "k bigint, wrong string")
         .write.format("laketable").option("path", t.path)
         .mode("append").save())


def test_batch_writer_concurrent_commits_no_lost_update(spark, tmp_path):
    """Two batch-writer commits racing on one table: the loser's
    CommitConflict retry re-bases onto the winner's snapshot — both
    appends land, no lost update (same contract as LakeTable.append)."""
    import threading

    import pyarrow as pa

    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableBatchWriter,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    cols = [("k", "bigint")]

    def commit_rows(lo):
        w = LakeTableBatchWriter(t.path, cols, 0, overwrite=False)
        m = w.write(iter([pa.RecordBatch.from_pylist(
            [{"k": lo + i} for i in range(5)],
            schema=pa.schema([("k", pa.int64())]),
        )]))
        w.commit([m])

    threads = [threading.Thread(target=commit_rows, args=(lo,))
               for lo in (0, 100, 200)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    t._reload()
    got = sorted(r["k"] for r in t.read().collect())
    assert got == sorted(
        [i for lo in (0, 100, 200) for i in range(lo, lo + 5)]
    )
    assert len(t._meta["snapshots"]) == 3


def test_stream_writer_orphans_are_collected(spark, tmp_path):
    """A sink task that wrote its file but died before the driver
    commit leaves an orphan the metadata never referenced — readers
    never see it, and remove_orphan_files sweeps it."""
    import pyarrow as pa

    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableDataSource,
    )
    from pyspark.sql.types import StructType

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))
    w = LakeTableDataSource(options={"path": t.path}).streamWriter(
        StructType.fromDDL("k bigint, v double"), False
    )
    m = w.write(iter([pa.RecordBatch.from_pylist(
        [{"k": 7, "v": 7.0}],
        schema=pa.schema([("k", pa.int64()), ("v", pa.float64())]),
    )]))
    orphan = os.path.join(t.path, m.files[0]["rel"])
    assert os.path.exists(orphan)
    assert sorted(r["k"] for r in t.read().collect()) == [1]
    import time as _time

    # default grace keeps the fresh file (it could be an in-flight
    # commit's); an explicit cutoff sweeps it
    t.remove_orphan_files()
    assert os.path.exists(orphan)
    t.remove_orphan_files(older_than_ms=int(_time.time() * 1000) + 60_000)
    assert not os.path.exists(orphan)


def test_repointed_branch_raises_instead_of_replaying(spark, tmp_path):
    """Review fix: a consumed offset missing from the streamed ref's
    ancestry (branch re-pointed backward) must raise — walking past it
    to the root would silently redeliver the entire history to an
    exactly-once consumer."""
    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableStreamReader,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    s1 = t.append(spark.createDataFrame([(1,)], "k bigint"))
    t.create_branch("b")
    t.append(spark.createDataFrame([(2,)], "k bigint"), branch="b")

    r = LakeTableStreamReader(t.path, False, False, branch="b")
    off0 = r.initialOffset()
    end1 = r.latestOffset()
    r.partitions(off0, end1)  # consumed through the branch head

    # re-point the branch backward and stage a new commit on it
    t.drop_branch("b")
    t.create_branch("b", s1.snapshot_id)
    t.append(spark.createDataFrame([(3,)], "k bigint"), branch="b")

    r2 = LakeTableStreamReader(t.path, False, False, branch="b")
    with pytest.raises(Exception, match="not on the ref's ancestry"):
        r2.partitions(end1, r2.latestOffset())


def test_timestamp_as_of_ignores_branch_staged_snapshots(spark, tmp_path):
    """Review fix: TIMESTAMP AS OF resolves on the requested ref's
    ancestry — a branch-staged (unpublished WAP) snapshot with a newer
    timestamp must not leak into a main read."""
    import time as _time

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    t.create_branch("audit")
    t.append(spark.createDataFrame([(99,)], "k bigint"), branch="audit")
    cutoff = int(_time.time() * 1000) + 60_000
    df = (spark.read.format("laketable").option("path", t.path)
          .option("timestamp-as-of", str(cutoff)).load())
    assert sorted(r["k"] for r in df.collect()) == [1]
    # the branch read itself still sees its staged commit
    bdf = (spark.read.format("laketable").option("path", t.path)
           .option("branch", "audit")
           .option("timestamp-as-of", str(cutoff)).load())
    assert sorted(r["k"] for r in bdf.collect()) == [1, 99]


def test_sink_fresh_checkpoint_restart_is_not_discarded(spark, tmp_path):
    """Review fix: a NEW query into the same table (fresh checkpoint →
    batch ids restart at 0) must append, not be silently swallowed by
    the old watermark; only an exact replay of the last batch skips."""
    register_source(spark)
    src = LakeTable.create(spark, str(tmp_path / "src"), "k bigint")
    dst = LakeTable.create(spark, str(tmp_path / "dst"), "k bigint")
    src.append(spark.createDataFrame([(1,), (2,)], "k bigint"))

    def pipe(ck):
        q = (
            spark.readStream.format("laketable").option("path", src.path).load()
            .writeStream.format("laketable").option("path", dst.path)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ck)).start()
        )
        q.awaitTermination(300)

    pipe("ck1")
    dst._reload()
    assert dst.read().count() == 2
    pipe("ck2")  # fresh checkpoint: same data re-piped as a NEW query
    dst._reload()
    assert dst.read().count() == 4, "new query generation was discarded"
    pipe("ck1")  # the original checkpoint has nothing new: no change
    dst._reload()
    assert dst.read().count() == 4


def test_batch_reader_timestamp_as_of(spark, tmp_path):
    """option('timestamp-as-of', ms) reads the newest snapshot committed
    at or before the cutoff — TIMESTAMP AS OF for the Python reader."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    s1 = t.append(spark.createDataFrame([(1,), (2,)], "k bigint"))
    t.append(spark.createDataFrame([(3,)], "k bigint"))
    old = (spark.read.format("laketable").option("path", t.path)
           .option("timestamp-as-of", str(s1.timestamp_ms)).load())
    assert sorted(r["k"] for r in old.collect()) == [1, 2]
    with pytest.raises(Exception, match="no snapshot committed"):
        (spark.read.format("laketable").option("path", t.path)
         .option("timestamp-as-of", str(s1.timestamp_ms - 10_000)).load()
         .collect())


def test_batch_reader_time_travel_by_snapshot_id(spark, tmp_path):
    """option('snapshot-id', N) reads the table AS OF that snapshot —
    the VERSION AS OF of the Python reader; a missing snapshot fails
    with the available ids listed."""
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    s1 = t.append(spark.createDataFrame([(1,), (2,)], "k bigint"))
    t.append(spark.createDataFrame([(3,)], "k bigint"))
    old = (spark.read.format("laketable").option("path", t.path)
           .option("snapshot-id", str(s1.snapshot_id)).load())
    assert sorted(r["k"] for r in old.collect()) == [1, 2]
    cur = spark.read.format("laketable").option("path", t.path).load()
    assert sorted(r["k"] for r in cur.collect()) == [1, 2, 3]
    with pytest.raises(Exception, match="no snapshot 99"):
        (spark.read.format("laketable").option("path", t.path)
         .option("snapshot-id", "99").load().collect())
