"""Merge-on-read row-level ops: position-delete files (Iceberg v2
content=1 — spec `ICEBERG-Interoperability-Test-Spec.md:73-74`,
equality + position deletes; `write.delete.mode` / `write.update.mode`
table properties).

The scale property under test: a MoR DELETE/UPDATE never rewrites a
data file — it writes tombstones the size of the matched rows — and
compaction later folds tombstones back into clean files.
"""

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog.table import LakeTable


@pytest.fixture()
def mor_table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "id bigint, v double, cat string",
        partition_by=["cat"],
        properties={"write.delete.mode": "merge-on-read",
                    "write.update.mode": "merge-on-read"},
    )
    t.append(
        spark.range(100).selectExpr(
            "id", "cast(id * 1.5 as double) v", "concat('c', id % 4) cat"
        )
    )
    return t


def test_mor_delete_leaves_data_files_untouched(mor_table):
    t = mor_table
    files_before = sorted(e.path for e in t._snapshot().files)
    snap = t.delete_where("id % 10 = 3")
    assert snap.summary["mode"] == "merge-on-read"
    assert snap.summary["deleted_rows"] == 10
    assert sorted(e.path for e in t._snapshot().files) == files_before
    assert t.read().count() == 90
    assert t.read().filter("id = 3").count() == 0
    assert t.delete_files().count() >= 1


def test_mor_delete_time_travel_sees_pre_delete_rows(mor_table):
    t = mor_table
    base = t._snapshot().snapshot_id
    t.delete_where("id < 50")
    assert t.read().count() == 50
    assert t.read(snapshot_id=base).count() == 100


def test_reinserted_row_not_hit_by_old_tombstones(mor_table, spark):
    t = mor_table
    t.delete_where("id = 7")
    assert t.read().filter("id = 7").count() == 0
    t.append(spark.createDataFrame([(7, -1.0, "c3")], "id bigint, v double, cat string"))
    rows = t.read().filter("id = 7").collect()
    assert len(rows) == 1 and rows[0]["v"] == -1.0


def test_stacked_mor_deletes(mor_table):
    t = mor_table
    t.delete_where("id < 10")
    t.delete_where("id >= 90")
    assert t.read().count() == 80
    # second delete's probe must not re-tombstone already-deleted rows
    assert t._snapshot().summary["deleted_rows"] == 10


def test_mor_update_appends_new_images(mor_table):
    t = mor_table
    files_before = {e.path for e in t._snapshot().files}
    snap = t.update({"v": "v + 1000"}, "id = 4")
    assert snap.summary["mode"] == "merge-on-read"
    assert snap.summary["updated_rows"] == 1
    # originals untouched; updated image appended as a new file
    assert files_before <= {e.path for e in t._snapshot().files}
    assert t.read().filter("id = 4").collect()[0]["v"] == 4 * 1.5 + 1000
    assert t.read().count() == 100


def test_cow_delete_after_mor_delete_does_not_resurrect(mor_table):
    t = mor_table
    t.delete_where("id = 11")
    t.delete_where("id = 13", mode="copy-on-write")
    assert t.read().count() == 98
    assert t.read().filter("id in (11, 13)").count() == 0


def test_compaction_folds_tombstones(mor_table):
    t = mor_table
    t.delete_where("id % 2 = 0")
    t.update({"v": "0.0"}, "id = 1")
    before = t.read().orderBy("id").collect()
    res = t.rewrite_data_files(min_input_files=2)
    assert res["rewritten_data_files_count"] > 0
    assert t._snapshot().delete_files == []
    assert t.read().orderBy("id").collect() == before


def test_merge_ignores_tombstoned_target_rows(mor_table, spark):
    t = mor_table
    t.delete_where("id = 5")
    src = spark.createDataFrame([(5, 555.0, "c1")], "id bigint, v double, cat string")
    t.merge(src, on=["id"], when_matched_update="*", when_not_matched_insert=True)
    # id=5 was tombstoned → source row is NOT MATCHED → inserted fresh
    rows = t.read().filter("id = 5").collect()
    assert len(rows) == 1 and rows[0]["v"] == 555.0


def test_gc_preserves_live_delete_files(mor_table):
    t = mor_table
    t.delete_where("id < 20")
    t.append(t.spark.range(1).selectExpr("id + 1000 id", "cast(0 as double) v", "'c0' cat"))
    t.expire_snapshots(retain_last=1)
    assert t.remove_orphan_files()["orphan_file_count"] >= 0
    # tombstones still applied after GC
    assert t.read().filter("id < 20").count() == 0
    assert t.read().count() == 81


def test_changelog_across_mor_delete(mor_table):
    t = mor_table
    base = t._snapshot().snapshot_id
    t.delete_where("id < 3")
    log = t.changelog(base).collect()
    assert sorted(r["id"] for r in log) == [0, 1, 2]
    assert {r["_change_type"] for r in log} == {"delete"}


def test_iceberg_export_roundtrip_with_deletes(mor_table, spark):
    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        read_via_iceberg_metadata,
    )

    t = mor_table
    t.delete_where("id % 3 = 0")
    t.update({"v": "v * 2"}, "id = 1")
    md = t.to_iceberg_metadata()
    ours = t.read().orderBy("id").collect()
    theirs = (
        read_via_iceberg_metadata(spark, md)
        .select("id", "v", "cat").orderBy("id").collect()
    )
    assert ours == theirs


def test_scan_predicate_respects_tombstones(mor_table):
    t = mor_table
    t.delete_where("id = 40")
    assert t.scan("id = 40").count() == 0
    assert t.scan("id >= 38 and id <= 42").count() == 4


def test_mode_property_validation(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "bad"), "id bigint",
        properties={"write.delete.mode": "sideways"},
    )
    t.append(spark.range(3))
    with pytest.raises(ValueError, match="write.delete.mode"):
        t.delete_where("id = 1")


def test_sql_frontend_mor_via_tblproperties(spark, tmp_path):
    """The SQL spelling: SET TBLPROPERTIES flips DELETE/UPDATE to
    merge-on-read; subsequent DML writes tombstones, UNSET restores
    copy-on-write."""
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE mt (id bigint, v double) PARTITIONED BY (bucket(4, id))")
    e.execute("INSERT INTO mt VALUES (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)")
    e.execute(
        "ALTER TABLE mt SET TBLPROPERTIES "
        "('write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')"
    )
    t = e.table("mt")
    files_before = {x.path for x in t._snapshot().files}
    e.execute("DELETE FROM mt WHERE id = 2")
    e.execute("UPDATE mt SET v = v + 10 WHERE id = 1")
    t._reload()
    assert files_before <= {x.path for x in t._snapshot().files}
    assert t._snapshot().delete_files
    rows = {r["id"]: r["v"] for r in e.execute("SELECT id, v FROM mt")[0].rows}
    assert rows == {1: 11.0, 3: 3.0, 4: 4.0}
    e.execute("ALTER TABLE mt UNSET TBLPROPERTIES ('write.delete.mode')")
    e.execute("DELETE FROM mt WHERE id = 3")
    t._reload()
    assert (t._meta.get("properties") or {}).get("write.delete.mode") is None
    assert {r["id"] for r in e.execute("SELECT id FROM mt")[0].rows} == {1, 4}


# -- equality deletes (Iceberg v2 content=2) + CDC upsert -------------------


@pytest.fixture()
def eq_table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "eq"), "k bigint, v double",
        partition_by=["bucket(4, k)"],
    )
    t.append(spark.range(20).selectExpr("id k", "cast(id as double) v"))
    return t


def test_equality_delete_without_target_read(eq_table, spark):
    t = eq_table
    files_before = {e.path for e in t._snapshot().files}
    t.delete_by_keys(spark.createDataFrame([(3,), (4,)], "k bigint"))
    assert {e.path for e in t._snapshot().files} == files_before
    assert t.read().count() == 18
    assert t.read().filter("k in (3, 4)").count() == 0


def test_equality_delete_sequence_guard(eq_table, spark):
    t = eq_table
    t.delete_by_keys(spark.createDataFrame([(5,)], "k bigint"))
    t.append(spark.createDataFrame([(5, 99.0)], "k bigint, v double"))
    rows = t.read().filter("k = 5").collect()
    assert len(rows) == 1 and rows[0]["v"] == 99.0


def test_upsert_by_keys_single_commit(eq_table, spark):
    t = eq_table
    n_snaps = len(t._meta["snapshots"])
    t.upsert_by_keys(
        spark.createDataFrame([(1, -1.0), (100, -100.0)], "k bigint, v double"),
        on=["k"],
    )
    assert len(t._meta["snapshots"]) == n_snaps + 1
    r = {x["k"]: x["v"] for x in t.read().collect()}
    assert r[1] == -1.0 and r[100] == -100.0 and len(r) == 21


def test_stacked_upserts_last_writer_wins(eq_table, spark):
    t = eq_table
    for v in (10.0, 20.0, 30.0):
        t.upsert_by_keys(
            spark.createDataFrame([(7, v)], "k bigint, v double"), on=["k"]
        )
    rows = t.read().filter("k = 7").collect()
    assert len(rows) == 1 and rows[0]["v"] == 30.0


def test_equality_delete_time_travel(eq_table, spark):
    t = eq_table
    base = t._snapshot().snapshot_id
    t.delete_by_keys(spark.createDataFrame([(0,), (1,)], "k bigint"))
    assert t.read(snapshot_id=base).count() == 20
    assert t.read().count() == 18


def test_compaction_folds_equality_deletes(eq_table, spark):
    t = eq_table
    t.delete_by_keys(spark.createDataFrame([(2,), (4,)], "k bigint"))
    t.upsert_by_keys(spark.createDataFrame([(6, 66.0)], "k bigint, v double"), on=["k"])
    before = sorted((x["k"], x["v"]) for x in t.read().collect())
    t.rewrite_data_files(min_input_files=2)
    assert t._snapshot().delete_files == []
    assert sorted((x["k"], x["v"]) for x in t.read().collect()) == before


def test_equality_delete_export_roundtrip(eq_table, spark):
    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        read_via_iceberg_metadata,
    )

    t = eq_table
    t.delete_by_keys(spark.createDataFrame([(9,), (11,)], "k bigint"))
    t.upsert_by_keys(spark.createDataFrame([(9, 900.0)], "k bigint, v double"), on=["k"])
    md = t.to_iceberg_metadata()
    ours = sorted((x["k"], x["v"]) for x in t.read().collect())
    theirs = sorted(
        (x["k"], x["v"]) for x in read_via_iceberg_metadata(spark, md).collect()
    )
    assert ours == theirs


def test_mixed_position_and_equality_deletes(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "mix"), "k bigint, v double",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.range(30).selectExpr("id k", "cast(id as double) v"))
    t.delete_where("k < 5")  # position tombstones
    t.delete_by_keys(spark.createDataFrame([(10,), (11,)], "k bigint"))
    assert t.read().count() == 23
    assert t.read().filter("k < 5 or k in (10, 11)").count() == 0
    kinds = {r["content"] for r in t.delete_files().collect()}
    assert kinds == {"position-deletes", "equality-deletes"}


def test_unknown_equality_column_raises(eq_table, spark):
    with pytest.raises(KeyError, match="nope"):
        eq_table.delete_by_keys(
            spark.createDataFrame([(1,)], "nope bigint"), on=["nope"]
        )


def test_mor_scan_plan_shape(spark, tmp_path, monkeypatch):
    """The MoR read tax is a scan filter below the tombstone bound and
    a broadcast hash anti-join above it: predicates still push to the
    parquet scan either way, and nothing sort-merge-joins."""
    from iceberg_catalog_bench_spark.catalog import table as table_mod

    t = LakeTable.create(
        spark, str(tmp_path / "plan"), "id bigint, v double",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.range(100000).selectExpr("id", "cast(id as double) v"))
    t.delete_where("id % 1000 = 7")

    def plan():
        return (t.scan("id >= 500 and id < 600")
                ._jdf.queryExecution().executedPlan().toString())

    probed = plan()
    assert "Join" not in probed
    assert "SortMergeJoin" not in probed
    assert "(id#" in probed and ">= 500" in probed  # pushed range filter

    monkeypatch.setattr(table_mod, "_DELETE_FILTER_ROWS", 0)
    joined = plan()
    assert "LeftAnti" in joined
    assert "BroadcastHashJoin" in joined
    assert "SortMergeJoin" not in joined
    assert "(id#" in joined and ">= 500" in joined


def test_rewrite_position_delete_files_procedure(mor_table, spark):
    """The dedicated MoR compactor touches ONLY delete-affected files
    and clears all delete files; content survives byte-for-byte."""
    from iceberg_catalog_bench_spark.engine import SqlEngine

    t = mor_table
    t.delete_where("id % 7 = 0")
    t.delete_by_keys(spark.createDataFrame([(50,)], "id bigint"), on=["id"])
    before = sorted((r["id"], r["v"]) for r in t.read().collect())
    res = t.rewrite_position_delete_files()
    assert res["removed_delete_files_count"] >= 2
    assert t._snapshot().delete_files == []
    assert sorted((r["id"], r["v"]) for r in t.read().collect()) == before
    # idempotent once clean
    res2 = t.rewrite_position_delete_files()
    assert res2 == {"rewritten_data_files_count": 0,
                    "removed_delete_files_count": 0}


def test_rewrite_position_delete_files_via_call(spark, tmp_path):
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE pt (id bigint, v double) "
              "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    e.execute("INSERT INTO pt VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    e.execute("DELETE FROM pt WHERE id = 2")
    t = e.table("pt")
    t._reload()
    assert t._snapshot().delete_files
    e.execute("CALL system.rewrite_position_delete_files(table => 'pt')")
    t._reload()
    assert t._snapshot().delete_files == []
    assert {r["id"] for r in e.execute("SELECT id FROM pt")[0].rows} == {1, 3}


def test_concurrent_cdc_upserts_auto_retry(spark, tmp_path):
    """Blind-write CDC ops rebase and retry on commit conflicts like
    appends: concurrent upsert + key-delete both land, serialized by
    commit order."""
    import threading

    d = str(tmp_path / "cc")
    t0 = LakeTable.create(spark, d, "k bigint, v double")
    t0.append(spark.range(10).selectExpr("id k", "cast(id as double) v"))
    errors = []

    def upserter(k, v):
        try:
            h = LakeTable.load(spark, d)
            h.upsert_by_keys(
                spark.createDataFrame([(k, v)], "k bigint, v double"), on=["k"]
            )
        except Exception as e:  # noqa: BLE001
            errors.append(str(e))

    threads = [
        threading.Thread(target=upserter, args=(1, 100.0)),
        threading.Thread(target=upserter, args=(2, 200.0)),
        threading.Thread(target=upserter, args=(11, 110.0)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    final = LakeTable.load(spark, d)
    r = {x["k"]: x["v"] for x in final.read().collect()}
    assert r[1] == 100.0 and r[2] == 200.0 and r[11] == 110.0
    assert len(r) == 11


def test_manifests_and_delete_files_metadata_sql(spark, tmp_path):
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE mm (id bigint) "
              "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    e.execute("INSERT INTO mm VALUES (1), (2), (3)")
    e.execute("DELETE FROM mm WHERE id = 2")
    rows = e.execute("SELECT content, file_count FROM mm.manifests")[0].rows
    assert {r["content"] for r in rows} == {"data", "deletes"}
    dels = e.execute("SELECT content, record_count FROM mm.delete_files")[0].rows
    assert dels and dels[0]["content"] == "position-deletes"


def test_changelog_across_equality_delete(eq_table, spark):
    """Equality deletes have no referenced-file list; the changelog's
    file-state diff must still see every file the sequence guard makes
    them apply to."""
    t = eq_table
    base = t._snapshot().snapshot_id
    t.delete_by_keys(spark.createDataFrame([(4,), (9,)], "k bigint"))
    log = t.changelog(base).collect()
    assert sorted(r["k"] for r in log) == [4, 9]
    assert {r["_change_type"] for r in log} == {"delete"}


def test_changelog_across_upsert(eq_table, spark):
    t = eq_table
    base = t._snapshot().snapshot_id
    t.upsert_by_keys(
        spark.createDataFrame([(3, 300.0), (50, 500.0)], "k bigint, v double"),
        on=["k"],
    )
    log = {(r["k"], r["v"], r["_change_type"]) for r in t.changelog(base).collect()}
    assert log == {
        (3, 3.0, "delete"),      # old image retracted
        (3, 300.0, "insert"),    # new image
        (50, 500.0, "insert"),   # fresh key
    }


def test_rollback_undoes_mor_delete(mor_table):
    """Rollback must restore the TARGET snapshot's delete-file set —
    not keep later tombstones applied to the restored files."""
    t = mor_table
    base = t._snapshot().snapshot_id
    t.delete_where("id < 50")
    assert t.read().count() == 50
    t.rollback_to_snapshot(base)
    assert t.read().count() == 100
    # and rolling FORWARD to the post-delete snapshot re-applies them
    post = [s["snapshot_id"] for s in t._meta["snapshots"]][-2]
    t.rollback_to_snapshot(post)
    assert t.read().count() == 50


def test_cow_delete_stats_with_equality_deletes(eq_table, spark):
    """Copy-on-write DELETE on a table carrying equality tombstones:
    deleted_rows must count only LIVE matches (and the op must not
    trip over the equality files' different parquet schema)."""
    t = eq_table
    t.delete_by_keys(spark.createDataFrame([(2,), (3,)], "k bigint"))
    snap = t.delete_where("k < 5", mode="copy-on-write")
    # k in {0,1,4} live and matching; 2,3 already tombstoned
    assert snap.summary["deleted_rows"] == 3
    assert t.read().count() == 15


def test_mor_merge_tombstones_instead_of_rewrite(spark, tmp_path):
    """write.merge.mode=merge-on-read: matched target rows are
    position-tombstoned, post-action images appended, originals
    untouched; inserts and matched-delete clauses behave as in CoW."""
    t = LakeTable.create(
        spark, str(tmp_path / "mm"), "k bigint, v double, s string",
        partition_by=["bucket(4, k)"],
        properties={"write.merge.mode": "merge-on-read"},
    )
    t.append(
        spark.range(20).selectExpr("id k", "cast(id as double) v", "'old' s")
    )
    files_before = {e.path for e in t._snapshot().files}
    src = spark.createDataFrame(
        [(1, 100.0, "upd"), (2, 200.0, "upd"), (5, -1.0, "del"), (50, 500.0, "new")],
        "k bigint, v double, s string",
    )
    snap = t.merge(
        src, on=["k"],
        when_matched_update="*",
        when_matched_delete="src_s = 'del'",
        when_not_matched_insert=True,
    )
    assert snap.summary["mode"] == "merge-on-read"
    assert files_before <= {e.path for e in t._snapshot().files}
    assert t._snapshot().delete_files
    r = {x["k"]: (x["v"], x["s"]) for x in t.read().collect()}
    assert r[1] == (100.0, "upd") and r[2] == (200.0, "upd")
    assert 5 not in r              # matched-delete clause
    assert r[50] == (500.0, "new")  # not-matched insert
    assert len(r) == 20            # 20 - deleted(1) + inserted(1)
    assert r[3] == (3.0, "old")    # untouched row intact
    # compaction folds the merge tombstones too
    before = sorted(t.read().collect())
    t.rewrite_position_delete_files()
    assert t._snapshot().delete_files == []
    assert sorted(t.read().collect()) == before


def test_mor_delete_on_branch_then_publish(mor_table):
    """WAP × MoR: a tombstone-only delete staged on an audit branch is
    invisible on main until fast_forward publishes it."""
    t = mor_table
    t.create_branch("audit")
    t.delete_where("id < 10", branch="audit")
    assert t.read().count() == 100          # main untouched
    assert t.read_branch("audit").count() == 90
    t.fast_forward("audit")
    assert t.read().count() == 90
    assert t._snapshot().delete_files       # tombstones rode the publish


def test_incremental_read_refuses_non_append_ranges(mor_table, spark):
    """The append-only incremental scan must refuse ranges containing
    row-level commits (Iceberg behavior) instead of silently dropping
    the deletes — changelog() is the exact alternative."""
    t = mor_table
    base = t._snapshot().snapshot_id
    t.append(spark.createDataFrame([(500, 0.0, "c0")], "id bigint, v double, cat string"))
    assert {r["id"] for r in t.incremental_read(base).collect()} == {500}
    t.delete_where("id = 500")
    with pytest.raises(ValueError, match="append-only"):
        t.incremental_read(base)
    # changelog still answers the same window exactly
    log = t.changelog(base).collect()
    assert {(r["id"], r["_change_type"]) for r in log} <= {(500, "insert"), (500, "delete")}


def test_rename_key_column_keeps_equality_deletes_working(eq_table, spark):
    """Iceberg binds equality deletes by field id: renaming a key
    column with tombstones pending must not break reads — current
    reads bind the new name, pre-rename time travel binds the old."""
    t = eq_table
    t.delete_by_keys(spark.createDataFrame([(3,), (4,)], "k bigint"))
    pre_rename = t._snapshot().snapshot_id
    t.rename_column("k", "kk")
    assert {r["kk"] for r in t.read().collect()} == set(range(20)) - {3, 4}
    # pre-rename travel: old schema spelling, tombstones still apply
    assert {r["k"] for r in t.read(snapshot_id=pre_rename).collect()} == (
        set(range(20)) - {3, 4}
    )
    # the retraction keeps working for future appends too (seq guard)
    t.append(spark.createDataFrame([(3, 99.0)], "kk bigint, v double"))
    rows = t.read().filter("kk = 3").collect()
    assert len(rows) == 1 and rows[0]["v"] == 99.0


def test_drop_column_refuses_live_equality_delete_key(eq_table, spark):
    """Dropping a column referenced by a pending equality tombstone
    would make every later read crash — must refuse until compaction
    folds the tombstones."""
    t = eq_table
    t.delete_by_keys(spark.createDataFrame([(3,)], "k bigint"))
    with pytest.raises(ValueError, match="equality"):
        t.drop_column("k")
    t.rewrite_data_files(min_input_files=1)
    assert not [
        d for d in t._snapshot().delete_files if d.content == "equality"
    ]
    t.drop_column("k")
    assert [f.name for f in t._fields()] == ["v"]


def test_upsert_batch_duplicate_keys_last_image_wins(eq_table, spark):
    """Flink's upsert sink applies last-per-key within a batch; the
    library API must reduce duplicates the same way instead of letting
    every image survive."""
    t = eq_table
    batch = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (1, 12.0), (2, 20.0)], "k bigint, v double"
    ).coalesce(1)
    t.upsert_by_keys(batch, on=["k"])
    rows = {r["k"]: r["v"] for r in t.read().filter("k in (1, 2)").collect()}
    assert rows == {1: 12.0, 2: 20.0}
    assert t.read().filter("k = 1").count() == 1


def test_incremental_read_ignores_branch_staged_deletes(mor_table):
    """A delete staged on an unpublished WAP branch is not a main-line
    ancestor — the parent-chain walk must not refuse the range."""
    t = mor_table
    base = t._snapshot().snapshot_id
    t.create_branch("audit")
    t.delete_where("id < 10", branch="audit")   # branch-only commit
    t.append(t.spark.createDataFrame([(700, 0.0, "c0")],
                                     "id bigint, v double, cat string"))
    assert {r["id"] for r in t.incremental_read(base).collect()} == {700}


def test_incremental_read_skips_replace_commits(mor_table):
    """Compaction inside the window must be skipped (its files carry no
    new rows); the appended rows still come from their own append
    snapshots — Iceberg's incremental append-scan behavior."""
    t = mor_table
    base = t._snapshot().snapshot_id
    t.append(t.spark.createDataFrame([(800, 0.0, "c0")],
                                     "id bigint, v double, cat string"))
    t.rewrite_data_files(min_input_files=1)     # 'replace' commit
    t.append(t.spark.createDataFrame([(801, 1.0, "c1")],
                                     "id bigint, v double, cat string"))
    got = {r["id"] for r in t.incremental_read(base).collect()}
    assert got == {800, 801}


def test_incremental_read_non_ancestor_raises(mor_table):
    t = mor_table
    t.append(t.spark.createDataFrame([(900, 0.0, "c0")],
                                     "id bigint, v double, cat string"))
    tip = t._snapshot().snapshot_id
    # a rollback makes the old tip a non-ancestor of the new line
    base = t._meta["snapshots"][0]["snapshot_id"]
    t.rollback_to_snapshot(base)
    t.append(t.spark.createDataFrame([(901, 1.0, "c1")],
                                     "id bigint, v double, cat string"))
    with pytest.raises(ValueError):
        t.incremental_read(tip)


def test_mor_delete_across_partition_generations(spark, tmp_path):
    """A merge-on-read DELETE whose predicate spans files written under
    DIFFERENT partition specs must tombstone rows in both generations,
    read back correctly, and fold cleanly under compaction — the
    evolution × MoR interaction no single-feature test exercises."""
    from iceberg_catalog_bench_spark.catalog import LakeTable

    d = str(tmp_path / "t")
    t = LakeTable.create(
        spark, d, "id bigint, c string",
        partition_by=["bucket(2, id)"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    rows_a = [(i, f"s{i % 3}") for i in range(20)]
    t.append(spark.createDataFrame(rows_a, "id bigint, c string"))
    t.drop_partition_field("bucket(2, id)")
    t.add_partition_field("truncate(1, c)")
    rows_b = [(i, f"s{i % 3}") for i in range(20, 40)]
    t.append(spark.createDataFrame(rows_b, "id bigint, c string"))

    t.delete_where("id % 3 = 0")  # hits both generations
    want = sorted((i, c) for i, c in rows_a + rows_b if i % 3 != 0)
    got = sorted((r.id, r.c) for r in t.read().collect())
    assert got == want
    # tombstones exist (merge-on-read path actually taken)
    assert t.delete_files().count() > 0

    # compaction folds the tombstones; reads unchanged, debt gone
    t.rewrite_data_files(min_input_files=1)
    got2 = sorted((r.id, r.c) for r in t.read().collect())
    assert got2 == want
    assert t.delete_files().count() == 0


def test_maintenance_advice_math(eq_table, spark):
    """maintenance_advice is metadata-only: with one base generation
    (seq 1) and K equality-delete commits each applying to every base
    file, read_amplification_est = 1 + K exactly (byte sizes cancel),
    advice flips to 'compact' at the default 3-file threshold, and a
    clean table reports 1.0/'ok'."""
    t = eq_table
    clean = t.maintenance_advice().collect()[0]
    assert (clean["delete_file_count"], clean["read_amplification_est"],
            clean["advice"]) == (0, 1.0, "ok")

    for i in range(3):
        t.delete_by_keys(spark.createDataFrame([(100 + i,)], "k bigint"))
    adv = t.maintenance_advice().collect()[0]
    assert adv["delete_file_count"] == 3
    assert adv["equality_delete_files"] == 3
    assert adv["read_amplification_est"] == 4.0
    assert adv["affected_data_files"] == adv["total_data_files"]
    assert adv["advice"] == "compact"

    # position deletes count their referenced files only
    t2 = LakeTable.create(
        spark, t.path + "_pos", "id bigint, v double",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t2.append(spark.range(50).selectExpr("id", "cast(id as double) v"))
    t2.delete_where("id = 1")
    adv2 = t2.maintenance_advice().collect()[0]
    assert adv2["position_delete_files"] == 1
    assert adv2["affected_data_files"] <= adv2["total_data_files"]
    assert adv2["advice"] == "ok"  # below threshold


def test_auto_compact_after_files_triggers_and_folds(spark, tmp_path):
    """write.delete.auto-compact-after-files=N: the Nth outstanding
    delete file triggers rewrite_position_delete_files post-commit —
    tombstones fold, data survives byte-for-byte, and a below-threshold
    table is never compacted."""
    t = LakeTable.create(
        spark, str(tmp_path / "ac"), "k bigint, v double",
        partition_by=["bucket(4, k)"],
        properties={"write.delete.auto-compact-after-files": "3",
                    "write.delete.mode": "merge-on-read"},
    )
    t.append(spark.range(40).selectExpr("id k", "cast(id * 2 as double) v"))

    t.delete_by_keys(spark.createDataFrame([(0,)], "k bigint"))
    t.delete_where("k = 1")  # MoR position delete, also hooked
    assert len(t._snapshot().delete_files) == 2, "below threshold: no fold"

    t.delete_by_keys(spark.createDataFrame([(2,)], "k bigint"))  # 3rd -> fold
    snap = t._snapshot()
    assert snap.delete_files == [], "threshold crossed: tombstones folded"
    assert snap.operation == "replace"
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(i, i * 2.0) for i in range(40) if i not in (0, 1, 2)}
    adv = t.maintenance_advice().collect()[0]
    assert (adv["read_amplification_est"], adv["advice"]) == (1.0, "ok")


def test_auto_compact_skips_branch_staged_dml(spark, tmp_path):
    """Branch-staged MoR DML must NOT auto-compact (publish decides):
    the branch accumulates tombstones past the threshold untouched."""
    t = LakeTable.create(
        spark, str(tmp_path / "br"), "k bigint, v double",
        properties={"write.delete.auto-compact-after-files": "1",
                    "write.delete.mode": "merge-on-read"},
    )
    t.append(spark.range(10).selectExpr("id k", "cast(id as double) v"))
    t.create_branch("stage")
    t.delete_where("k = 1", branch="stage")
    t.delete_where("k = 2", branch="stage")
    head = (t._meta.get("branches") or {})["stage"]
    assert len(t._snapshot(head).delete_files) == 2, "branch left unfolded"


def test_sql_frontend_maintenance_advice(spark, tmp_path):
    """CALL system.maintenance_advice surfaces the MoR-debt advisory
    (delete-file counts + read-amplification estimate + verdict)
    through SQL."""
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute("CREATE TABLE adv (k BIGINT, v DOUBLE) "
              "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    e.execute("INSERT INTO adv VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    e.execute("DELETE FROM adv WHERE k = 1")
    rows = e.execute("CALL system.maintenance_advice(table => 'adv')")[0].rows
    assert rows, "advisory must return at least one row"
    r = rows[0]
    assert r["delete_file_count"] >= 1
    assert r["read_amplification_est"] > 1.0
    assert r["advice"] in ("ok", "compact")


def test_position_deletes_metadata_table(mor_table, spark, tmp_path):
    """`.position_deletes` (Iceberg spec metadata table): one row per
    live tombstone — positions + owning delete file + sequence number;
    empty before any MoR delete, empty again after compaction folds
    the tombstones, and never surfaces equality deletes."""
    t = mor_table
    assert t.position_deletes().count() == 0
    t.delete_where("id < 10")                 # 10 position tombstones
    pd_rows = t.position_deletes().collect()
    assert len(pd_rows) == 10
    assert {r["pos"] for r in pd_rows} <= set(range(100))
    # tombstones record absolute data-file paths; manifests are
    # table-relative — every tombstone must point at a live data file
    data_paths = {e.path for e in t._snapshot().files}
    for r in pd_rows:
        assert any(r["file_path"].endswith(p) for p in data_paths), r
    del_paths = {d.path for d in t._snapshot().delete_files}
    assert {r["delete_file_path"] for r in pd_rows} == del_paths
    assert all(r["sequence_number"] > 0 for r in pd_rows)
    # SQL suffix surface
    from iceberg_catalog_bench_spark.engine import SqlEngine

    e = SqlEngine(spark, str(tmp_path / "wh"))
    e.execute(
        "CREATE TABLE pdm (id BIGINT, v DOUBLE) TBLPROPERTIES "
        "('write.delete.mode'='merge-on-read')")
    # unaliased: Spark names CAST(id AS DOUBLE) just `id` — positional
    # INSERT alignment must absorb the duplicate output names
    e.execute("INSERT INTO pdm SELECT id, CAST(id AS DOUBLE) FROM RANGE(20)")
    e.execute("DELETE FROM pdm WHERE id >= 15")
    rows = e.execute(
        "SELECT COUNT(*) AS n, MIN(pos) AS lo FROM pdm.position_deletes"
    )[0].rows
    assert rows[0]["n"] == 5
    # compaction folds tombstones -> the metadata table drains
    t.rewrite_data_files()
    assert t.position_deletes().count() == 0
    # equality deletes never appear (position-content only)
    t2 = LakeTable.create(
        spark, str(tmp_path / "eq"), "k bigint, v double",
        properties={"write.delete.mode": "merge-on-read"})
    t2.append(spark.range(5).selectExpr("id k", "cast(id as double) v"))
    t2.delete_by_keys(spark.createDataFrame([(1,), (2,)], "k bigint"), ["k"])
    assert t2.position_deletes().count() == 0
    assert t2.delete_files().filter("content = 'equality-deletes'").count() == 1


def test_position_deletes_single_scan_plan(mor_table):
    """Review pin: with several delete files the metadata table must
    plan ONE multi-path scan — the per-file unionByName draft built a
    plan that grew linearly with delete-file count."""
    t = mor_table
    for lo in (0, 10, 20):                      # three delete commits
        t.delete_where(f"id >= {lo} AND id < {lo + 5}")
    n_del = len([d for d in t._snapshot().delete_files
                 if d.content == "position"])
    assert n_del >= 3                       # per-partition fanout: 3×|cats|
    df = t.position_deletes()
    assert df.count() == 15
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, "one scan, not per-file"
    assert "Union" not in plan
    # every row still carries its owning file + a real sequence number
    rows = df.collect()
    assert len({r["delete_file_path"] for r in rows}) == n_del
    assert all(r["sequence_number"] > 0 for r in rows)
