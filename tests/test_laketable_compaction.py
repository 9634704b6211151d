"""Compaction (``rewrite_data_files`` and
``rewrite_position_delete_files``, one shared ``_compact_groups`` path
that reads and writes every group at once) keeps the table's layout:
each output file lies inside one partition group and records that
group's values, rows keep their multiset and their WRITE ORDERED BY
order within a file, over-target groups split into several files, and
merge-on-read deletes fold in."""

import collections
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog.table import LakeTable

DDL = "id bigint, cat string, v double"


def _table(spark, path, sort_order=None):
    t = LakeTable.create(spark, path, DDL, partition_by=["cat", "bucket(2, id)"],
                         sort_order=sort_order)
    for lo in (0, 500, 1000):
        t.append(spark.range(lo, lo + 300).selectExpr(
            "id", "concat('c', CAST(id % 3 AS STRING)) AS cat",
            "CAST((id * 7919) % 1000 AS DOUBLE) AS v"))
    return t


def _compact(t, spark, proc, **kw):
    if proc == "rewrite_position_delete_files":
        # an equality delete of an absent key makes every file older
        # than it a candidate of the merge-on-read compactor too
        t.delete_by_keys(spark.createDataFrame([(-1,)], "id bigint"), on=["id"])
        return t.rewrite_position_delete_files()
    return t.rewrite_data_files(min_input_files=1, **kw)


def _file_rows(spark, t, e):
    """one data file's rows, in file order (read with pyarrow)"""
    tbl = pq.read_table(os.path.join(t.path, e.path))
    return [Row(**r) for r in tbl.to_pylist()]


def _by_group(spark, t):
    """partition key -> multiset of rows, read file by file"""
    out = collections.defaultdict(collections.Counter)
    for e in t._snapshot().files:
        out[tuple(sorted(e.partition.items()))].update(
            tuple(r) for r in _file_rows(spark, t, e))
    return out


PROCS = ["rewrite_data_files", "rewrite_position_delete_files"]


@pytest.mark.parametrize("proc", PROCS)
def test_groups_keep_partition_values_and_rows(spark, tmp_path, proc):
    t = _table(spark, str(tmp_path / "t"))
    before = _by_group(spark, t)
    assert len(before) == 6 and len(t._snapshot().files) == 18
    _compact(t, spark, proc)
    snap = t._snapshot()
    assert len(snap.files) == 6 and not snap.delete_files
    assert _by_group(spark, t) == before
    for e in snap.files:  # every row of a file is of its recorded group
        cats = {r.cat for r in _file_rows(spark, t, e)}
        assert cats == {e.partition["_p_identity_cat"]}


@pytest.mark.parametrize("proc", PROCS)
def test_write_ordered_by_holds_within_files(spark, tmp_path, proc):
    t = _table(spark, str(tmp_path / "t"), sort_order=["v", "id"])
    _compact(t, spark, proc)
    for e in t._snapshot().files:
        keys = [(r.v, r.id) for r in _file_rows(spark, t, e)]
        assert keys == sorted(keys) and len(keys) > 1


def test_over_target_group_splits_into_several_files(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    files = t._snapshot().files
    group_bytes = collections.Counter()
    for e in files:
        group_bytes[tuple(sorted(e.partition.items()))] += e.bytes
    # every file is under target, every group's three files are over it
    target = max(e.bytes for e in files) + 1
    assert all(b // target >= 2 for b in group_bytes.values())
    res = t.rewrite_data_files(min_input_files=1,
                               target_file_size_bytes=target)
    assert res["rewritten_data_files_count"] == 18
    out = collections.Counter(
        tuple(sorted(e.partition.items())) for e in t._snapshot().files)
    assert set(out) == set(group_bytes)
    for key, n in out.items():
        assert 1 < n <= group_bytes[key] // target, key
    assert t.read().count() == 900


@pytest.mark.parametrize("proc", PROCS)
def test_deletes_fold_in(spark, tmp_path, proc):
    t = _table(spark, str(tmp_path / "t"))
    t.delete_where("id IN (1, 2, 503)", mode="merge-on-read")
    t.delete_by_keys(spark.createDataFrame([(1000,), (1001,)], "id bigint"),
                     on=["id"])
    want = sorted(tuple(r) for r in t.read().collect())
    assert len(want) == 895
    _compact(t, spark, proc)
    snap = t._snapshot()
    assert not snap.delete_files
    assert sorted(tuple(r) for r in t.read().collect()) == want


@pytest.mark.parametrize("proc", PROCS)
def test_old_generation_groups_keep_their_keys(spark, tmp_path, proc):
    t = LakeTable.create(spark, str(tmp_path / "g"), DDL, partition_by=["cat"])
    rows = lambda lo: spark.range(lo, lo + 60).selectExpr(  # noqa: E731
        "id", "concat('c', CAST(id % 2 AS STRING)) AS cat", "CAST(id AS DOUBLE) AS v")
    t.append(rows(0))
    t.add_partition_field("bucket(2, id)")
    t.append(rows(100))
    t.append(rows(200))
    before = _by_group(spark, t)
    assert {len(k) for k in before} == {1, 2}  # both generations
    _compact(t, spark, proc)
    assert _by_group(spark, t) == before
    assert t.scan("cat = 'c1'").count() == 90
    assert t.read().agg(F.count("*")).collect()[0][0] == 180


def test_table_path_with_uri_escapes_compacts(spark, tmp_path):
    """Rows find their group by data-file path; a table path that a
    file URI percent-encodes must still match (an unmatched row fails
    the write rather than vanish)."""
    t = _table(spark, str(tmp_path / "a b%20c"))
    before = _by_group(spark, t)
    t.rewrite_data_files(min_input_files=1)
    assert len(t._snapshot().files) == 6
    assert _by_group(spark, t) == before
