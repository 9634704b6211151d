"""``_read_parquet`` gives exactly the schema ``spark.read.parquet``
infers, for every kind of file LakeTable writes, without Spark's
schema-inference job: data files of every column type family,
position-delete files and equality-delete files. A file with no Spark
row schema in its footer (pyarrow-written) still goes through Spark's
inference, and its interval micros still read back exactly."""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_catalog_bench_spark.catalog.table import (
    _SPARK_ROW_SCHEMA_KEY,
    FileEntry,
    LakeTable,
    _read_parquet,
)

DDL = ("k bigint, m map<string,int>, a array<bigint>, "
       "s struct<x:int,y:string>, d decimal(12,3), ts timestamp, "
       "tn timestamp_ntz, iv interval day to second, b binary")


@pytest.fixture()
def wide(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "w"), DDL,
                         properties={"write.delete.mode": "merge-on-read"})
    t.append(spark.sql(
        "SELECT id AS k, map('a', CAST(id AS INT)) AS m, array(id, id + 1) AS a, "
        "named_struct('x', CAST(id AS INT), 'y', CAST(id AS STRING)) AS s, "
        "CAST(id / 7 AS decimal(12,3)) AS d, "
        "TIMESTAMP'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, id) AS ts, "
        "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS tn, "
        "make_dt_interval(CAST(id AS INT), 2, 3, 4.5) AS iv, "
        "CAST(CAST(id AS STRING) AS binary) AS b FROM range(20)"))
    return t


def _abs(t, entries):
    return [os.path.join(t.path, e.path) for e in entries]


def _assert_footer_schema_exact(spark, paths):
    for p in paths:
        assert _SPARK_ROW_SCHEMA_KEY in pq.read_metadata(p).metadata
    assert _read_parquet(spark, *paths).schema == spark.read.parquet(*paths).schema
    # Spark infers from the first path in string order, whatever the
    # argument order
    assert (_read_parquet(spark, *reversed(paths)).schema
            == spark.read.parquet(*reversed(paths)).schema)


def test_data_file_schema_matches_inference(spark, wide):
    paths = _abs(wide, wide._snapshot().files)
    _assert_footer_schema_exact(spark, paths)
    got = _read_parquet(spark, *paths).schema
    assert [f.dataType.simpleString() for f in got.fields] == [
        "bigint", "map<string,int>", "array<bigint>",
        "struct<x:int,y:string>", "decimal(12,3)", "timestamp",
        "timestamp_ntz", "interval day to second", "binary"]


def test_delete_file_schemas_match_inference(spark, wide):
    wide.delete_where("k IN (1, 2)")
    wide.delete_by_keys(spark.createDataFrame([(5,), (6,)], "k bigint"),
                        on=["k"])
    dels = wide._snapshot().delete_files
    for kind in ("position", "equality"):
        paths = _abs(wide, [d for d in dels if d.content == kind])
        assert paths, kind
        _assert_footer_schema_exact(spark, paths)
    assert wide.read().count() == 16


def test_pyarrow_file_keeps_inference_and_exact_intervals(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "py"),
                         "k bigint, iv interval day to second")
    rel = "data/py-sink/part-0.parquet"
    full = os.path.join(t.path, rel)
    os.makedirs(os.path.dirname(full))
    ivs = [dt.timedelta(days=k, hours=2, seconds=4.5) for k in range(3)]
    pq.write_table(pa.table({"k": pa.array(range(3), pa.int64()),
                             "iv": pa.array(ivs, pa.duration("us"))}), full)
    assert _SPARK_ROW_SCHEMA_KEY not in (pq.read_metadata(full).metadata or {})
    inferred = spark.read.parquet(full).schema
    assert _read_parquet(spark, full).schema == inferred
    assert inferred["iv"].dataType.simpleString() == "bigint"
    t.commit_data_files([FileEntry(path=rel, rows=3,
                                   bytes=os.path.getsize(full),
                                   schema_version=0, seq=None)])
    assert [(r.k, r.iv) for r in t.read().orderBy("k").collect()] == \
        list(zip(range(3), ivs))
