"""LakeTable runs only the Spark jobs that move rows.

Planning a read (manifest pruning, delete-file wiring, footer schemas)
and compacting any number of partition groups must not add Spark jobs:
schemas come from parquet footers (``_read_parquet``), ``bucket`` and
``identity`` values of predicate literals are computed on the driver
(``catalog/spark_xxhash.py``), and ``rewrite_data_files`` reads and
writes all groups at once (``_compact_groups``). Each test pins a job
count with the ``spark_jobs`` fixture.
"""

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog import table as table_mod
from iceberg_catalog_bench_spark.catalog.table import LakeTable

SCHEMA = "user_id bigint, ts timestamp, amount double, city string"


def _rows(spark, lo, hi, day="2024-01-01"):
    return spark.range(lo, hi).select(
        F.col("id").alias("user_id"),
        (F.lit(f"{day} 00:00:00").cast("timestamp")
         + F.make_dt_interval(F.lit(0), F.lit(0), F.col("id") % 60)).alias("ts"),
        (F.col("id") * 1.5).alias("amount"),
        F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("city"),
    )


@pytest.fixture()
def churned(spark, tmp_path):
    """A days/bucket table with position AND equality deletes, under
    the 32 files at which Spark starts listing files with a job."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         partition_by=["days(ts)", "bucket(4, user_id)"])
    t.append(_rows(spark, 0, 200))
    t.append(_rows(spark, 200, 400, day="2024-01-02"))
    first = t._snapshot().snapshot_id
    t.delete_where("user_id IN (3, 5, 250)", mode="merge-on-read")
    t.delete_by_keys(spark.createDataFrame([(7,), (300,)], "user_id bigint"),
                     on=["user_id"])
    snap = t._snapshot()
    assert {d.content for d in snap.delete_files} == {"position", "equality"}
    assert len(snap.files) + len(snap.delete_files) <= 32
    return t, first


def test_planning_reads_starts_no_job(churned, spark_jobs):
    t, first = churned
    with spark_jobs() as jobs:
        window = t.scan("ts >= '2024-01-02 00:00:00' AND user_id IN (250, 251)")
        lookup = t.scan("user_id = 251")
        past = t.read(snapshot_id=first)
        now = t.read()
    assert jobs.count == 0
    assert sorted(r.user_id for r in window.collect()) == [251]
    assert [r.user_id for r in lookup.collect()] == [251]
    assert past.count() == 400
    assert now.count() == 400 - 5


def test_bucket_in_prune_is_driver_side_and_spark_exact(spark, tmp_path,
                                                        spark_jobs,
                                                        monkeypatch):
    t = LakeTable.create(spark, str(tmp_path / "b"), SCHEMA,
                         partition_by=["bucket(16, user_id)"])
    t.append(_rows(spark, 0, 2000))
    files = t._snapshot().files
    assert len(files) == 16
    keys = [3, 17, 99, 123, 511, 777, 1024, 1500, 1999, 4321]
    where = f"user_id IN ({', '.join(map(str, keys))})"
    with spark_jobs() as jobs:
        kept = t._prune_files(files, where)
    assert jobs.count == 0
    assert 0 < len(kept) < len(files)

    # the same prune with every literal left to the Spark eval
    monkeypatch.setattr(table_mod, "_driver_transform_value",
                        lambda *_a: None)
    fresh = LakeTable.load(spark, t.path)
    with spark_jobs() as jobs:
        by_spark = fresh._prune_files(files, where)
    assert jobs.count == 1  # one 1-row eval for all ten literals
    assert [e.path for e in kept] == [e.path for e in by_spark]
    assert sorted(r.user_id for r in t.scan(where).collect()) == \
        [k for k in keys if k < 2000]


def test_literals_spark_must_cast_share_one_eval(spark, tmp_path, spark_jobs):
    t = LakeTable.create(spark, str(tmp_path / "d"),
                         "k bigint, day date, amt decimal(10,2)",
                         partition_by=["bucket(8, day)", "truncate(4, amt)"])
    t.append(spark.sql(
        "SELECT id AS k, date_add(DATE'2024-01-01', CAST(id AS INT)) AS day, "
        "CAST(id * 11.5 AS decimal(10,2)) AS amt FROM range(40)"))
    where = ("day IN ('2024-01-03', '2024-01-09', '2024-01-20') "
             "AND amt = 23.00")
    with spark_jobs() as jobs:
        kept = t._prune_files(t._snapshot().files, where)
    assert jobs.count == 1
    assert kept
    assert [r.k for r in t.scan(where).collect()] == [2]


def _grouped_table(spark, path, groups):
    t = LakeTable.create(spark, path, "id bigint, g int, v string",
                         partition_by=["g"])
    for lo in (0, 1000):
        t.append(spark.range(lo, lo + 240).selectExpr(
            "id", f"CAST(id % {groups} AS INT) AS g", "CAST(id AS STRING) AS v"))
    return t


def test_compaction_jobs_do_not_grow_with_group_count(spark, tmp_path,
                                                      spark_jobs):
    counts = {}
    for groups in (1, 12):
        t = _grouped_table(spark, str(tmp_path / f"g{groups}"), groups)
        assert len(t._snapshot().files) == 2 * groups
        with spark_jobs() as jobs:
            res = t.rewrite_data_files(min_input_files=1)
        counts[groups] = jobs.count
        assert res["added_data_files_count"] == groups
        assert t.read().count() == 480
    assert counts[12] == counts[1]
