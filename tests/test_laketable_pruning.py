"""File pruning after schema and partition evolution, on Spark.

``LakeTable.scan``/``delete_where``/``update`` and the ``laketable``
batch reader's pushdown share one pruner (``catalog/pruning.py``). It
binds stats, partition values and defaults by field id, judges a
column added after a file by its declared default, and never prunes a
float ``>``/``>=`` on stats (Spark orders NaN above every value). The
partition-source type tests pin the rule of ``overwrite_partitions``
and compaction: partition values recorded at an older type are a
different spec generation. A partition key (``_p_<transform>_<column>``)
does not spell the transform's parameter, so spec evolution refuses to
reuse a key that live files carry under other parameters.
"""

import math

import pytest
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from iceberg_catalog_bench_spark.catalog import spark_xxhash
from iceberg_catalog_bench_spark.catalog.table import LakeTable
from iceberg_catalog_bench_spark.streaming.table_source import (
    LakeTableDataSource,
)

MODES = ("copy-on-write", "merge-on-read")


def _ten_rows_four_files(spark, path):
    """A 10-row ``a int, v string`` table of 4 appends."""
    t = LakeTable.create(spark, path, "a int, v string")
    for lo, hi in ((0, 1), (1, 3), (3, 6), (6, 10)):
        t.append(spark.range(lo, hi).selectExpr(
            "CAST(id AS INT) AS a", "CAST(id AS STRING) AS v").coalesce(1))
    assert len(t._snapshot().files) == 4
    return t


def _pushdown_paths(t, ddl, *filters):
    """Data files the pushdown batch reader plans for ``filters``."""
    r = LakeTableDataSource(
        options={"path": t.path, "filter-pushdown": "true"}
    ).reader(StructType.fromDDL(ddl))
    r.pushFilters(list(filters))
    return sorted(p.abs_path for p in r.partitions())


def _scan_paths(t, where):
    return sorted(f"{t.path}/{e.path}"
                  for e in t._prune_files(t._snapshot().files, where))


@pytest.mark.parametrize("mode", MODES)
def test_column_readded_under_a_renamed_name_is_judged_by_default(
        spark, tmp_path, mode):
    t = _ten_rows_four_files(spark, str(tmp_path / "t"))
    before = t._snapshot().snapshot_id
    t.rename_column("a", "b")
    t.add_column("a", "int", 5)
    # a time-travel read names the columns as they were then
    assert t.scan("a = 7", snapshot_id=before).count() == 1
    # the old files' stats under "a" belong to the renamed column b
    assert t.read().filter("a = 5").count() == 10
    assert t.scan("a = 5").count() == 10
    assert t.scan("a = 6").count() == 0
    assert len(t._prune_files(t._snapshot().files, "a = 6")) == 0
    assert t.scan("b = 7").count() == 1
    ddl = "b int, v string, a int"
    assert len(_pushdown_paths(t, ddl, EqualTo(("a",), 5))) == 4
    assert _pushdown_paths(t, ddl, EqualTo(("a",), 6)) == []
    t.delete_where("a = 5", mode=mode)
    assert t.read().count() == 0


@pytest.mark.parametrize("mode", MODES)
def test_column_dropped_and_readded_is_judged_by_default(spark, tmp_path,
                                                         mode):
    t = _ten_rows_four_files(spark, str(tmp_path / "t"))
    t.drop_column("a")
    t.add_column("a", "int", 7)
    assert t.scan("a = 7").count() == 10
    assert t.scan("a < 7").count() == 0
    t.update({"v": "'x'"}, "a = 7", mode=mode)
    assert sorted(r.v for r in t.read().collect()) == ["x"] * 10


@pytest.mark.parametrize("rows_per_file", (1, 3))
def test_float_greater_than_keeps_nan_rows(spark, tmp_path, rows_per_file):
    """Spark orders NaN above every double, so ``x > 5`` holds for a NaN
    row, while footer stats hold NaN (``[nan, nan]`` or ``[1.0, nan]``)
    or leave it out."""
    t = LakeTable.create(spark, str(tmp_path / "t"), "k int, x double")
    xs = [1.0, 2.0, float("nan")]
    if rows_per_file == 1:
        for i, x in enumerate(xs):
            t.append(spark.createDataFrame([(i, x)], "k int, x double"))
    else:
        t.append(spark.createDataFrame(list(enumerate(xs)), "k int, x double")
                 .coalesce(1))
    stats = [e.stats["x"] for e in t._snapshot().files]
    assert any(math.isnan(v) for rng in stats for v in rng)
    for where in ("x > 5", "x >= 5", "x > 1.5 AND k >= 0"):
        assert t.scan(where).count() == t.read().filter(where).count() >= 1
    t.delete_where("x > 5", mode="merge-on-read")
    assert sorted(r.k for r in t.read().collect()) == [0, 1]


def test_bare_date_literal_on_a_timestamp_column(spark, tmp_path):
    """Spark compares ``ts = '2024-01-05'`` at midnight; the footer
    stats of a timestamp column carry a time part."""
    t = LakeTable.create(spark, str(tmp_path / "t"), "k int, ts timestamp")
    t.append(spark.sql(
        "SELECT 1 AS k, TIMESTAMP'2024-01-05 00:00:00' AS ts "
        "UNION ALL SELECT 2, TIMESTAMP'2024-01-05 08:00:00'").coalesce(1))
    for where in ("ts = '2024-01-05'", "ts <= '2024-01-05'"):
        assert t.scan(where).count() == t.read().filter(where).count() == 1


def test_literal_with_a_zone_on_a_days_partition(spark, tmp_path):
    """Spark reads ``'2024-01-05T23:30:00-05:00'`` as 2024-01-06 04:30
    UTC, in the file of the next day."""
    t = LakeTable.create(spark, str(tmp_path / "t"), "k int, ts timestamp",
                         partition_by=["days(ts)"])
    t.append(spark.sql(
        "SELECT 1 AS k, TIMESTAMP'2024-01-05 23:30:00' AS ts "
        "UNION ALL SELECT 2, TIMESTAMP'2024-01-06 04:30:00' "
        "UNION ALL SELECT 3, TIMESTAMP'2024-01-06 09:00:00'"))
    assert len(t._snapshot().files) == 2
    lit = "'2024-01-05T23:30:00-05:00'"
    for where in (f"ts = {lit}", f"ts IN ({lit})", f"ts < {lit}",
                  f"ts >= {lit}"):
        assert sorted(r.k for r in t.scan(where).collect()) == \
            sorted(r.k for r in t.read().filter(where).collect()), where
    assert [r.k for r in t.scan(f"ts = {lit}").collect()] == [2]


def test_overwrite_partitions_refuses_files_at_an_older_source_type(
        spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), "k int, v string",
                         partition_by=["bucket(4, k)"])
    t.append(spark.range(20).selectExpr("CAST(id AS INT) AS k", "'old' AS v"))
    t.alter_column_type("k", "bigint")
    with pytest.raises(ValueError, match="current spec first"):
        t.overwrite_partitions(
            spark.createDataFrame([(5, "new")], "k bigint, v string"))
    assert t.read().count() == 20
    t.overwrite(t.read())  # rewritten under the current type
    t.overwrite_partitions(
        spark.createDataFrame([(5, "new")], "k bigint, v string"))
    # the new row replaces the whole bucket it lands in
    same = {k for k in range(20) if spark_xxhash.bucket(k, "bigint", 4)
            == spark_xxhash.bucket(5, "bigint", 4)}
    assert sorted((r.k, r.v) for r in t.read().collect()) == sorted(
        [(k, "old") for k in range(20) if k not in same] + [(5, "new")])


def test_compaction_across_a_widened_partition_source(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), "k int, v string",
                         partition_by=["bucket(4, k)"])
    t.append(spark.range(20).selectExpr("CAST(id AS INT) AS k",
                                        "CAST(id AS STRING) AS v"))
    t.alter_column_type("k", "bigint")
    t.append(spark.range(20, 40).selectExpr("id AS k",
                                            "CAST(id AS STRING) AS v"))
    t.rewrite_data_files(min_input_files=1)
    assert [i for i in range(40) if t.scan(f"k = {i}").count() != 1] == []
    assert t.read().count() == 40


def test_scan_and_pushdown_reader_keep_the_same_files(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"),
                         "k int, s string, x double",
                         partition_by=["bucket(4, k)"])
    t.append(spark.range(12).selectExpr(
        "CAST(id AS INT) AS k", "concat('s', CAST(id % 5 AS STRING)) AS s",
        "CAST(id AS DOUBLE) / 2 AS x"))
    t.alter_column_type("k", "bigint")
    t.rename_column("s", "name")
    t.add_column("tag", "int", 3)
    t.append(spark.range(12, 20).selectExpr(
        "id AS k", "concat('s', CAST(id % 5 AS STRING)) AS name",
        "CAST(id AS DOUBLE) / 2 AS x", "CAST(id % 2 AS INT) AS tag"))
    ddl = "k bigint, name string, x double, tag int"
    cases = [
        ("k = 5", EqualTo(("k",), 5)),
        ("k = 15", EqualTo(("k",), 15)),
        ("k IN (1, 2, 17)", In(("k",), (1, 2, 17))),
        ("k < 4", LessThan(("k",), 4)),
        ("k >= 16", GreaterThanOrEqual(("k",), 16)),
        ("k > 100", GreaterThan(("k",), 100)),
        ("name = 's3'", EqualTo(("name",), "s3")),
        ("x <= 1.0", LessThanOrEqual(("x",), 1.0)),
        ("tag = 3", EqualTo(("tag",), 3)),
        ("tag = 1", EqualTo(("tag",), 1)),
    ]
    n = len(t._snapshot().files)
    pruned_somewhere = False
    for where, f in cases:
        kept = _scan_paths(t, where)
        assert kept == _pushdown_paths(t, ddl, f), where
        assert t.scan(where).count() == t.read().filter(where).count(), where
        pruned_somewhere |= len(kept) < n
    assert pruned_somewhere


def _bucket4_table(spark, path):
    """20 ``k int`` rows partitioned by ``bucket(4, k)``."""
    t = LakeTable.create(spark, path, "k int", partition_by=["bucket(4, k)"])
    t.append(spark.range(20).selectExpr("CAST(id AS INT) AS k"))
    return t


def _every_key_scans(spark, t, n):
    assert [k for k in range(n) if t.scan(f"k = {k}").count() != 1] == []


@pytest.mark.parametrize("route", ["replace", "drop_then_add"])
def test_partition_key_reuse_with_other_parameters_is_refused(
        spark, tmp_path, route):
    """``bucket(4, k)`` → ``bucket(8, k)`` would record mod-8 values
    under the key the mod-4 files carry; a scan then dropped 8 of 24
    keys. Both routes are refused, and the table keeps pruning right."""
    t = _bucket4_table(spark, str(tmp_path / route))
    with pytest.raises(ValueError, match="rewrite_data_files.*expire_snapshots"):
        if route == "replace":
            t.replace_partition_field("bucket(4, k)", "bucket(8, k)")
        else:
            t.drop_partition_field("bucket(4, k)")
            t.add_partition_field("bucket(8, k)")
    t.append(spark.range(20, 24).selectExpr("CAST(id AS INT) AS k"))
    _every_key_scans(spark, t, 24)


def test_partition_key_reuse_after_the_remedy(spark, tmp_path):
    """The remedy the refusal names: once no retained snapshot holds a
    file carrying the key, the new field takes it."""
    t = _bucket4_table(spark, str(tmp_path / "t"))
    t.drop_partition_field("bucket(4, k)")
    t.add_partition_field("bucket(4, k)")  # the same parameters: allowed
    t.drop_partition_field("bucket(4, k)")
    t.rewrite_data_files(min_input_files=1)
    assert [e.partition for e in t._snapshot().files if e.partition] == []
    t.expire_snapshots(retain_last=1)
    t.add_partition_field("bucket(8, k)")
    t.append(spark.range(20, 24).selectExpr("CAST(id AS INT) AS k"))
    assert {v for e in t._snapshot().files
            for v in e.partition.values()} <= {str(b) for b in range(8)}
    _every_key_scans(spark, t, 24)
