"""Merge-on-read reads on Spark: the delete files resolved on the
driver and applied as scan filters give the rows the anti-join path
gives, and LakeTable reads run only the Spark jobs that move rows.

The table is partitioned like the reference's ``days(ts), bucket(16,
user_id)`` and holds position deletes, equality deletes on
``user_id`` and on ``(user_id, region)`` (a ``bigint, string`` key,
NULL regions among its rows), and re-inserted keys that must survive
older retractions. Each read runs under the default tombstone bound
(scan filters) and with ``_DELETE_FILTER_ROWS`` at 0 (anti-joins), on
the table at its own path, through a symlink and as a copy: position
deletes record absolute data-file paths, which still name the files
of a table reached under another path.
"""

import datetime
import os
import shutil
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog import table as table_mod
from iceberg_catalog_bench_spark.catalog.table import LakeTable

SCHEMA = "user_id bigint, region string, ts timestamp, amount double"
DAYS = ("2024-01-01", "2024-01-02", "2024-01-03")


def _rows(spark, lo, hi, day, amount=1.0):
    return spark.range(lo, hi).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.concat(F.lit("r"), (F.col("id") % 3).cast("string")))
        .alias("region"),
        (F.lit(f"{day} 00:00:00").cast("timestamp")
         + F.make_dt_interval(F.lit(0), F.lit(0), F.col("id") % 60))
        .alias("ts"),
        (F.col("id") * amount).alias("amount"),
    )


def _build(spark, path):
    """The table, and snapshot ids: after the appends, after the
    retractions, at the head."""
    t = LakeTable.create(spark, path, SCHEMA,
                         partition_by=["days(ts)", "bucket(16, user_id)"])
    for i, day in enumerate(DAYS):
        t.append(_rows(spark, 200 * i, 200 * i + 200, day))
    appended = t._snapshot().snapshot_id
    t.delete_where("user_id IN (3, 250, 401, 402)", mode="merge-on-read")
    t.delete_by_keys(spark.createDataFrame(
        [(10, None), (11, "r2"), (12, "r9"), (205, None)],
        "user_id bigint, region string"))
    t.upsert_by_keys(_rows(spark, 20, 24, DAYS[0], amount=-1.0),
                     on=["user_id"])
    retracted = t._snapshot().snapshot_id
    t.delete_by_keys(spark.createDataFrame([(30,), (31,)], "user_id bigint"),
                     on=["user_id"])
    t.append(_rows(spark, 30, 31, DAYS[1], amount=7.0))  # re-inserted
    t.update({"amount": "amount + 100"}, "user_id = 40", mode="merge-on-read")
    snap = t._snapshot()
    assert {d.content for d in snap.delete_files} == {"position", "equality"}
    assert len(snap.files) >= 48
    return t, appended, retracted


@pytest.fixture(scope="module")
def churned(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("deletes") / "t"))


def _elsewhere(spark, path):
    """The table at ``path`` loaded through a symlink, and a copy of
    it loaded at the copy's path."""
    link, copy = path + "-link", path + "-copy"
    os.symlink(path, link)
    shutil.copytree(path, copy)
    return [LakeTable.load(spark, link), LakeTable.load(spark, copy)]


@pytest.fixture(scope="module")
def reached(spark, churned):
    """The churned table at its own path, through a symlink and as a
    copy."""
    t = churned[0]
    return [t] + _elsewhere(spark, t.path)


def _both_paths(monkeypatch, read):
    """``read()``'s rows as a multiset under scan filters and under
    anti-joins."""
    def rows():
        return Counter(tuple(r) for r in read().collect())

    probed = rows()
    monkeypatch.setattr(table_mod, "_DELETE_FILTER_ROWS", 0)
    joined = rows()
    monkeypatch.undo()
    return probed, joined


def _model():
    """The live rows at the head, by the rules of each commit."""
    live = {}
    for i, day in enumerate(DAYS):
        for k in range(200 * i, 200 * i + 200):
            live[k] = (None if k % 5 == 0 else f"r{k % 3}", day, float(k))
    for k in (3, 250, 401, 402):
        del live[k]
    for k, region in ((10, None), (11, "r2"), (12, "r9"), (205, None)):
        if live[k][0] == region:
            del live[k]
    for k in range(20, 24):
        region, _day, amount = live[k]
        live[k] = (region, DAYS[0], -float(k))
    del live[30], live[31]
    live[30] = (None, DAYS[1], 210.0)
    region, day, amount = live[40]
    live[40] = (region, day, amount + 100)
    return Counter((k, r, a) for k, (r, _d, a) in live.items())


def test_read_matches_the_model_on_both_paths(reached, monkeypatch):
    for t in reached:
        probed, joined = _both_paths(
            monkeypatch,
            lambda: t.read().select("user_id", "region", "amount"))
        assert probed == joined == _model(), t.path


@pytest.mark.parametrize("where", [
    "user_id IN (10, 11, 12, 20, 30, 40, 205, 250)",
    "region IS NULL",
    "ts >= '2024-01-02 00:00:00' AND ts < '2024-01-03 00:00:00'",
])
def test_scan_is_the_same_on_both_paths(reached, monkeypatch, where):
    results = [_both_paths(monkeypatch, lambda t=t: t.scan(where))
               for t in reached]
    assert all(r == results[0][0] for pair in results for r in pair)
    assert sum(results[0][0].values()) > 0


def test_time_travel_is_the_same_on_both_paths(churned, reached,
                                               monkeypatch):
    _t, appended, retracted = churned
    for sid in (appended, retracted):
        results = [_both_paths(monkeypatch,
                               lambda t=t, sid=sid: t.read(snapshot_id=sid))
                   for t in reached]
        assert all(r == results[0][0] for pair in results for r in pair)
    assert sum(_both_paths(monkeypatch, lambda: reached[0].read(
        snapshot_id=appended))[0].values()) == 600


def test_changelog_and_incremental_read_on_both_paths(churned, reached,
                                                      monkeypatch):
    _t, appended, retracted = churned
    for start in (appended, retracted):
        results = [_both_paths(monkeypatch,
                               lambda t=t, start=start: t.changelog(start))
                   for t in reached]
        assert all(r == results[0][0] for pair in results for r in pair)
        assert {c[-1] for c in results[0][0]} == {"insert", "delete"}
    first = reached[0]._snapshot(appended).parent_id
    for t in reached:
        probed, joined = _both_paths(
            monkeypatch, lambda t=t: t.incremental_read(first, appended))
        assert probed == joined and sum(probed.values()) == 200


def test_rewrite_data_files_output_is_the_same_on_both_paths(
        spark, tmp_path, monkeypatch):
    """On each path, a table compacted at its own path, through a
    symlink (its target is the other build) and as a copy."""
    for bound in (table_mod._DELETE_FILTER_ROWS, 0):
        monkeypatch.setattr(table_mod, "_DELETE_FILTER_ROWS", bound)
        t, _appended, _retracted = _build(spark, str(tmp_path / str(bound)))
        other, _a, _r = _build(spark, str(tmp_path / f"{bound}-other"))
        for u in [t] + _elsewhere(spark, other.path):
            u.rewrite_data_files(min_input_files=1)
            assert not u._snapshot().delete_files
            assert Counter(
                tuple(r) for r in u.read().select(
                    "user_id", "region", "amount").collect()
            ) == _model(), (bound, u.path)


def test_compact_delete_files_through_a_symlink_keeps_live_tombstones(
        spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, v double")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)],
                                   "k bigint, v double"))
    t.delete_where("k = 1", mode="merge-on-read")
    link, _copy = _elsewhere(spark, t.path)
    assert link.compact_delete_files()["removed_dangling_rows"] == 0
    assert sorted(r.k for r in LakeTable.load(spark, t.path).read()
                  .collect()) == [2, 3]


def test_reads_run_only_the_jobs_that_move_rows(churned, spark_jobs):
    """With position and equality delete files present and more files
    than Spark lists without a job: a lookup is one job, a grouped
    window two (the shuffle map stage and the result), and a full
    count two."""
    t, _appended, _retracted = churned
    assert len(t._snapshot().files) > int(t.spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "32"))
    with spark_jobs() as jobs:
        assert t.scan("user_id = 41").collect()
    assert jobs.count == 1, jobs.sites
    with spark_jobs() as jobs:
        t.scan("ts >= '2024-01-02 00:00:00' AND ts < '2024-01-03 00:00:00'") \
            .groupBy("region").count().collect()
    assert jobs.count == 2, jobs.sites
    with spark_jobs() as jobs:
        assert t.read().count() == sum(_model().values())
    assert jobs.count == 2, jobs.sites


def test_merge_on_read_delete_runs_one_job(spark, tmp_path, spark_jobs):
    t, _appended, _retracted = _build(spark, str(tmp_path / "t"))
    with spark_jobs() as jobs:
        t.delete_where("user_id IN (41, 42, 250)", mode="merge-on-read")
    assert jobs.count == 1, jobs.sites
    assert t.scan("user_id IN (41, 42)").count() == 0


_KEYS = {
    "int": [1, -2, 2147483647, None],
    "smallint": [1, -2, None],
    "double": [1.5, -0.0, float("nan"), 1e300, None],
    "float": [0.1, 2.5, None],
    "decimal(10,2)": [Decimal("1.50"), Decimal("-0.01"), None],
    "string": ["it's", "back\\slash", "日本\n", "", None],
    "binary": [b"\x00\xff", b"", None],
    "boolean": [True, None],
    "date": [datetime.date(2024, 1, 2), datetime.date(1900, 1, 1), None],
    "timestamp": [datetime.datetime(2024, 1, 2, 3, 4, 5, 6),
                  datetime.datetime(1969, 12, 31, 23, 59, 59), None],
    "timestamp_ntz": [datetime.datetime(2024, 1, 2, 3, 4, 5, 6), None],
}


@pytest.mark.parametrize("typ", sorted(_KEYS))
def test_key_types_delete_the_same_rows_on_both_paths(spark, tmp_path,
                                                      monkeypatch, typ):
    """Every key type with a SQL literal, its edge values and NULL: the
    scan filters delete exactly the rows the ``eqNullSafe`` anti-join
    deletes."""
    vals = _KEYS[typ]
    extra = {"double": [0.0, 2.0], "boolean": [False]}.get(typ, [])
    t = LakeTable.create(spark, str(tmp_path / "t"), f"k {typ}, n int")
    rows = [(v, i) for i, v in enumerate(vals + extra)]
    t.append(spark.createDataFrame(rows, f"k {typ}, n int"))
    t.delete_by_keys(spark.createDataFrame([(v,) for v in vals[1:]],
                                           f"k {typ}"))
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # every literal rendered: the probe path
    probed, joined = _both_paths(monkeypatch, lambda: t.read().select("n"))
    assert probed == joined
    assert (0,) in probed and sum(probed.values()) < len(rows)
