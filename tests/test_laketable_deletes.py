"""Merge-on-read reads on Spark: the delete files resolved on the
driver and applied as scan filters give the rows the anti-join path
gives, and LakeTable reads run only the Spark jobs that move rows.

The table is partitioned like the reference's ``days(ts), bucket(16,
user_id)`` and holds position deletes, equality deletes on
``user_id`` and on ``(user_id, region)`` (a ``bigint, string`` key,
NULL regions among its rows), and re-inserted keys that must survive
older retractions. Each read runs under the default tombstone bound
(scan filters) and with ``_DELETE_FILTER_ROWS`` at 0 (anti-joins).
"""

import datetime
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


def test_read_matches_the_model_on_both_paths(churned, monkeypatch):
    t, _appended, _retracted = churned
    probed, joined = _both_paths(
        monkeypatch, lambda: t.read().select("user_id", "region", "amount"))
    assert probed == joined == _model()


@pytest.mark.parametrize("where", [
    "user_id IN (10, 11, 12, 20, 30, 40, 205, 250)",
    "region IS NULL",
    "ts >= '2024-01-02 00:00:00' AND ts < '2024-01-03 00:00:00'",
])
def test_scan_is_the_same_on_both_paths(churned, monkeypatch, where):
    t, _appended, _retracted = churned
    probed, joined = _both_paths(monkeypatch, lambda: t.scan(where))
    assert probed == joined
    assert sum(probed.values()) > 0


def test_time_travel_is_the_same_on_both_paths(churned, monkeypatch):
    t, appended, retracted = churned
    for sid in (appended, retracted):
        probed, joined = _both_paths(
            monkeypatch, lambda sid=sid: t.read(snapshot_id=sid))
        assert probed == joined
    assert sum(_both_paths(monkeypatch, lambda: t.read(
        snapshot_id=appended))[0].values()) == 600


def test_changelog_and_incremental_read_on_both_paths(churned, monkeypatch):
    t, appended, retracted = churned
    for start in (appended, retracted):
        probed, joined = _both_paths(monkeypatch,
                                     lambda start=start: t.changelog(start))
        assert probed == joined
        assert {c[-1] for c in probed} == {"insert", "delete"}
    first = t._snapshot(appended).parent_id
    probed, joined = _both_paths(
        monkeypatch, lambda: t.incremental_read(first, appended))
    assert probed == joined and sum(probed.values()) == 200


def test_rewrite_data_files_output_is_the_same_on_both_paths(
        spark, tmp_path, monkeypatch):
    out = {}
    for bound in (table_mod._DELETE_FILTER_ROWS, 0):
        monkeypatch.setattr(table_mod, "_DELETE_FILTER_ROWS", bound)
        t, _appended, _retracted = _build(spark, str(tmp_path / str(bound)))
        t.rewrite_data_files(min_input_files=1)
        assert not t._snapshot().delete_files
        out[bound] = Counter(
            tuple(r) for r in t.read().select("user_id", "region", "amount")
            .collect())
    assert list(out.values())[0] == list(out.values())[1] == _model()


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
